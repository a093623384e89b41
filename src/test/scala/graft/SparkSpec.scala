package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Self-cleaning temp dir: repeated test runs must not accumulate
    * parquet/model/checkpoint litter in /tmp (round-6 advisor flag —
    * these dirs are outside the dead-pid sink sweeper's pattern). */
  def withTmpDir[A](prefix: String)(f: String => A): A = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try f(p.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** Fixed 4 cores whatever the machine. No GraftExtensions: the
    * golden specs compare native expressions against composed HOF
    * references, which `DotProductRewrite` would rewrite away. */
  lazy val session: SparkSession = {
    val s = Sessions.local(4, extensions = false)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

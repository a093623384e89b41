package graft.ops

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}
import org.apache.spark.JobExecutionStatus.RUNNING
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Error paths and sizing the golden specs cannot reach: Par's leg
  * cancellation and the streaming partition count. */
class OpsInfraSpec extends graft.SparkSpec {

  test("Par.map: a failing leg cancels its slow sibling's job, promptly") {
    val sc = spark.sparkContext
    def group = sc.getLocalProperty("spark.jobGroup.id")
    @volatile var slowGroup: String = null
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.map(spark, Seq(0, 1)) {
        case 0 =>
          slowGroup = group
          val ms = 60000L
          sc.parallelize(Seq(1), 1).map { x => Thread.sleep(ms); x }.count()
        case _ => // fail once the slow leg's job is running
          val until = System.nanoTime() + 20e9.toLong
          while (sc.statusTracker.getJobIdsForGroup(group).isEmpty &&
            System.nanoTime() < until) Thread.sleep(20)
          throw new IllegalStateException("leg failed")
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "leg failed", "the leg's own exception surfaces")
    assert(secs < 30, s"Par.map waited $secs s behind the slow leg")
    val jobs = sc.statusTracker.getJobIdsForGroup(slowGroup)
    assert(jobs.nonEmpty, "the slow leg's job must run under the group")
    eventually(timeout(20.seconds), interval(50.millis)) {
      assert(!jobs.exists(sc.statusTracker.getJobInfo(_)
        .exists(_.status == RUNNING)), "a job of the group is still active")
    }
  }

  test("streamParts sizes a directory of part files like one such file") {
    // sparse files: only the length matters to the sizing
    def sized(p: Path, mb: Long): Unit = {
      val f = new RandomAccessFile(p.toFile, "rw")
      try f.setLength(mb * 1024 * 1024) finally f.close()
    }
    withTmpDir("graft_stream_parts") { base =>
      val one = Files.createDirectories(Path.of(base, "file"))
      sized(one.resolve("events.parquet"), 40)
      val parts = Files.createDirectories(Path.of(base, "dir", "events.parquet"))
      sized(parts.resolve("part-00000.parquet"), 20)
      sized(parts.resolve("part-00001.parquet"), 20)
      Files.createFile(parts.resolve("_SUCCESS"))
      // 40 MB at 16 MB per partition, under the 4-core cap
      assert(Streaming.streamParts(spark, one.toString) === "3")
      assert(Streaming.streamParts(spark, s"$base/dir") === "3")
    }
  }
}

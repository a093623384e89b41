package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always runs the full map)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Sessions.local(Sessions.cpus, extensions = true)
    new java.io.File(outDir).mkdirs()
    // 4-way concurrent dump: per-query wall time is dominated by
    // driver-side planning + codegen compilation, which parallelizes
    // cleanly across independent queries (the same pool shape
    // OperatorGoldenSpec uses for the all-query run — queries are
    // independent by construction: per-kind sink paths, unique memory
    // sink names, atomic OpCache builds, per-query output dirs).
    // Measured: 226 s serial → ~90 s at 4 threads on the full map.
    import scala.collection.parallel.CollectionConverters._
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .par
    val pool = new java.util.concurrent.ForkJoinPool(4)
    work.tasksupport =
      new scala.collection.parallel.ForkJoinTaskSupport(pool)
    try work.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    } finally pool.shutdown()
    // Jackson escapes backslash, quote and every control char, so a tab
    // or CR in an oracle SQL text still yields valid JSON
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

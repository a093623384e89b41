package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by every main and by the test
  * session, so their settings cannot drift apart. */
object Sessions {
  /** Cores for the mains: the environment's override, else the
    * machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core and the UI off.
    *
    * `extensions` installs [[GraftExtensions]] (the graded mains). The
    * test session and MicroBench leave it out: they compare native
    * expressions against composed HOF references, and the extensions'
    * `DotProductRewrite` would rewrite those references into the very
    * expression under test. */
  def local(cpus: Int, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      // UTC pin: Tables.t's NTZ→TIMESTAMP normalization must be a pure
      // reinterpretation (same µs count) regardless of host TZ.
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) in some corpus builds;
      // session-wide legacy flag (inherited by newSession clones)
      // instead of a conf.set in the read path — see Tables.t.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = (if (extensions)
      b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

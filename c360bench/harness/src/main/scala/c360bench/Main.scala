package c360bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.c360bench.Bus
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, corpus: String, runDir: String, cpus: Int,
    goldens: String, record: Boolean, launchMs: Long, dump: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("corpus"), get("run-dir"),
      m.get("cpus").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      get("goldens"), m.get("record").contains("1"),
      m.get("launch-ms").map(_.toLong).getOrElse(
        ManagementFactory.getRuntimeMXBean.getStartTime),
      m.getOrElse("dump", ""))
  }
}

/** The one session every benchmark run uses: `local[cpus]` with
  * shuffle partitions = cpus, the UTC and parquet-nanos pins the corpus
  * readers rely on, the engine's extensions, and every scratch path
  * inside the run directory. */
object Session {
  def build(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cpus}]")
    .appName(s"c360bench-${a.workload}")
    .config("spark.sql.shuffle.partitions", a.cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${a.runDir}/work/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.runDir}/work/warehouse")
    .config("spark.sql.streaming.checkpointLocation",
      s"${a.runDir}/work/checkpoints")
    .getOrCreate()
}

/** Process-level readings: CPU time, peak RSS, bytes written, and the
  * machine's CPU pressure. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  private def field(file: String, key: String): Option[String] =
    try Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.stripPrefix(key).trim)
    catch { case _: java.io.IOException => None }
  def peakRssMb: Double = field("/proc/self/status", "VmHWM:")
    .map(_.stripSuffix("kB").trim.toDouble / 1024).getOrElse(0.0)
  /** Bytes passed to write(2) (`wchar`): shuffle and spill files,
    * checkpoints, table files, logs. Unlike `write_bytes` it does not
    * depend on when the page cache flushes, so it repeats exactly. */
  def writtenBytes: Long =
    field("/proc/self/io", "wchar:").map(_.toLong).getOrElse(0L)
  /** PSI "some avg10" for CPU: the share of the last 10 s in which some
    * runnable task waited for a CPU. Recorded, never acted on. */
  def cpuPressure: Double = field("/proc/pressure/cpu", "some")
    .flatMap(_.split(" ").find(_.startsWith("avg10=")))
    .map(_.stripPrefix("avg10=").toDouble).getOrElse(-1.0)

  /** A fixed CPU-bound probe whose time reflects only the machine's
    * state, not the engine: median of three runs. */
  def sentinelS: Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(Seq.fill(3)(once()))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The 90th percentile (nearest rank) and how many samples lie above
    * it. Ten samples beyond the reported percentile would need a hundred
    * operations per run; a run here has tens, so the count is recorded
    * beside the value instead. */
  def p90(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0)
    else {
      val rank = math.ceil(0.9 * s.size).toInt
      (s(rank - 1), s.size - rank)
    }
  }
}

final case class OpRun(name: String, pass: Int, seconds: Double, ok: Boolean,
    rows: Long, error: String, span: Option[Span])

final case class Pass(index: Int, traced: Boolean, wallS: Double,
    cpuS: Double, writeBytes: Long, ops: Seq[OpRun])

object Main {
  val GroupPrefix = "c360bench-op-"
  /** Input builds in set-up; `setup_s` counts their median once. */
  val SetupReps = 3
  /** Untimed passes before timing. One pass compiles the generated code
    * and, under the C1-only JIT `run.py` starts, brings every operation
    * to its steady speed: the timed passes after it agree within a few
    * percent, so time is better spent on a longer timed window. */
  val WarmPasses = 1
  /** An operation still running after this long is cancelled and failed. */
  val DeadlineS = 60


  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"c360bench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def run(a: Args): Int = {
    val workload = Workloads.named(a.workload)
    Files.createDirectories(Paths.get(a.runDir, "work"))
    val spark = Session.build(a)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val tracer = new Tracer
    val goldens = new Goldens(a.goldens, a.record)
    val meter = new Meter
    val ctx = new Ctx(spark, a, tracer, goldens, meter)
    val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "c360bench-deadline"); t.setDaemon(true); t
    }
    var seq = 0
    val failures = mutable.ArrayBuffer[String]()

    def runOp(op: Op, pass: Int): OpRun = {
      seq += 1
      val group = s"$GroupPrefix$seq"
      meter.inFlight = group
      sc.setJobGroup(group, op.name, interruptOnCancel = true)
      @volatile var late = false
      val timer = watchdog.schedule((() => {
        late = true
        sc.cancelJobGroup(group)
        spark.streams.active.foreach(_.stop())
      }): Runnable, DeadlineS.toLong, TimeUnit.SECONDS)
      val t0 = System.nanoTime()
      var span: Option[Span] = None
      val (ok, rows, err) =
        try {
          val n = tracer.span(op.name) {
            span = tracer.current
            span.foreach { s =>
              s.attrs("group") = group
              s.attrs("start_ms") = System.currentTimeMillis()
            }
            val n = op.run(ctx)
            tracer.span("opcache_clear")(graft.ops.OpCache.clear(spark))
            n
          }
          if (late) (false, n, s"missed the ${DeadlineS} s deadline")
          else (true, n, "")
        } catch {
          case e: Throwable =>
            graft.ops.OpCache.clear(spark)
            val why = if (late) s"missed the ${DeadlineS} s deadline"
              else s"${e.getClass.getSimpleName}: ${e.getMessage}"
            (false, 0L, why.take(300))
        } finally {
          timer.cancel(false)
          sc.clearJobGroup()
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (!ok) {
        failures += s"${op.name}: $err"
        System.err.println(s"c360bench: FAILED ${op.name}: $err")
      }
      span.foreach { s =>
        s.attrs("end_ms") = System.currentTimeMillis()
        s.attrs("pass") = pass
        s.attrs("ok") = ok
        s.attrs("rows") = rows
      }
      OpRun(op.name, pass, dt, ok, rows, err, span)
    }

    // ---- set-up: inputs built SetupReps times, then the warm passes ----
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      workload.buildInputs(ctx, r)
      (System.nanoTime() - t0) / 1e9
    }
    if (a.dump.nonEmpty) { dump(ctx, workload); spark.stop(); return 0 }
    val ops = workload.ops(ctx)
    val warm = (1 to WarmPasses).flatMap(_ => ops.map(runOp(_, -1)))
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - a.launchMs) / 1e3 - reps.sum + Stats.median(reps)

    // ---- timed passes ----
    val rng = new scala.util.Random(a.seed)
    val envBefore = (Proc.sentinelS, Proc.cpuPressure)
    var tap: CodegenTap = null
    val passes = mutable.ArrayBuffer[Pass]()
    val codegen = mutable.ArrayBuffer[(Long, Double)]()
    val shapes = mutable.ArrayBuffer[(Long, Double)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds || (a.trace && passes.size < 2)) {
      val traced = a.trace && passes.size % 2 == 1
      if (traced) {
        if (tap == null) tap = CodegenTap.attach()
        sc.addSparkListener(meter)
        spark.streams.addListener(meter.streams)
        meter.peakBlockBytes = 0L
      }
      tracer.enabled = traced
      val (c0, w0, p0) = (Proc.cpuS, Proc.writtenBytes, System.nanoTime())
      val (k0, m0) = if (tap != null) (tap.classes, tap.compileMs) else (0L, 0.0)
      val runs = rng.shuffle(ops).map { op =>
        val r = runOp(op, passes.size)
        if (traced) Bus.drain(sc)
        r
      }
      val pass = Pass(passes.size, traced, (System.nanoTime() - p0) / 1e9,
        Proc.cpuS - c0, Proc.writtenBytes - w0, runs)
      tracer.enabled = false
      if (traced) {
        codegen += ((tap.classes - k0, tap.compileMs - m0))
        workload.tableShape.foreach(shapes += _)
        sc.removeSparkListener(meter)
        spark.streams.removeListener(meter.streams)
      }
      passes += pass
    }
    val timedS = elapsed
    val envAfter = (Proc.sentinelS, Proc.cpuPressure)

    // ---- traced extras: generator throughput and the rows axis ----
    val genRowsPerS = if (!a.trace) 0.0 else {
      val rows = 2000000L
      val t = System.nanoTime()
      spark.read.format("graft-events").option("rows", rows)
        .option("parts", a.cpus).load().selectExpr("sum(value)").collect()
      rows / ((System.nanoTime() - t) / 1e9)
    }
    val rowsAxis = if (!a.trace) Nil else rowsAxisTable(ctx, workload,
      passes.toSeq, meter, runOp)

    // ---- report ----
    val timed = passes.toSeq.filter(p => !p.traced)
    val okRuns = timed.flatMap(_.ops).filter(_.ok)
    val attempted = seq
    val failed = failures.size
    val lat = okRuns.map(_.seconds)
    val (tailS, tailBeyond) = Stats.p90(lat)
    val perPass = (f: Pass => Double) => Stats.median(timed.map(f))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("suite_s", perPass(_.wallS), "s"),
      ("query_p50_s", Stats.median(lat), "s"),
      ("query_tail_s", tailS, "s"),
      ("cpu_s", perPass(_.cpuS), "s"),
      ("peak_rss_mb", Proc.peakRssMb, "MB"),
      ("disk_write_mb", perPass(_.writeBytes / 1e6), "MB"))
    val layers = if (a.trace)
      Layers.compute(tracer, meter, passes.toSeq, codegen.toSeq,
        shapes.toSeq, a.cpus, genRowsPerS,
        math.max(envBefore._1, envAfter._1),
        math.max(envBefore._2, envAfter._2))
    else Nil

    goldens.save()
    val rec = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "trace" -> a.trace, "seconds" -> a.seconds, "timed_s" -> timedS,
      "session_s" -> sessionS, "input_builds_s" -> reps,
      "warm_pass_s" -> warm.map(_.seconds).sum,
      "passes" -> passes.map(p => Json.obj("index" -> p.index,
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "write_bytes" -> p.writeBytes,
        "ops" -> p.ops.map(o => Json.obj("name" -> o.name,
          "s" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows)))),
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "failures" -> failures.toSeq,
      "query_tail_pct" -> 90, "query_tail_beyond" -> tailBeyond,
      "latency_samples" -> lat.size,
      "env" -> Json.obj("sentinel_before_s" -> envBefore._1,
        "sentinel_after_s" -> envAfter._1,
        "cpu_pressure_before" -> envBefore._2,
        "cpu_pressure_after" -> envAfter._2),
      "end_to_end" -> e2e.map { case (n, v, u) =>
        Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v, u) =>
        Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "count_spread" -> Layers.countSpread(tracer, meter, passes.toSeq),
      "rows_axis" -> rowsAxis)
    Files.writeString(Paths.get(a.runDir, "record.json"), Json.render(rec))
    if (a.trace) Files.writeString(Paths.get(a.runDir, "spans.json"),
      Json.render(tracer.spans.map(s => Json.obj("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_s" -> tracer.selfSeconds(s),
        "attrs" -> s.attrs.toMap)).toSeq))
    watchdog.shutdownNow()
    spark.stop()
    deleteTree(Paths.get(a.runDir, "work"))

    val shown = if (a.trace) layers else e2e
    val out = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(shown.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))
    println(Json.render(out))
    0
  }

  /** Certification input: each oracled query's result as parquet, beside
    * its oracle SQL, for `certify.py` to compare with DuckDB. */
  private def dump(ctx: Ctx, w: Workload): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val keys = w.keys.filter(oracle.contains)
    Files.createDirectories(Paths.get(ctx.args.dump))
    keys.foreach { k =>
      graft.SparkEntry.queries(k)(ctx.spark, w.queryDir(ctx)).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.args.dump}/$k")
    }
    Files.writeString(Paths.get(ctx.args.dump, "oracle_sql.json"),
      Json.render(Json.obj(keys.map(k => k -> oracle(k)): _*)))
    Files.writeString(Paths.get(ctx.args.dump, "corpus.txt"), w.queryDir(ctx))
  }

  /** Rows axis: each representative timed once more on the base corpus
    * (after a warm call), against its traced timing on the scaled
    * corpus. Two points give a fixed cost and a cost per input row. */
  private def rowsAxisTable(ctx: Ctx, w: Workload, passes: Seq[Pass],
      meter: Meter, runOp: (Op, Int) => OpRun): Seq[Any] = {
    if (w.rowsAxis.isEmpty) return Nil
    val sc = ctx.spark.sparkContext
    sc.addSparkListener(meter)
    ctx.tracer.enabled = true
    val out = w.rowsAxis.map { key =>
      val op = Workloads.query(key, _.corpus, Workloads.baseTag)
      runOp(op, -2)
      val small = runOp(op, -2)
      Bus.drain(sc)
      val smallRows = small.span.map(s =>
        meter.counters(s.attrs("group").toString).rowsIn).getOrElse(0L)
      val big = passes.filter(_.traced).flatMap(_.ops)
        .filter(o => o.name == key && o.ok)
      val bigS = Stats.median(big.map(_.seconds))
      val bigRows = big.flatMap(_.span).headOption.map(s =>
        meter.counters(s.attrs("group").toString).rowsIn).getOrElse(0L)
      val nsPerRow = if (bigRows > smallRows)
        (bigS - small.seconds) / (bigRows - smallRows) * 1e9 else 0.0
      Json.obj("query" -> key, "small_rows_in" -> smallRows,
        "small_s" -> small.seconds, "scaled_rows_in" -> bigRows,
        "scaled_s" -> bigS, "ns_per_row" -> nsPerRow,
        "fixed_s" -> (small.seconds - nsPerRow * smallRows / 1e9),
        "ok" -> (small.ok && big.nonEmpty))
    }
    ctx.tracer.enabled = false
    sc.removeSparkListener(meter)
    out
  }
}

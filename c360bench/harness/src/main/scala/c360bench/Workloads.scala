package c360bench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.LessThan
import org.apache.spark.sql.streaming.Trigger

import org.apache.spark.c360bench.Bus

import graft.SparkEntry
import graft.sources.VersionedTable

/** What an operation sees: the session, the corpus it reads, the tracer
  * and the goldens its results are checked against. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer,
    val goldens: Goldens, val meter: Meter) {
  /** The base corpus (one parquet file per table). */
  def corpus: String = args.corpus
  /** The scaled corpus, rebuilt by `scaled_rows` in setup. */
  var scaled: String = ""
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** One step of a workload. `run` returns the number of result rows. */
final case class Op(name: String, run: Ctx => Long)

trait Workload {
  def name: String
  /** The input-building part of setup; run several times, the last
    * build is the one the timed passes use. */
  def buildInputs(ctx: Ctx, rep: Int): Unit
  /** The workload's fixed membership. Each pass runs all of them, in an
    * order drawn from the seed. */
  def ops(ctx: Ctx): Seq[Op]
  /** Query keys timed on the base corpus by the traced rows-axis
    * diagnostic (empty for workloads without a rows axis). */
  def rowsAxis: Seq[String] = Nil
  /** Engine query keys among the operations, and the corpus they read. */
  def keys: Seq[String] = Nil
  def queryDir(ctx: Ctx): String = ctx.corpus
  /** Live files and bytes on disk per live byte of the workload's
    * table, if it writes one. */
  def tableShape: Option[(Long, Double)] = None
}

object Workloads {
  val all: Seq[Workload] =
    Seq(C360Features, DriverLoops, ScaledRows)

  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; one of ${all.map(_.name).mkString(", ")}"))

  /** An engine query: operator call, planning, materialising every row,
    * checking the fingerprint. Plan facts go on the operation's span. */
  def query(key: String, dir: Ctx => String, tag: Ctx => String): Op = {
    val fn = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"no engine query $key"))
    Op(key, ctx => {
      val op = ctx.tracer.current
      val df = ctx.span("build") {
        val df = fn(ctx.spark, dir(ctx))
        op.foreach { s =>
          Bus.drain(ctx.spark.sparkContext)
          s.attrs("build_jobs") =
            ctx.meter.counters(s.attrs("group").toString).jobs
        }
        df
      }
      ctx.span("plan")(df.queryExecution.executedPlan)
      val rows = ctx.span("execute")(df.collect())
      ctx.span("check")(ctx.goldens.check(s"${tag(ctx)}/$key",
        Fingerprint.of(rows)))
      op.foreach(s => PlanFacts.record(df, s.attrs))
      rows.length.toLong
    })
  }

  def touchTables(ctx: Ctx, dir: String): Unit =
    graft.Tables.all.foreach(t => graft.Tables.t(ctx.spark, dir, t).count())

  /** Base-corpus tag: the scale factor's directory name, e.g. `sf0.1`. */
  def baseTag(ctx: Ctx): String = new File(ctx.corpus).getName
}

/** Relational feature queries whose operator call runs no Spark job of
  * its own (only the parquet footer read), so their cost is planning,
  * codegen and per-job overhead. Every key has a DuckDB oracle. */
object C360Features extends Workload {
  val name = "c360_features"
  override val keys: Seq[String] = Seq(
    "q_c360_type_share", "q_c360_forecast_revenue", "q_feat_bin",
    "q_dq_expectations", "q_join_anti", "q_subquery_in", "q_set_except")
  def buildInputs(ctx: Ctx, rep: Int): Unit =
    Workloads.touchTables(ctx, ctx.corpus)
  def ops(ctx: Ctx): Seq[Op] =
    keys.map(Workloads.query(_, _.corpus, Workloads.baseTag))
}

/** Driver-loop work beside writes. The operator runs rounds of eager
  * jobs inside the operator call (an MLlib fit), work `c360_features`
  * bypasses; the `VersionedTable` loop puts commits, a merge, a delete and
  * table maintenance beside reads. */
object DriverLoops extends Workload {
  val name = "driver_loops"
  override val keys: Seq[String] = Seq("q_ml_propensity")
  def buildInputs(ctx: Ctx, rep: Int): Unit = UpsertLoop.reset(ctx, rep)
  def ops(ctx: Ctx): Seq[Op] =
    keys.map(Workloads.query(_, _.corpus, Workloads.baseTag)) ++ UpsertLoop.ops
  override def tableShape: Option[(Long, Double)] = Some(UpsertLoop.shape())
}

/** Per-row representatives on a corpus built in setup: `events` from the
  * `graft-events` source at 10x the base rows, `orders` and `lineitem`
  * replicated with offset keys, every table a multi-file directory. */
object ScaledRows extends Workload {
  val name = "scaled_rows"
  val EventsFactor = 10
  val FactCopies = 4
  override val keys: Seq[String] = Seq(
    "q_feat_pivot", "q_feat_rfm", "q_sessionize_native",
    "q_join_range_native", "q_join_asof_native")
  override def rowsAxis: Seq[String] = keys

  def buildInputs(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val base = ctx.corpus
    val out = s"${ctx.args.runDir}/work/scaled-$rep"
    Files.createDirectories(Paths.get(out))
    val parts = ctx.args.cpus
    def write(name: String, df: DataFrame): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    val t = (n: String) => graft.Tables.t(spark, base, n)
    val nEvents = t("events").count()
    val users = t("customer").count() / 10
    write("events", spark.read.format("graft-events")
      .option("rows", nEvents * EventsFactor).option("seed", 42L)
      .option("users", math.max(users, 1L)).option("parts", parts).load())
    val nOrders = t("orders").count()
    def copies(df: DataFrame, key: String): DataFrame =
      (0 until FactCopies).map(i =>
        df.withColumn(key, col(key) + lit(i * nOrders))).reduce(_ union _)
    write("orders", copies(t("orders"), "o_orderkey"))
    write("lineitem", copies(t("lineitem"), "l_orderkey"))
    graft.Tables.all.filterNot(Set("events", "orders", "lineitem"))
      .foreach(n => write(n, t(n)))
    val prev = ctx.scaled
    ctx.scaled = out
    if (prev.nonEmpty) Main.deleteTree(Paths.get(prev))
    Workloads.touchTables(ctx, out)
  }

  override def queryDir(ctx: Ctx): String = ctx.scaled
  def ops(ctx: Ctx): Seq[Op] = {
    val tag = (c: Ctx) => s"scaled-${Workloads.baseTag(c)}"
    keys.map(Workloads.query(_, queryDir, tag))
  }
}

/** Writes beside reads on one `VersionedTable`: each commit is a
  * streaming run of a fresh `graft-events` slice (seeded) appended with
  * `commitBatch`; a profile `merge`, a `deleteWhere` that slides the live
  * window, `optimize` and `vacuum` follow. After every step the snapshot
  * (and after a commit the previous version too) is read back and
  * compared with a plain in-memory model of the table. */
object UpsertLoop {
  val BatchRows = 4000
  val LiveBatches = 4
  val KeepVersions = 3
  val MergeRows = 500

  private final class State(val root: String, val ckpt: String) {
    var batch = 0
    val model = mutable.LinkedHashMap[Long, Row]()
    val versions = mutable.HashMap[Int, Fingerprint]()
  }
  private var st: State = _

  private def slice(ctx: Ctx, b: Int, stream: Boolean): DataFrame = {
    val opts = Map("rows" -> BatchRows.toString, "users" -> "500",
      "parts" -> "2", "seed" -> (ctx.args.seed * 1000003L + b).toString)
    val df =
      if (stream) ctx.spark.readStream.format("graft-events").options(opts).load()
      else ctx.spark.read.format("graft-events").options(opts).load()
    df.withColumn("event_id", col("event_id") + lit(b.toLong * BatchRows))
  }

  private def expect(ctx: Ctx, version: Int): Unit = {
    val want = Fingerprint.of(st.model.values)
    st.versions(version) = want
    val got = ctx.span("table.read")(Fingerprint.of(
      VersionedTable.read(ctx.spark, st.root).collect()))
    if (got != want)
      throw new WrongResult(s"snapshot v$version: got $got, model $want")
  }

  private def timeTravel(ctx: Ctx, version: Int): Unit =
    st.versions.get(version).foreach { want =>
      val got = ctx.span("table.read")(Fingerprint.of(VersionedTable
        .read(ctx.spark, st.root, version = Some(version)).collect()))
      if (got != want)
        throw new WrongResult(s"time travel v$version: got $got, model $want")
    }

  private def commit(ctx: Ctx): Long = {
    val b = st.batch
    st.batch += 1
    val root = st.root
    val q = ctx.span("table.commit")(slice(ctx, b, stream = true)
      .writeStream
      .option("checkpointLocation", s"${st.ckpt}/$b")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        VersionedTable.commitBatch(df, root, b.toLong, appId = "c360bench")
        ()
      }.start())
    ctx.span("table.commit")(q.awaitTermination())
    val v = VersionedTable.currentVersion(root)
    ctx.span("check") {
      slice(ctx, b, stream = false).collect()
        .foreach(r => st.model(r.getLong(0)) = r)
      expect(ctx, v)
      timeTravel(ctx, v - 1)
    }
    BatchRows.toLong
  }

  private def merge(ctx: Ctx): Long = {
    val rng = new scala.util.Random(ctx.args.seed * 31L + st.batch)
    val keys = st.model.keys.toIndexedSeq
    val picked = Iterator.continually(keys(rng.nextInt(keys.size)))
      .distinct.take(math.min(MergeRows, keys.size)).toSeq
    val updates = picked.map { k =>
      val r = st.model(k)
      Row(r.get(0), r.get(1), r.get(2), r.get(3),
        r.getDouble(4) + 1.0, r.get(5))
    }
    val df = ctx.spark.createDataFrame(updates.asJava,
      graft.sources.ActivityGenerator.Schema)
    val v = ctx.span("table.merge")(
      VersionedTable.merge(ctx.spark, st.root, df, "event_id"))
    ctx.span("check") {
      updates.foreach(r => st.model(r.getLong(0)) = r)
      expect(ctx, v)
    }
    updates.size.toLong
  }

  private def slide(ctx: Ctx): Long = {
    val low = math.max(0, st.batch - LiveBatches).toLong * BatchRows
    val gone = st.model.keys.count(_ < low)
    val v = ctx.span("table.delete")(VersionedTable.deleteWhere(ctx.spark,
      st.root, Seq(LessThan("event_id", low))))
    ctx.span("check") {
      st.model.filterInPlace((k, _) => k >= low)
      expect(ctx, v)
    }
    gone.toLong
  }

  private def optimize(ctx: Ctx): Long = {
    val v = ctx.span("table.optimize")(
      VersionedTable.optimize(ctx.spark, st.root, numFiles = 2))
    ctx.span("check")(expect(ctx, v))
    st.model.size.toLong
  }

  private def vacuum(ctx: Ctx): Long = {
    val n = ctx.span("table.vacuum")(VersionedTable.vacuum(st.root,
      KeepVersions))
    ctx.span("check")(expect(ctx, VersionedTable.currentVersion(st.root)))
    n.toLong
  }

  /** A fresh table with one committed batch. */
  def reset(ctx: Ctx, rep: Int): Unit = {
    val dir = s"${ctx.args.runDir}/work/table-$rep"
    if (st != null) Main.deleteTree(Paths.get(st.root).getParent)
    st = new State(s"$dir/table", s"$dir/checkpoints")
    commit(ctx)
  }

  val ops: Seq[Op] = Seq(
    Op("table_commit_a", commit), Op("table_commit_b", commit),
    Op("table_merge", merge), Op("table_delete_where", slide),
    Op("table_optimize", optimize), Op("table_vacuum", vacuum))

  def shape(): (Long, Double) = {
    val v = VersionedTable.currentVersion(st.root)
    val live = VersionedTable.resolveFiles(st.root, v).map(_.path)
    def size(p: String): Long = {
      val f = Paths.get(p)
      val abs = if (f.isAbsolute) f else Paths.get(st.root).resolve(f)
      if (Files.exists(abs)) Files.size(abs) else 0L
    }
    val liveBytes = live.map(size).sum
    val all = Main.treeBytes(Paths.get(st.root))
    (live.size.toLong, if (liveBytes > 0) all.toDouble / liveBytes else 0.0)
  }
}

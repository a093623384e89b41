package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy
import graft.GraftExtensions
import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy, BandJoinPlan,
  BandJoinStrategy, SessionizePlan, SessionizeStrategy}

/** Imperative twin of `graft.GraftExtensions` for sessions that are
  * already built (the extensions config is only read at build time).
  * Lives in the sql package for `sessionState` access.
  */
object GraftFunctions {
  /** Registers the functions, table functions and planner strategies
    * that `GraftExtensions` declares — never its `DotProductRewrite`,
    * which would rewrite composed HOF dot products session-wide. */
  def register(spark: SparkSession): Unit = {
    GraftExtensions.functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
    GraftExtensions.tableFunctions.foreach { case (name, build) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
    GraftExtensions.strategies.foreach(withStrategy(spark, _))
  }

  /** Adds `st` to the session's extra strategies unless it is there
    * already, so sessions built without `spark.sql.extensions` plan the
    * native operators too. */
  private def withStrategy(spark: SparkSession,
      st: SparkStrategy): classic.SparkSession = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(st))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ st
    cs
  }

  /** `p`'s column `n`, or an error naming the operator (and side). */
  private def attr(op: String, p: LogicalPlan, n: String,
      side: String = "") = {
    val where = if (side.isEmpty) "" else s"on the $side side "
    p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"$op: no column '$n' $where" +
        s"(have ${p.output.map(_.name).mkString(", ")})"))
  }

  /** Self-join hygiene: when both inputs descend from the same base
    * relation their attributes share exprIds, and a binary node with
    * duplicate ids across children is ambiguous (the analyzer's
    * DeduplicateRelations never sees a custom node) — so the right side
    * is re-aliased into fresh ids unconditionally. */
  private def freshIds(p: LogicalPlan): LogicalPlan =
    Project(p.output.map(a => Alias(a, a.name)()), p)

  /** Backward as-of join through the native operator
    * ([[graft.plans.AsOfJoinExec]]): every `left` row gains `right`'s
    * columns from the latest same-key right row strictly before its
    * timestamp (nulls when none). `key`/`ts` columns must be BIGINT on
    * both sides (see the operator scaladoc). Lives in the sql package
    * for `Dataset.ofRows` + analyzed-plan access; registers the
    * planner strategy idempotently so it works on sessions built
    * without `spark.sql.extensions`. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val spark = withStrategy(left.sparkSession, AsOfJoinStrategy)
    val lp = left.queryExecution.analyzed
    val rp = freshIds(right.queryExecution.analyzed)
    def l(n: String) = attr("asofJoin", lp, n, "left")
    def r(n: String) = attr("asofJoin", rp, n, "right")
    classic.Dataset.ofRows(spark, AsOfJoinPlan(lp, rp,
      l(leftKey), l(leftTs), r(rightKey), r(rightTs)))
  }

  /** FORWARD as-of join: every `left` row gains `right`'s columns from
    * the EARLIEST same-key right row strictly AFTER its timestamp
    * (nulls when none) — the "next event / next observation" lookup.
    * Implemented by ts-negation over the backward operator (the sort
    * order flips, strictly-before becomes strictly-after, latest
    * becomes earliest), so ONE exec covers both directions; the
    * scratch negated columns never escape. Same BIGINT contract as
    * [[asofJoin]]. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ln = s"__graft_neg_$leftTs"
    val rn = s"__graft_neg_$rightTs"
    asofJoin(left.withColumn(ln, -col(leftTs)),
        right.withColumn(rn, -col(rightTs)),
        leftKey, ln, rightKey, rn)
      .drop(ln, rn)
  }

  /** Inner BAND JOIN through the native operator
    * ([[graft.plans.BandJoinExec]]): every (`left`, `right`) pair with
    * `right.rightVal BETWEEN left.leftVal*loFactor AND
    * left.leftVal*hiFactor`. This builder constructs the bin columns —
    * the left row exploded into every fixed-width value bin its band
    * overlaps, the right row keyed by its home bin (a pair meets
    * exactly once, in the right row's home bin) — and the exec replaces
    * the composed shape's per-bin hash join + post-filter with a
    * per-bin sort-merge band sweep (see the operator scaladoc).
    * Value columns must be non-negative DOUBLEs;
    * 0 ≤ loFactor ≤ hiFactor; binWidth > 0 (≥ the widest band keeps
    * left replication ≤ 2 bins/row). */
  def bandJoin(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loFactor: Double, hiFactor: Double, binWidth: Double): DataFrame =
    bandJoinAffine(left, leftVal, right, rightVal,
      loFactor, hiFactor, 0.0, 0.0, binWidth)

  /** ADDITIVE band join — the true temporal interval join: every
    * (`left`, `right`) pair with `right.rightVal BETWEEN
    * left.leftVal+loOffset AND left.leftVal+hiOffset` (offsets in the
    * value's own unit — e.g. µs on packed time keys, with
    * `loOffset = −Δ, hiOffset = +Δ` for a symmetric ±Δ window). A
    * multiplicative band cannot express this constant-width window
    * (the factor would have to vary per row); the affine exec runs it
    * natively with factors 1. Values may be ANY doubles including
    * negatives (an equal-factor band never flips — both execs and the
    * binning handle negative values/bins); binWidth ≥
    * hiOffset−loOffset keeps left replication ≤ 2 bins per row. */
  def bandJoinOffset(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loOffset: Double, hiOffset: Double, binWidth: Double): DataFrame = {
    require(hiOffset >= loOffset,
      s"bandJoinOffset requires loOffset <= hiOffset; " +
        s"got ($loOffset, $hiOffset)")
    bandJoinAffine(left, leftVal, right, rightVal,
      1.0, 1.0, loOffset, hiOffset, binWidth)
  }

  private def bandJoinAffine(left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      loFactor: Double, hiFactor: Double,
      loOffset: Double, hiOffset: Double, binWidth: Double): DataFrame = {
    require(loFactor >= 0 && hiFactor >= loFactor && binWidth > 0,
      s"bandJoin requires 0 <= loFactor <= hiFactor and binWidth > 0; " +
        s"got ($loFactor, $hiFactor, $binWidth)")
    val spark = withStrategy(left.sparkSession, BandJoinStrategy)
    import org.apache.spark.sql.functions.{col, explode, floor, sequence}
    val lBin = "__graft_band_bin_l"
    val rBin = "__graft_band_bin_r"
    val lExp = left.withColumn(lBin, explode(sequence(
      floor((col(leftVal) * loFactor + loOffset) / binWidth).cast("long"),
      floor((col(leftVal) * hiFactor + hiOffset) / binWidth).cast("long"))))
    val rExp = right.withColumn(rBin,
      floor(col(rightVal) / binWidth).cast("long"))
    val lp = lExp.queryExecution.analyzed
    val rp = freshIds(rExp.queryExecution.analyzed)
    def l(n: String) = attr("bandJoin", lp, n, "left")
    def r(n: String) = attr("bandJoin", rp, n, "right")
    classic.Dataset.ofRows(spark, BandJoinPlan(lp, rp,
      l(lBin), l(leftVal), r(rBin), r(rightVal),
      loFactor, hiFactor, loOffset, hiOffset))
      .drop(lBin, rBin)
  }

  /** Gaps-and-islands sessionization through the native operator
    * ([[graft.plans.SessionizeExec]]): every `df` row gains a LongType
    * `outCol` — the 1-based per-`key` session ordinal, incremented
    * when the (`ts`) gap to the previous same-key row (ordered by
    * `ts`, `tie`) exceeds `gapMicros`. `key`/`ts`/`tie` must be
    * non-null BIGINT (see the operator scaladoc). Same session-state
    * answer as the lag + running-sum window composition, in one
    * streamed pass. */
  def sessionize(df: DataFrame, key: String, ts: String, tie: String,
      gapMicros: Long, outCol: String = "session_idx"): DataFrame = {
    val spark = withStrategy(df.sparkSession, SessionizeStrategy)
    val p = df.queryExecution.analyzed
    def c(n: String) = attr("sessionize", p, n)
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    classic.Dataset.ofRows(spark, SessionizePlan(p,
      c(key), c(ts), c(tie), gapMicros,
      AttributeReference(outCol, LongType, nullable = false)()))
  }
}

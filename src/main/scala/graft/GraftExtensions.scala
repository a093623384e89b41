package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions.{CosineSimF, DotProductF, ShingleGen,
  SortedIntersectCountF}
import graft.plans.{AsOfJoinStrategy, BandJoinStrategy, DotProductRewrite,
  GraftMergeStrategy, SessionizeStrategy}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available to SQL. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` (cluster-wide, no code
  * changes for users), or imperatively via
  * `org.apache.spark.sql.graft.GraftFunctions.register(spark)` for an
  * already-built session. Both read the one declaration of the surface
  * in the companion object.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import GraftExtensions._
    functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls, name), build))
    }
    tableFunctions.foreach { case (name, build) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.sources.VersionedTable", name), build))
    }
    // declarative path only: the rule rewrites composed HOF dot
    // products session-wide, so GraftFunctions.register never adds it
    ext.injectOptimizerRule(_ => DotProductRewrite)
    strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {
  /** Scalar SQL functions: (name, implementing class, builder). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("dot_product_f", classOf[DotProductF].getName,
      binary("dot_product_f", DotProductF(_, _))),
    ("cosine_sim_f", classOf[CosineSimF].getName,
      binary("cosine_sim_f", CosineSimF(_, _))),
    ("shingle_gen", classOf[ShingleGen].getName, shingleGenBuilder),
    ("sorted_intersect_count_f", classOf[SortedIntersectCountF].getName,
      binary("sorted_intersect_count_f", SortedIntersectCountF(_, _))))

  /** SQL TABLE functions over the versioned-table layer: pure-SQL
    * users get snapshot reads, time travel, and the row-level change
    * feed without touching the Scala API —
    *   SELECT * FROM graft_table('/path/to/table')
    *   SELECT * FROM graft_table('/path/to/table', 3)      -- version
    *   SELECT * FROM graft_table_changes('/path', 1, 3)    -- feed
    * Arguments must be literals (they determine the PLAN — the file
    * list is resolved at analysis time, like every table reference). */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_table" -> graftTableBuilder,
    "graft_table_changes" -> graftTableChangesBuilder)

  /** Planner strategies for the native operators, plus SQL MERGE INTO
    * over the named catalog (GraftMergeStrategy claims the resolved
    * command for graft tables before the built-in planner rejects it).
    * Each matches only its own logical node. */
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy,
    SessionizeStrategy, BandJoinStrategy, GraftMergeStrategy)

  /** Arity checked here: a bad call must fail resolution with a clear
    * message, not an IndexOutOfBoundsException from exprs(1). */
  private def binary(name: String,
      make: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => make(a, b)
    case other => throw new IllegalArgumentException(
      s"$name requires exactly 2 arguments, got ${other.length}")
  }

  /** The shingle size must be a foldable integer (it is part of the
    * plan, not a per-row value). */
  private def shingleGenBuilder: Seq[Expression] => Expression = {
    case Seq(a, kExpr) if kExpr.foldable && kExpr.eval() != null =>
      ShingleGen(a, kExpr.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException(
      "shingle_gen requires (array<string>, integer literal k)")
  }

  private def lit(e: Expression, what: String): Any = {
    require(e.foldable && e.eval() != null,
      s"$what must be a non-null literal (it determines the plan)")
    e.eval()
  }

  private def int(e: Expression, what: String): Int =
    lit(e, what).asInstanceOf[Number].intValue()

  private def active = org.apache.spark.sql.SparkSession.active

  /** `graft_table(root[, version])` — the analyzed read plan is
    * embedded directly (the file list IS plan-time state, exactly like
    * a catalog table reference). */
  private def graftTableBuilder: Seq[Expression] => LogicalPlan = {
    case Seq(root, version @ _*) if version.length <= 1 =>
      graft.sources.VersionedTable.read(active,
        lit(root, "graft_table root").toString,
        version.headOption.map(int(_, "graft_table version")))
        .queryExecution.analyzed
    case other => throw new IllegalArgumentException(
      s"graft_table requires (root[, version]), got ${other.length} args")
  }

  /** `graft_table_changes(root, fromVersion, toVersion)` — the
    * row-level change feed as a SQL table. */
  private def graftTableChangesBuilder: Seq[Expression] => LogicalPlan = {
    case Seq(root, from, to) =>
      graft.sources.VersionedTable.readChangeFeed(active,
        lit(root, "graft_table_changes root").toString,
        int(from, "fromVersion"), int(to, "toVersion"))
        .queryExecution.analyzed
    case other => throw new IllegalArgumentException(
      "graft_table_changes requires (root, fromVersion, toVersion), " +
        s"got ${other.length} args")
  }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Demonstrative optimizer rule for the extension seam: collapse nested
  * idempotent string functions — `upper(upper(x))` → `upper(x)`,
  * `lower(lower(x))` → `lower(x)`. Catalyst has no built-in rule for this
  * (ConstantFolding only fires on literal inputs), so the rewrite is
  * observable in `optimizedPlan` — ExtensionsSpec pins that it fires.
  */
object CollapseIdempotentStringFns extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Upper(Upper(c)) => Upper(c)
      case Lower(Lower(c)) => Lower(c)
    }
}

/** Mirrors the reference's ONE optimizer extension point — its `Optimizer`
  * holds a pluggable rule list (`/root/reference/src/optimizer/mod.rs:12-28`)
  * with `projection_push_down.rs:12-17` as the single registered rule.
  * Spark's counterpart is `SparkSessionExtensions`: this class is usable as
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `builder.withExtensions(new GraftExtensions)` and injects
  *   - the optimizer rule above (the seam the reference exposes),
  *   - the native AS-OF join: its parser, resolution rule and planner
  *     strategy (AsOfJoinPlan.scala, GraftSqlParser.scala),
  *   - [[SmallSortSinglePartition]], a query-stage preparation rule that
  *     gives a global sort over a small input a one-partition range
  *     exchange, so it runs no sampling job, and
  *   - `graft_dot`, `graft_bands`, `graft_cdc_chunks`, and the
  *     `graft_bloom_agg` / `graft_bloom_contains` pair as session-wide SQL
  *     functions (the
  *     reference's scalar name→function registry, `expression.rs:96-114`)
  *     so a session built with the extensions needs no imperative
  *     registerSql call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseIdempotentStringFns)
    // whole-operator seam: the native AS-OF join (logical node +
    // strategy + physical merge, AsOfJoinPlan.scala)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // SQL-syntax seam: `ASOF JOIN a KEY k TIME t TO b KEY k2 TIME t2`
    // parses to the same operator (GraftSqlParser.scala); the paired
    // resolution rule binds key/time names per side.
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => ResolveAsOfJoin)
    // physical seam: AQE runs it after EnsureRequirements on the initial
    // plan and on every re-plan
    ext.injectQueryStagePrepRule(_ => SmallSortSinglePartition)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName,
        "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes 2 array arguments")
        graft.functions.DotProduct(
          Cast(args.head, ArrayType(DoubleType)),
          Cast(args(1), ArrayType(DoubleType)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bands"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneBands].getName,
        "graft_bands"),
      (args: Seq[Expression]) =>
        graft.functions.VectorExprs.bandsFromSqlArgs(args)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
        "graft_bloom_agg"),
      (args: Seq[Expression]) => graft.functions.BloomExprs.aggBuilder(args)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
        "graft_bloom_contains"),
      (args: Seq[Expression]) =>
        graft.functions.BloomExprs.containsBuilder(args)))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName,
        "graft_simhash64"),
      (args: Seq[Expression]) =>
        graft.functions.TextExprs.simhash64Builder(args)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dhash64"),
      new ExpressionInfo(classOf[graft.functions.DHash64].getName,
        "graft_dhash64"),
      (args: Seq[Expression]) => graft.functions.ImageExprs.builder(args)))
    ext.injectFunction((
      new FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[graft.functions.CdcChunks].getName,
        "graft_cdc_chunks"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_cdc_chunks takes 1 string argument")
        graft.functions.CdcChunks(Cast(args.head,
          org.apache.spark.sql.types.StringType))
      }))
  }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions._

/** The one place the engine installs itself into a session, through
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * `graft.engine.Context.sessionConf`). Like the reference's session state,
  * which takes its functions, optimizer rules and planner extensions when
  * it is built, every session of the JVM (`newSession()` included) gets,
  * once:
  *
  * - the [[GroupedTopK]] strategy, the window top-k rewrite and its column
  *   pruning;
  * - [[SingleSplitScanStrategy]], which plans a file scan of exactly one
  *   split as one partition so that no exchange is planned above it for an
  *   aggregate, window, distinct, top-k or global sort;
  * - the eight `graft_*` SQL functions. Their Scala column builders
  *   (`VectorCosine.vecCosine` and the like) resolve through the same
  *   names, so SQL and the DataFrame API share one builder per function.
  *
  * Nothing registers at runtime: a session not built from `sessionConf` is
  * not supported. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GroupedTopKStrategy)
    ext.injectPlannerStrategy(_ => SingleSplitScanStrategy)
    ext.injectOptimizerRule(_ => RewriteWindowTopK)
    // runs inside the operator-optimization fixed point, so it alternates
    // with ColumnPruning until wide payloads are gone below the heaps
    ext.injectOptimizerRule(_ => PruneGroupedTopK)

    def function(name: String, expr: Class[_ <: Expression],
                 builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(expr.getName, name),
          builder))
    function(VectorCosine.name, classOf[VectorCosine], VectorCosine.builder)
    function(VectorDotInt.name, classOf[VectorDotInt], VectorDotInt.builder)
    function(MinHashSig.name, classOf[MinHashSig], MinHashSig.builder)
    function(UnicodeNormalize.name, classOf[UnicodeNormalize],
      UnicodeNormalize.builder)
    function(DeflateRatio.name, classOf[DeflateRatio], DeflateRatio.builder)
    function(MediaHeaders.kindName, classOf[MediaKind],
      MediaHeaders.kindBuilder)
    function(MediaHeaders.fieldName, classOf[MediaField],
      MediaHeaders.fieldBuilder)
    function(MediaHeaders.buildName, classOf[BuildMedia],
      MediaHeaders.buildBuilder)
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CountMinSketchMd5, DotProduct, TopKScored}

/** Session-extension entry point so deployments get graft's custom
  * expressions in every session without imperative registration:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * or, in graft's own entry points, [[GraftConf.session]].
  *
  * (SURVEY §2.8 / the prompt's tier-(c) registration mechanism; the
  * functions themselves stay tier-(b) expressions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // Driver-frame legs: the optimizer folds the operators over a
    // DriverRelation leaf once; the planner scans a leaf left unfolded
    // as a LocalTableScanExec, so neither starts a job.
    e.injectOptimizerRule(_ => graft.plans.FoldDriverRelation)
    e.injectPlannerStrategy(_ => graft.plans.DriverRelationStrategy)
    // Parser leg: adds `SHOW GRAFT QUERIES` (inventory introspection),
    // delegating everything else to the stock parser.
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // Hint-resolution batch: runs BEFORE the analyzer's LookupFunctions
    // sanity check, so `with_m90(c)` is rewritten away before anything
    // tries to resolve it as a function.
    e.injectHintResolutionRule(_ => graft.plans.MarginExpansionRule)
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      { exprs =>
        require(exprs.length == 2,
          s"dot_product takes exactly 2 array arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("cms_md5"),
      new ExpressionInfo(classOf[CountMinSketchMd5].getName, "cms_md5"),
      { exprs =>
        require(exprs.nonEmpty && exprs.length <= 3,
          s"cms_md5(col[, depth, width]) got ${exprs.length} args")
        def intArg(i: Int, default: Int): Int =
          if (exprs.length > i) exprs(i).eval(null).asInstanceOf[Number].intValue
          else default
        CountMinSketchMd5(exprs.head, intArg(1, 4), intArg(2, 64))
      }))
    e.injectFunction((
      FunctionIdentifier("topk_scored"),
      new ExpressionInfo(classOf[TopKScored].getName, "topk_scored"),
      { exprs =>
        require(exprs.length == 2,
          s"topk_scored(struct<double,long>_col, k) got ${exprs.length} args")
        TopKScored(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue)
      }))
    // Table-valued function leg: `SELECT * FROM frame_samples(n, k)`
    // yields the deterministic frame-sampling indices of
    // graft.operators.Multimodal as a relation.
    e.injectTableFunction((
      FunctionIdentifier("frame_samples"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "frame_samples"),
      { exprs =>
        require(exprs.length == 2, s"frame_samples(n_frames, k) got ${exprs.length} args")
        val Seq(n, k) = exprs.map(_.eval(null).asInstanceOf[Number].intValue)
        val attr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "frame_idx", org.apache.spark.sql.types.IntegerType, nullable = false)()
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          Seq(attr),
          graft.operators.Multimodal.frameSampleIndices(n, k)
            .map(i => org.apache.spark.sql.catalyst.InternalRow(i)))
      }))
  }
}

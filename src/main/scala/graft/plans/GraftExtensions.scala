package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AgmsSketch, AudioInfoExpr, CmsEstimateExpr, CmsSketch, DotProductExpr, FrequentItemsSketch, JaroWinklerExpr, MediaDimsExpr, SimhashVotes, TopKByDouble, VectorSum}

/** Session extension registering graft's native expressions as SQL
  * functions (`SELECT graft_dot(a, b)`), so pure-SQL users get the codegen
  * path too. [[graft.GraftSession]] enables it; elsewhere set
  * `spark.sql.extensions=graft.plans.GraftExtensions` or call
  * `withExtensions(new GraftExtensions)` on a session builder.
  *
  * The DataFrame API does not require this — `VectorFunctions.dotNative`
  * builds the expression directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot expects exactly 2 arguments")
        DotProductExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VectorSum].getName, "vec_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vec_sum expects exactly 1 argument")
        VectorSum(children.head).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[FrequentItemsSketch].getName, "freq_items"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "freq_items expects (column, capacity)")
        require(children(1).foldable, "freq_items capacity must be a literal")
        FrequentItemsSketch(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("media_dims"),
      new ExpressionInfo(classOf[MediaDimsExpr].getName, "media_dims"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "media_dims expects exactly 1 argument")
        MediaDimsExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("top_k_by"),
      new ExpressionInfo(classOf[TopKByDouble].getName, "top_k_by"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "top_k_by expects (value, id, k)")
        require(children(2).foldable, "top_k_by k must be a literal")
        TopKByDouble(children.head, children(1),
          children(2).eval().asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("audio_info"),
      new ExpressionInfo(classOf[AudioInfoExpr].getName, "audio_info"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "audio_info expects exactly 1 argument")
        AudioInfoExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler expects (a, b)")
        JaroWinklerExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_votes"),
      new ExpressionInfo(classOf[SimhashVotes].getName, "simhash_votes"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "simhash_votes expects (lo, hi)")
        SimhashVotes(children.head, children(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("agms_sketch"),
      new ExpressionInfo(classOf[AgmsSketch].getName, "agms_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "agms_sketch expects (key, counters)")
        require(children(1).foldable, "agms_sketch counters must be a literal")
        AgmsSketch(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketch].getName, "cms_sketch"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "cms_sketch expects (key, depth, width)")
        require(children(1).foldable && children(2).foldable,
          "cms_sketch depth/width must be literals")
        CmsSketch(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())
          .toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateExpr].getName, "cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "cms_estimate expects (sketch, key, depth, width)")
        require(children(2).foldable && children(3).foldable,
          "cms_estimate depth/width must be literals")
        CmsEstimateExpr(children.head, children(1),
          children(2).eval().asInstanceOf[Number].intValue(),
          children(3).eval().asInstanceOf[Number].intValue())
      }))
  }
}

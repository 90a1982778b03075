package graft

import graft.functions.expressions.{AsciiCaseRule, DotProductFloat, L1Float, L2SqFloat, LLMComplete, SinglePassFusion}
import graft.plans.AsOfJoinStrategy
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: sessions built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) get the engine's native
  * functions without manual registration — the deployment story for a
  * shared cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("dot_product_f"),
      info("dot_product_f", "dot_product_f(a, b) - double dot product of float vectors"),
      (es: Seq[Expression]) => DotProductFloat(es.head, es(1))))
    ext.injectFunction((FunctionIdentifier("l2_sq_f"),
      info("l2_sq_f", "l2_sq_f(a, b) - squared L2 distance of float vectors"),
      (es: Seq[Expression]) => L2SqFloat(es.head, es(1))))
    ext.injectFunction((FunctionIdentifier("l1_f"),
      info("l1_f", "l1_f(a, b) - L1 distance of float vectors"),
      (es: Seq[Expression]) => L1Float(es.head, es(1))))
    ext.injectFunction((FunctionIdentifier("llm_complete"),
      info("llm_complete", "llm_complete(prompt, clientName) - LLM completion via a registered client"),
      (es: Seq[Expression]) => LLMComplete(es.head, es(1).eval(null).toString)))
    ext.injectOptimizerRule(_ => SinglePassFusion)
    ext.injectOptimizerRule(_ => AsciiCaseRule)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

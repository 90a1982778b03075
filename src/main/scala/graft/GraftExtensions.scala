package graft

import graft.functions.expressions._
import graft.plans.AsOfJoinStrategy
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's one function registry: every native SQL function, the
  * optimizer rules and the planner strategy reach a session through this
  * SparkSessionExtensions entry point (`spark.sql.extensions=
  * graft.GraftExtensions`, or `.withExtensions(new GraftExtensions)`).
  * Operator code then calls the functions by name, e.g.
  * `expr("word_shingles(text, 3)")`. Every session the engine builds
  * comes from [[GraftExtensions.session]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, usage: String)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), build))

    fn("dot_product_f", "dot_product_f(a, b) - double dot product of float vectors")(
      es => DotProductFloat(es.head, es(1)))
    fn("l2_sq_f", "l2_sq_f(a, b) - squared L2 distance of float vectors")(
      es => L2SqFloat(es.head, es(1)))
    fn("l1_f", "l1_f(a, b) - L1 distance of float vectors")(
      es => L1Float(es.head, es(1)))
    fn("llm_complete", "llm_complete(prompt, clientName) - LLM completion via a registered client")(
      es => LLMComplete(es.head, es(1).eval(null).toString))
    fn("nfc_norm", "nfc_norm(s) - Unicode NFC normalization")(
      es => NfcNormalize(es.head))
    fn("prefix_lcp", "prefix_lcp(a, b) - longest common prefix of two ARRAY<STRING>")(
      es => PrefixLcp(es.head, es(1)))
    fn("word_shingles", "word_shingles(text, n) - distinct word n-grams of text")(
      es => WordShingles(es.head, es(1)))
    fn("minhash_sig", "minhash_sig(hashes, k) - per-slice minima of sha-256 digests")(
      es => MinHashSig(es.head, es(1)))
    fn("minhash_agg", "minhash_agg(digest) - MinHash signature aggregate")(
      es => MinHashAgg(es.head).toAggregateExpression())
    fn("hll_sketch", "hll_sketch(token) - HyperLogLog registers")(HyperLogLogAgg.build)
    fn("cms_sketch", "cms_sketch(token[, depth, width]) - Count-Min sketch")(CountMinAgg.build)
    fn("misra_gries", "misra_gries(token[, k]) - Misra-Gries heavy hitters")(MisraGriesAgg.build)
    fn("bottomk_sample", "bottomk_sample(hash, value) - bottom-k sample payloads")(
      BottomKAgg.build("bottomk_sample", pairs = false))
    fn("bottomk_pairs", "bottomk_pairs(hash, value) - bottom-k (hash, value) state")(
      BottomKAgg.build("bottomk_pairs", pairs = true))
    ext.injectOptimizerRule(_ => SinglePassFusion)
    ext.injectOptimizerRule(_ => AsciiCaseRule)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** The one session builder: `local[cores]` with as many shuffle
    * partitions, this extension loaded, UTC session time and no UI.
    * Per-run extras (log level, diagnostics confs) are set on the
    * returned session with `spark.conf.set`. */
  def session(app: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

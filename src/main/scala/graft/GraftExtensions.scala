package graft

import graft.functions.{HilbertIndex, QDotVec, QuantizeVec, TokenSeq, WordGrams, ZInterleave}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions hook: registers the engine's native
  * expressions so any session created with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can use
  * `z_interleave(a, b, c)` / `hilbert_index(a, b, c)` in SQL text —
  * the public, supported way to ship custom Catalyst expressions
  * (vs session-local temp-function registration in
  * [[graft.functions.CurveKeys.register]]). It also injects the
  * `graft.` table rules: [[graft.plans.TokenTableResolution]] (reads by
  * path, MERGE/DELETE/UPDATE) and [[graft.sql.CatalogScanRewrite]]
  * (catalog-resolved reads plan through the engine's own relation).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session =>
      graft.plans.TokenTableResolution(
        session.asInstanceOf[org.apache.spark.sql.SparkSession]))
    ext.injectOptimizerRule(session =>
      graft.sql.CatalogScanRewrite(
        session.asInstanceOf[org.apache.spark.sql.SparkSession]))
    ext.injectFunction((
      new FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[ZInterleave].getName, "z_interleave"),
      (children: Seq[Expression]) => ZInterleave(children, bitsPer = 20)))
    ext.injectFunction((
      new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (children: Seq[Expression]) => HilbertIndex(children, bitsPer = 20)))
    // Text/vector kernels: `word_grams(words, width, stride)`,
    // `qdot_vec(a, b)`, `quantize_vec(emb, scale)`,
    // `token_seq(doc_id, n_tok, vocab)`. Width/stride/scale/vocab are
    // plan-time constants (the kernels specialize their loops on them),
    // so the SQL builders require foldable int literals.
    def intLit(e: Expression, fn: String): Int = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal INT parameter, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      (children: Seq[Expression]) => WordGrams(children.head,
        intLit(children(1), "word_grams"), intLit(children(2), "word_grams"))))
    ext.injectFunction((
      new FunctionIdentifier("qdot_vec"),
      new ExpressionInfo(classOf[QDotVec].getName, "qdot_vec"),
      (children: Seq[Expression]) => QDotVec(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("quantize_vec"),
      new ExpressionInfo(classOf[QuantizeVec].getName, "quantize_vec"),
      (children: Seq[Expression]) => QuantizeVec(children.head,
        intLit(children(1), "quantize_vec"))))
    ext.injectFunction((
      new FunctionIdentifier("token_seq"),
      new ExpressionInfo(classOf[TokenSeq].getName, "token_seq"),
      (children: Seq[Expression]) => TokenSeq(children.head, children(1),
        intLit(children(2), "token_seq"))))
  }
}

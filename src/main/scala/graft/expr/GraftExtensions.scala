package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Registers the engine's native expressions, and the planner strategy that
  * fuses the word-count map side ([[TokenCountStrategy]]), with a
  * SparkSession via the public `spark.sql.extensions` mechanism — the
  * supported way to add catalyst expressions without touching Spark
  * internals from call sites.
  * Wired in [[graft.Sessions.builder]]; usable standalone with
  * `--conf spark.sql.extensions=graft.expr.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TokenCountStrategy)

    ext.injectFunction((
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"float_vec_dot expects 2 arguments, got ${children.length}")
        FloatVecDot(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("float_vec_dot_dec"),
      new ExpressionInfo(classOf[FloatVecDotDec].getName, "float_vec_dot_dec"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"float_vec_dot_dec expects 2 arguments, got ${children.length}")
        FloatVecDotDec(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"simhash60 expects 1 argument, got ${children.length}")
        SimHash60(children.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(h, Literal(n: Int, IntegerType)) => NgramHashes(h, n)
          case _ => throw new IllegalArgumentException(
            "ngram_hashes expects (array<bigint>, literal int n)")
        }
      }))

    ext.injectFunction((
      new FunctionIdentifier("winnow_mins"),
      new ExpressionInfo(classOf[WinnowMins].getName, "winnow_mins"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(h, Literal(w: Int, IntegerType)) => WinnowMins(h, w)
          case _ => throw new IllegalArgumentException(
            "winnow_mins expects (array<bigint>, literal int w)")
        }
      }))

    ext.injectFunction((
      new FunctionIdentifier("lower_tokens"),
      new ExpressionInfo(classOf[LowerTokens].getName, "lower_tokens"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(t) => LowerTokens(t, LowerTokens.Default)
          case Seq(t, Literal(ds: UTF8String, StringType)) =>
            LowerTokens(t, LowerTokens.normalize(ds.toString))
          case _ => throw new IllegalArgumentException(
            "lower_tokens expects (string[, literal string delimiters])")
        }
      }))

    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        children match {
          case Seq(h, Literal(k: Int, IntegerType)) => MinHashSig(h, k)
          case _ => throw new IllegalArgumentException(
            "minhash_sig expects (array<bigint>, literal int k)")
        }
      }))
  }
}

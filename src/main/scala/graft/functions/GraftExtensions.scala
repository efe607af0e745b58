package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Surfaces graft's custom Catalyst kernels to the SQL text front-end:
  *
  *   - `vec_dot(a, b)` — codegen'd dot product ([[VecDot]])
  *   - `text_fingerprint(s)` — positional checksum ([[PositionalFingerprint]])
  *   - `minhash_agg(h, numPerm)` — MinHash signature aggregate ([[MinHashAgg]])
  *   - `simhash_agg(h)` — SimHash aggregate ([[SimHashAgg]])
  *
  * Two install paths, same registrations:
  *   - config-based: `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (or `withExtensions(new GraftExtensions)` on the session builder,
  *     as `graft.Sessions.local` does),
  *     the standard engine-extension mechanism — survives into every new
  *     session derived from the builder;
  *   - imperative: [[GraftExtensions.register]] on a live session (tests,
  *     notebooks attached to an existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  private def intLit(e: Expression, fname: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fname expects a literal INT, got $other")
  }

  /** (identifier, doc, builder) triples in `injectFunction` shape. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("vec_dot"), info("vec_dot", classOf[VecDot]),
        (args: Seq[Expression]) => VecDot(args(0), args(1))),
      (FunctionIdentifier("text_fingerprint"),
        info("text_fingerprint", classOf[PositionalFingerprint]),
        (args: Seq[Expression]) => PositionalFingerprint(args.head)),
      (FunctionIdentifier("minhash_agg"), info("minhash_agg", classOf[MinHashAgg]),
        (args: Seq[Expression]) => MinHashAgg(args(0), intLit(args(1), "minhash_agg"))),
      (FunctionIdentifier("simhash_agg"), info("simhash_agg", classOf[SimHashAgg]),
        (args: Seq[Expression]) => SimHashAgg(args(0))))

  /** Imperative registration into a live session's function registry. */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    registrations.foreach { case (id, inf, builder) =>
      reg.registerFunction(id, inf, builder)
    }
  }
}

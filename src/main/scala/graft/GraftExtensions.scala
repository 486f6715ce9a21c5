package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.MinhashSlices

/** SparkSessionExtensions entry point: exposes the engine's custom
  * Catalyst expressions to the SQL surface, so
  * `SELECT minhash_slices(tokens, 0, 3)` works in `spark.sql` /
  * spark-sql / thrift-server sessions.
  *
  * Wire up on a session builder with:
  * {{{
  * builder.withExtensions(new GraftExtensions)
  * // or: builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"minhash_slices: $name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("minhash_slices"),
      new ExpressionInfo(classOf[MinhashSlices].getName, "minhash_slices"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => MinhashSlices(tokens, 0, 3)
        case Seq(tokens, seed) => MinhashSlices(tokens, intArg(seed, "seed"), 3)
        case Seq(tokens, seed, k) =>
          MinhashSlices(tokens, intArg(seed, "seed"), intArg(k, "shingleK"))
        case _ => throw new IllegalArgumentException(
          "minhash_slices(tokens array<string>[, seed int[, shingleK int]])")
      }))
  }
}

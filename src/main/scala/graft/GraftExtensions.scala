package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}

import graft.functions.{DotProduct, SquaredL2}

/** Spark-native installation point for the graft library: makes the
  * compiled vector expressions available to `spark.sql(...)` users, so
  * the library composes with a plain SQL deployment the idiomatic way —
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions       // spark-submit
  *   SparkSession.builder().withExtensions(new GraftExtensions)  // code
  * }}}
  *
  * Registered functions (all whole-stage-codegen, see
  * [[graft.functions.VectorExprs]]):
  *  - `graft_dot(a, b)`      — Σ aᵢ·bᵢ, elements widened to double
  *  - `graft_sql2(a, b)`     — Σ (aᵢ−bᵢ)², squared Euclidean distance
  *  - `graft_cosine(a, b)`   — graft_dot(a,b) / (‖a‖·‖b‖)
  *
  * The library's own operators call the compiled expressions directly
  * ([[graft.functions.VectorFunctions]]). This class is also where a
  * planner strategy or physical operator would be injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def binary(name: String, clazz: Class[_], usage: String)(
      build: (Expression, Expression) => Expression) = {
    // 3-arg constructor: the usage-bearing overloads are deprecated in
    // Spark 4; the docstring lives in the Scaladoc above instead
    val info = new ExpressionInfo(clazz.getName, null, name)
    val builder = (args: Seq[Expression]) => {
      if (args.length != 2)
        throw new IllegalArgumentException(
          s"$name requires exactly 2 arguments, got ${args.length}")
      build(args(0), args(1))
    }
    (FunctionIdentifier(name), info, builder)
  }

  /** (identifier, info, builder) triples for
    * [[SparkSessionExtensions.injectFunction]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    binary("graft_dot", classOf[DotProduct],
      "graft_dot(a, b) - compiled dot product over two array<float|double> columns")(
      DotProduct(_, _)),
    binary("graft_sql2", classOf[SquaredL2],
      "graft_sql2(a, b) - compiled squared L2 distance over two array<float|double> columns")(
      SquaredL2(_, _)),
    binary("graft_cosine", classOf[DotProduct],
      "graft_cosine(a, b) - cosine similarity dot(a,b)/(norm(a)*norm(b))")(
      (a, b) => Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))),
  )
}

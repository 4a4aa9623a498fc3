package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[GraftExtensions]]: SQL-registered compiled vector functions and
  * the HOF→compiled dot-product rewrite
  * ([[graft.plans.RewriteHofVectorFold]]). The shared test session is
  * built `.withExtensions(new GraftExtensions)` — the same installation
  * a spark-submit deployment gets from `spark.sql.extensions`. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sql_functions_registered_and_codegen_exact") {
    val row = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       graft_sql2(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS s,
        |       graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c
        |""".stripMargin).head()
    assert(row.getDouble(0) == 32.0)
    assert(row.getDouble(1) == 25.0)
    assert(row.getDouble(2) == 1.0)
    // float input widens per element, same as the Column API path
    val f = Seq((Array(1.5f, 2.5f), Array(2.0f, 4.0f))).toDF("a", "b")
    f.createOrReplaceTempView("ext_vecs")
    assert(spark.sql("SELECT graft_dot(a, b) FROM ext_vecs").head().getDouble(0) == 13.0)
  }

  test("sql_function_wrong_arity_rejected") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("argument"))
  }

  test("hof_dot_shape_rewritten_to_compiled_expression") {
    // range-based (not a LocalRelation: ConvertToLocalRelation would
    // fold the whole projection away before the plan can be inspected)
    val df = spark.range(2).select(
      array((col("id") + 1).cast("float"), lit(2.0f), lit(3.0f)).as("a"),
      array(lit(4.0f), lit(5.0f), (col("id") * 2).cast("float")).as("b"))
    // the natural user formulation: interpreted HOF fold with explicit
    // double widening — exactly the shape SimilarityOps used to ship
    val hof = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v).as("dot"))
    val optimized = hof.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.DotProduct])),
      s"expected DotProduct in optimized plan:\n$optimized")
    assert(hof.as[Double].collect().toSeq == Seq(14.0, 24.0))
  }

  test("hof_rewrite_preserves_null_and_length_semantics") {
    // unequal lengths: zip_with pads with null -> whole fold is null;
    // the rewritten guard must reproduce that
    val uneq = spark.range(1).select(
      array(col("id").cast("double"), lit(2.0), lit(3.0)).as("a"),
      array(col("id").cast("double"), lit(2.0)).as("b"))
      .select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("dot"))
    assert(uneq.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.DotProduct])))
    assert(uneq.head().isNullAt(0))
    // null array -> null out
    val nullArr = spark.sql(
      """SELECT aggregate(zip_with(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D),
        |  (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) AS dot""".stripMargin)
    assert(nullArr.head().isNullAt(0))
  }

  // BinaryVectorFold nulls the result on a null ELEMENT even when both
  // array inputs are non-nullable — without `nullable = true` codegen
  // pins isNull to a FalseLiteral and the generated `isNull = true`
  // references an undeclared variable (janino failure), while the
  // interpreted fallback hands null to a non-nullable projection slot
  test("vector_fold_null_element_is_null_not_a_crash") {
    import graft.functions.VectorFunctions
    val out = spark.range(1).select(
      array(lit(1.0), lit(null).cast("double")).as("a"),
      array(lit(2.0), lit(3.0)).as("b"))
      .select(VectorFunctions.dotProduct(col("a"), col("b")).as("d"),
        VectorFunctions.squaredL2(col("a"), col("b")).as("l2"))
      .head()
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("hof_squared_l2_shape_rewritten_and_negated_diff_left_alone") {
    val df = spark.range(2).select(
      array((col("id") + 1).cast("double"), lit(3.0)).as("a"),
      array(lit(4.0), (col("id") * 2).cast("double")).as("b"))
    val l2 = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v).as("d"))
    assert(l2.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.SquaredL2])))
    // id=0: (1-4)^2 + (3-0)^2 = 18; id=1: (2-4)^2 + (3-2)^2 = 5
    assert(l2.as[Double].collect().toSeq == Seq(18.0, 5.0))
    // (x-y)*(y-x) is the NEGATED square — must not be rewritten
    val neg = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (y - x)),
      lit(0.0), (acc, v) => acc + v).as("d"))
    assert(!neg.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.SquaredL2])))
    assert(neg.as[Double].collect().toSeq == Seq(-18.0, -5.0))
  }

  test("hof_rewrite_skips_float_precision") {
    // bare float*float rounds per element — NOT the same arithmetic;
    // the rule must leave it interpreted rather than change results
    val df = spark.range(1).select(
      array(col("id").cast("float"), lit(2.2f)).as("a"),
      array(lit(3.3f), lit(4.4f)).as("b"))
    val floatMul = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("dot"))
    assert(!floatMul.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.DotProduct])))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[GraftExtensions]]: SQL-registered compiled vector functions, and
  * the compiled folds' null semantics. The shared test session is
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
}

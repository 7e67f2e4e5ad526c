package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The native dot product must agree bit-for-bit with the zip_with +
  * aggregate formulation it replaces, and must compile under codegen
  * (fallback disabled — a janino failure fails the suite instead of
  * silently interpreting).
  */
class VecExpressionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SparkTestBase.strictCodegen()

  test("vec_dot is bit-identical to the zip_with/aggregate formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val df = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat()))
    }.toDF("id", "a", "b")
    val compared = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotDeclarative(col("a"), col("b")).as("declarative"))
      .where(col("native") =!= col("declarative"))
    assert(compared.count() == 0)
  }

  test("vec_dot handles mixed float/double sides and preserves nulls") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 0.5, 1.0))).toDF("f", "d")
    val r = df.select(
      Similarity.dot(col("f"), col("d")).as("fd"),
      Similarity.dot(col("d"), col("f")).as("df"),
      Similarity.dot(col("d"), col("d")).as("dd"),
      Similarity.dot(lit(null).cast("array<float>"), col("f")).as("n")).head()
    assert(r.getDouble(0) == 6.0 && r.getDouble(1) == 6.0)
    assert(r.getDouble(2) == 5.25)
    assert(r.isNullAt(3))
  }

  test("vec_dot is SQL-callable and rejects bad inputs clearly") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d").head()
    assert(r.getDouble(0) == 11.0)
    // wrong element type fails at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1, 2), array(3, 4))").head()
    }
    // mismatched lengths fail at runtime with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0F), array(1.0F, 2.0F))").head()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("mismatched vector lengths")))
  }
}

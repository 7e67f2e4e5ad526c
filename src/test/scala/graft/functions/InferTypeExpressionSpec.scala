package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class InferTypeExpressionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SparkTestBase.strictCodegen()

  test("native infer_type agrees with the declarative chain on every case") {
    import spark.implicits._
    val values = Seq(
      null, "", "0", "007", "12345678901234567890123", "-7", "+7", "1.5",
      "0.0", "1e5", "-1.5", "1.", ".5", "2020-01-02", "2020-13-02",
      "2020-01-32", "2020-02-30", "2020-01-02 10:11", "2020-01-02 10:11:12",
      "2020-01-02 25:11", "2020-01-02 10:61", "2020-01-02T10:11",
      "true", "TRUE", "False", "yes", "²", "hello", "1.2.3", "a-b", "  ")
    val df = values.toDF("v")
      .withColumn("declarative", TypeInference.inferType(col("v")))
      .withColumn("native", expr("infer_type(v)"))
    val bad = df.where(col("declarative") =!= col("native")).collect()
    assert(bad.isEmpty, bad.map(r => s"'${r.get(0)}': decl=${r.get(1)} native=${r.get(2)}").mkString(", "))
  }

  test("infer_type is available through SQL via the session extension") {
    val r = spark.sql("SELECT infer_type('2020-01-02') AS t, infer_type('-7') AS s").head()
    assert(r.getString(0) == "date")
    assert(r.getString(1) == "string")
  }

  test("native expression participates in codegen (no fallback plan nodes)") {
    // literals would be constant-folded into a LocalTableScan (the
    // expression is foldable — itself worth having); a parquet scan
    // forces a runtime plan
    val df = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select(expr("infer_type(cast(p_partkey AS STRING))").as("t"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[infer_type.*"), plan)
    assert(df.where(col("t") === "integer").count() == 200)
  }
}

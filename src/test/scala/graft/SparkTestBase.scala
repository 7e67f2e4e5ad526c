package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.shared()
}

object SparkTestBase {
  def shared(): SparkSession = Session.build("local[4]", 4)

  /** A `newSession()` child of the shared session that fails hard when
    * generated code does not compile: a plan-string match alone passes
    * even when janino rejects the emitted source and Spark silently
    * falls back to interpreted eval.
    */
  def strictCodegen(): SparkSession = {
    val s = shared().newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
}

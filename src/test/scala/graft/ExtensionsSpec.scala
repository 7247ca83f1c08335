package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** `functions.native.registerAll`: native functions resolvable by name
  * from plain SQL. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = TestSpark.spark.newSession() // fresh session state, same context
    graft.functions.native.registerAll(s)
    s
  }

  test("graft_dot callable from SQL") {
    val v = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(v == 11.0)
  }

  test("min_rolling_hash callable from SQL with python-verified value") {
    val v = spark.sql(
      "SELECT min_rolling_hash('hello world rolling hash', 8) AS fp")
      .collect().head.getLong(0)
    assert(v == 984859969061L)
  }

  test("walsh_sign_bits callable from SQL") {
    // plane 0 flips odd indices: [1,0] -> +1 (bit0 set); plane 1 flips
    // indices 2,3 (absent) -> +1 (bit1 set); packed = 3
    val v = spark.sql(
      "SELECT walsh_sign_bits(array(1.0d, 0.0d), 2) AS b")
      .collect().head.getInt(0)
    assert(v == 3)
  }

  test("type errors surface as analysis errors, not runtime failures") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<double>"))
  }
}

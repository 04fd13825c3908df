package graft

import graft.plans.{GraftFunctions, RollingHash}
import org.apache.spark.sql.functions._

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  test("rolling_hash matches the reference implementation (codegen path)") {
    val inputs = Seq("", "a", "abc", "the quick brown fox", "κλμ unicode ✓")
    GraftFunctions.register(spark)
    val df = inputs.toDF("s")
      .select(col("s"), call_function("rolling_hash", col("s")).as("h"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == RollingHash.hash(s.getBytes("UTF-8")), s"mismatch for '$s'")
    }
  }

  test("rolling_hash is usable from SQL after registration") {
    GraftFunctions.register(spark)
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect()(0).getLong(0)
    assert(h == RollingHash.hash("abc".getBytes("UTF-8")))
    // polynomial property: h("abc") = (h("ab")*31 + 'c') mod M
    val hab = RollingHash.hash("ab".getBytes("UTF-8"))
    assert(h == (hab * 31 + 'c'.toInt) % RollingHash.Mod)
  }

  test("rolling_hash differs for permuted content (order-sensitive, unlike bag hashes)") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT rolling_hash('ab cd') AS a, rolling_hash('cd ab') AS b")
      .collect()(0)
    assert(r.getLong(0) != r.getLong(1))
  }

  test("null passthrough") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT rolling_hash(CAST(NULL AS STRING))").collect()(0).isNullAt(0))
  }
}

package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.{PropSupport, SparkSupport}

/** The native expression must be bit-identical to the composed
  * `conv(substring(md5(s),1,8),16,10)` path — and stay inside
  * whole-stage codegen.
  */
class Hash32ExpressionSpec extends AnyFunSuite with SparkSupport with PropSupport {

  test("native graft_hash32 equals the composed md5-derived hash on arbitrary strings") {
    // on the reference clone, so the composed column stays composed
    import composed.implicits._
    forAllSamples(Gen.listOfN(50, Gen.asciiPrintableStr), n = 4) { strings =>
      val df = (strings :+ "" :+ "äöü unicode ✓").toDF("s")
        .withColumn("composed", TextFunctions.hash32(col("s")))
        .withColumn("native", call_function("graft_hash32", col("s")))
      assert(df.filter($"composed" =!= $"native").count() == 0)
    }
  }

  test("the expression is codegen'd (no interpreted fallback) and registered in SQL") {
    import spark.implicits._
    // parquet-backed input: a literal Seq constant-folds into a
    // LocalTableScan before codegen ever runs
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(call_function("graft_hash32", $"text").as("h"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*("), s"expected whole-stage codegen in:\n$plan")
    // SQL-text resolution through the registered identifier
    Seq("x").toDF("s").createOrReplaceTempView("h32_probe")
    assert(spark.sql("SELECT graft_hash32(s) AS h FROM h32_probe").head.getLong(0) ==
      GraftHashUtil.hash32(org.apache.spark.unsafe.types.UTF8String.fromString("x")))
  }

  test("optimizer rule rewrites the composed md5 pattern to the native expression, results unchanged") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text", TextFunctions.hash32($"text").as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("graft_hash32"),
      s"expected the rewrite in:\n$optimized")
    df.limit(20).collect().foreach { r =>
      val expected = GraftHashUtil.hash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))
      assert(r.getLong(1) == expected)
    }
    // the reference clone keeps the composed form, with equal values
    val ref = composed.read.parquet(df.inputFiles: _*)
      .select(col("text"), TextFunctions.hash32(col("text")).as("h"))
    val refPlan = ref.queryExecution.optimizedPlan.toString()
    assert(!refPlan.contains("graft_hash32") && refPlan.contains("md5"), refPlan)
    assert(ref.collect().toSet == df.collect().toSet)
  }

  test("wrong arity surfaces a clear message, not builder internals (r10 review)") {
    val e1 = intercept[Exception] { spark.sql("SELECT graft_hash32()").collect() }
    assert(e1.getMessage.contains("requires exactly 1 argument"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(e2.getMessage.contains("requires exactly 2 arguments"), e2.getMessage)
  }

  test("type check rejects non-string input") {
    import spark.implicits._
    assertThrows[Exception] {
      Seq(1L).toDF("n").select(call_function("graft_hash32", $"n")).collect()
    }
  }
}

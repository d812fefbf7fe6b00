package graft.catalog

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSupport
import graft.util.Jobs

/** How the warehouse learns a table's schema and replaces a table: a
  * parquet table reads with its footer schema (no inference job, for any
  * instance), and a replacement is the crash-safe swap, so a failed
  * write leaves the table as it was.
  */
class WarehouseSpec extends AnyFunSuite with SparkSupport {

  import spark.implicits._

  test("a fresh Warehouse reads a manifested table and plans a pruned scan with no Spark job") {
    val dir = tmpDir("wh-fresh")
    val writer = new Warehouse(dir)
    (0 until 4).foreach(i => writer.append(spark.range(i * 100L, i * 100L + 100L)
      .select($"id".as("x"), ($"id" % 7).as("y")).coalesce(1), "t"))
    writer.refreshStats(spark, "t", Seq("x"))

    val group = "warehouse-fresh-probe"
    val probe = Jobs.Trace(spark, Some(group))
    val fresh = new Warehouse(dir)
    val (schema, scan) = try {
      val got = Jobs.grouped(spark, group) {
        (fresh.read(spark, "t").schema,
          fresh.statsPrunedScan(spark, "t", Seq(("x", 120L, 180L))))
      }
      val jobs = probe.drain().jobs
      assert(jobs.isEmpty, s"ran ${jobs.size} jobs: ${jobs.map(_.site).mkString(", ")}")
      got
    } finally probe.close()
    assert(schema == spark.read.parquet(s"$dir/t").schema)
    assert(scan.scheduled == 1 && scan.total == 4)
    assert(scan.frame.as[(Long, Long)].collect().map(_._1).sorted.toSeq == (120L to 180L))
  }

  test("read declares the schema Spark infers, nested types included") {
    val wh = new Warehouse(tmpDir("wh-nested"))
    wh.append(spark.range(3).select($"id", expr("named_struct('a', id, 'b', array(id))").as("s"),
      expr("map(id, array(named_struct('c', id)))").as("m")), "n")
    assert(wh.read(spark, "n").schema == spark.read.parquet(s"${wh.dir}/n").schema)
    assert(wh.read(spark, "n").count() == 3)
  }

  test("replace of a frame that fails in a task leaves the table as it was") {
    val wh = new Warehouse(tmpDir("wh-replace-fail"))
    val failing = spark.range(4).select($"id", expr("assert_true(id < 2)").as("ok"))
    intercept[Exception](wh.replace("t", failing))
    assert(!wh.exists(spark, "t"), "a failed replace of an absent table must leave no table")
    wh.replace("t", spark.range(3).toDF("id"))
    intercept[Exception](wh.replace("t", failing))
    assert(wh.read(spark, "t").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("a parquet table with no data files fails at read") {
    val wh = new Warehouse(tmpDir("wh-nofiles"))
    Files.createDirectories(Paths.get(wh.dir, "empty"))
    Files.createFile(Paths.get(wh.dir, "empty", "_SUCCESS"))
    assert(wh.exists(spark, "empty"))
    intercept[java.io.FileNotFoundException](wh.read(spark, "empty"))
    intercept[java.io.FileNotFoundException](wh.read(spark, "missing"))
  }
}

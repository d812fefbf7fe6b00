package graft.catalog

import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Service
import graft.model._
import graft.testkit.SparkSupport
import graft.util.Jobs

/** The driver-side parquet reader: it must see what `spark.read.parquet`
  * sees (listing, schema, rows) without running a Spark job, and the
  * service start built on it must run none either.
  */
class DriverParquetSpec extends AnyFunSuite with SparkSupport {

  private val testdata = "/root/testdata/sf0.001"

  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("Service.loadConfig and Tables.registerAll run no Spark job") {
    import spark.implicits._
    val dir = tmpDir("dp-config")
    Seq(WorkflowRow(1, 100, 10L, None, "wf",
      uebernahmeVon = Some(LocalDateTime.of(1990, 1, 1, 0, 0)), uebernahmeBis = None,
      uebernahmeTageRueckwirkend = None, parallelsperre = false, istAktiv = true))
      .toDS().write.parquet(s"$dir/workflows")
    Seq(PaketRow(10L, "pkg", parallelsperre = false, istAktiv = true))
      .toDS().write.parquet(s"$dir/pakete")
    // a pre-r10 snapshot shape: the backfill path must stay job-free too
    Seq(PaketUmsetzungRow(1, 10L, 100L, 1, None)).toDS().drop("istAktiv")
      .write.parquet(s"$dir/paket_umsetzungen")
    Seq(KonfigurationsparameterRow("Anzahl_ETL_Threads", "3"))
      .toDS().write.parquet(s"$dir/konfigurationsparameter")

    // jobs this thread starts in the probe group, counted exactly: the
    // trace drains the async listener bus before it is read
    val group = "driver-parquet-probe"
    val probe = Jobs.Trace(spark, Some(group))
    var cfg: ConfigSet = null
    try {
      // the probe counts: the inference job of a plain read shows up
      Jobs.grouped(spark, group)(spark.read.parquet(s"$dir/workflows").schema)
      assert(probe.drain().jobs.nonEmpty)
      probe.reset()
      Jobs.grouped(spark, group) {
        cfg = Service.loadConfig(spark, dir)
        Tables.registerAll(spark, testdata)
      }
      assert(probe.drain().jobs.isEmpty)
    } finally probe.close()
    assert(cfg.workflows.map(_.etlWorkflowId) == Seq(1))
    assert(cfg.workflows.head.uebernahmeVon.contains(LocalDateTime.of(1990, 1, 1, 0, 0)))
    assert(cfg.paketUmsetzungen.size == 1 && cfg.paketUmsetzungen.forall(_.istAktiv))
    assert(cfg.konfigurationsparameter == Seq(KonfigurationsparameterRow("Anzahl_ETL_Threads", "3")))
    assert(cfg.schritte.isEmpty, "a missing table loads empty")
    assert(spark.table("region").count() == 5)
  }

  test("schema equals Spark's inference on every testdata table") {
    Tables.all.foreach { t =>
      val p = s"$testdata/$t.parquet"
      assert(DriverParquet.schema(spark, p) == spark.read.parquet(p).schema, t)
    }
  }

  test("a written directory: _SUCCESS and .crc skipped, every part file read") {
    import spark.implicits._
    val p = s"${tmpDir("dp-parts")}/t"
    val df = (1 to 40).map(i => (i.toLong, s"s$i", if (i % 7 == 0) None else Some(i * 0.5)))
      .toDF("id", "s", "d")
    df.repartition(3).write.parquet(p)
    val names = new java.io.File(p).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val files = DriverParquet.files(spark, p)
    assert(files.size == 3 && files.forall(_.getPath.getName.startsWith("part-")))
    // the footer keeps `id` required; the file source then marks every
    // field nullable, declared or inferred alike
    assert(!DriverParquet.schema(spark, p)("id").nullable)
    assert(spark.read.schema(DriverParquet.schema(spark, p)).parquet(p).schema ==
      spark.read.parquet(p).schema)
    val rows = DriverParquet.rows(spark, p)
    assert(rows.size == 40)
    assert(multiset(rows) == multiset(spark.read.parquet(p).collect().toSeq))
    assert(multiset(DriverParquet.table(spark, p).collect().toSeq) == multiset(rows))
    // a narrowed read: only the asked columns, a missing one reads null
    val narrow = DriverParquet.rows(spark, p, Some(StructType(Seq(
      StructField("id", LongType), StructField("absent", LongType)))))
    assert(narrow.map(_.getLong(0)).sorted == (1L to 40L))
    assert(narrow.forall(r => r.length == 2 && r.isNullAt(1)))
  }

  test("a TIMESTAMP_NTZ column keeps its type and values") {
    import spark.implicits._
    val p = s"${tmpDir("dp-ntz")}/t"
    val ts = Seq(LocalDateTime.of(1996, 2, 29, 23, 59, 59, 123456000),
      LocalDateTime.of(2026, 1, 1, 0, 0))
    ts.zipWithIndex.toDF("ts", "i").write.parquet(p)
    assert(DriverParquet.schema(spark, p)("ts").dataType == TimestampNTZType)
    assert(DriverParquet.rows(spark, p).map(_.getAs[LocalDateTime]("ts")).sorted == ts.sorted)
  }

  test("a non-parquet file throws; a missing path lists nothing and throws on read") {
    val dir = tmpDir("dp-torn")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.parquet"), "not parquet")
    assert(DriverParquet.files(spark, dir).size == 1)
    intercept[RuntimeException](DriverParquet.schema(spark, dir))
    intercept[RuntimeException](DriverParquet.rows(spark, dir))
    val missing = s"$dir/absent"
    assert(DriverParquet.files(spark, missing).isEmpty)
    intercept[java.io.FileNotFoundException](DriverParquet.schema(spark, missing))
  }
}

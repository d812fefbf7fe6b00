package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSupport
import graft.util.{Jobs, TempDirs}

/** One row of [[WarehouseDeleteSpec]]'s tables: `run` and `tag` are
  * constant per file, the other columns constant or mixed per file, with
  * NULLs in `k` and NaN in `v`. */
final case class DeleteRow(id: Long, run: Int, tag: String, k: Option[Long],
    s: Option[String], d: Date, ts: Timestamp, amt: BigDecimal, v: Double)

/** `Warehouse.deleteWhere`'s file-granular path: each part file decided
  * from its footer statistics is dropped whole or carried byte-for-byte,
  * only undecided files are probed and rewritten. The result must equal
  * the row path (filter-and-rewrite) on every predicate; a delete whose
  * files are all decided runs no Spark job; the side dir the carried
  * files go to survives a crash at either end of the swap.
  */
class WarehouseDeleteSpec extends AnyFunSuite with SparkSupport {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def dataFiles(dir: String): Map[String, Seq[Byte]] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  private def copyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
  }

  /** A table of `nFiles` appends, one part file each. Per file, each of
    * `k`, `s`, `amt` is constant (sometimes all NULL for `k`) or mixed. */
  private def randomTable(wh: Warehouse, seed: Long, nFiles: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    var id = 0L
    (0 until nFiles).foreach { f =>
      val constK = rnd.nextInt(3) match {
        case 0 => None
        case 1 => Some(Some(f.toLong))
        case _ => Some(None)
      }
      val constS = if (rnd.nextBoolean()) Some(s"s$f") else None
      val constAmt = if (rnd.nextBoolean()) Some(BigDecimal(f * 25) / 2) else None
      val batch = (0 until 10 + rnd.nextInt(30)).map { _ =>
        id += 1
        val k = constK.getOrElse(if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(8).toLong))
        val s = constS.orElse(Some(s"s${rnd.nextInt(nFiles)}"))
        val day = day0.plusDays(f * 10L + (if (constK.isDefined) 0 else rnd.nextInt(10)))
        val v = if (rnd.nextInt(7) == 0) Double.NaN else rnd.nextDouble()
        DeleteRow(id, f, s"file-$f", k, s, Date.valueOf(day),
          Timestamp.valueOf(day.atStartOfDay().plusHours(rnd.nextInt(24).toLong)),
          constAmt.getOrElse(BigDecimal(rnd.nextInt(10000)) / 100), v)
      }
      wh.append(batch.toDS().toDF().coalesce(1), "t")
    }
  }

  private val predicates = Seq(
    "run < 2", "run = 3", "run >= 0", "run > 100", "tag = 'file-1'",
    "k = 3", "k IS NULL", "k IS NOT NULL", "k IN (1, 2, 3)", "k < 2 OR run = 1",
    "NOT (k = 4)", "NOT (run IN (0, 2))", "run < 2 AND k = 1",
    "s = 's1'", "s LIKE 's2%'", "s IN ('s0', 's3')",
    "d < DATE '2024-01-21'", "ts >= TIMESTAMP '2024-01-31 00:00:00'", "amt > 20.00",
    "v > 0.5", "isnan(v)", "coalesce(k, 0) = 5")

  test("parity with the row path on randomized tables") {
    for (seed <- 1L to 3L) {
      val base = new Warehouse(TempDirs.scratch("wh-del-base"))
      randomTable(base, seed, nFiles = 3 + seed.toInt)
      val before = dataFiles(s"${base.dir}/t")
      for (p <- predicates) {
        val wh = new Warehouse(TempDirs.scratch("wh-del"))
        copyDir(Paths.get(base.dir, "t"), Paths.get(wh.dir, "t"))
        val expected = rows(wh.read(spark, "t").filter(not(coalesce(expr(p), lit(false)))))
        val d = wh.deleteWhereFiles(spark, "t", p)
        // a fresh instance reads the table as any other process would
        val after = new Warehouse(wh.dir).read(spark, "t")
        assert(rows(after) == expected, s"seed $seed, `$p`: $d")
        val files = dataFiles(s"${wh.dir}/t")
        val carried = before.keySet.intersect(files.keySet)
        assert(carried.forall(f => files(f) == before(f)), s"seed $seed, `$p`: a kept file changed")
        if (d.deleted) assert(carried.size == d.kept, s"seed $seed, `$p`: $d")
        else assert(files == before && d.kept == before.size, s"seed $seed, `$p`: $d")
        assert(d.dropped + d.kept + d.rewritten == before.size, s"seed $seed, `$p`: $d")
      }
    }
  }

  /** Four files, one per run; `k` mixed in every file. */
  private def runTable(): (Warehouse, Map[String, Seq[Byte]]) = {
    val wh = new Warehouse(TempDirs.scratch("wh-del-runs"))
    (0 until 4).foreach { r =>
      wh.append((1 to 20).map(i => (r, s"in-$r.csv", i.toLong % 5)).toDF("run", "dateiname", "k")
        .coalesce(1), "t")
    }
    (wh, dataFiles(s"${wh.dir}/t"))
  }

  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"wh-delete-${java.util.UUID.randomUUID()}"
    val trace = Jobs.Trace(spark, Some(group))
    try {
      val out = Jobs.grouped(spark, group)(body)
      (out, trace.drain().jobs.size)
    } finally trace.close()
  }

  test("whole files are dropped or kept by name and bytes") {
    val (wh, before) = runTable()
    val runOf = before.keys.map(f => f -> spark.read.parquet(s"${wh.dir}/t/$f")
      .select("run").head().getInt(0)).toMap
    val d = wh.deleteWhereFiles(spark, "t", "run < 2")
    assert(d == wh.Deletion(dropped = 2, kept = 2, rewritten = 0))
    val after = dataFiles(s"${wh.dir}/t")
    assert(after == before.filter { case (f, _) => runOf(f) >= 2 },
      "the kept files must be the run >= 2 files, under their names, byte-for-byte")
    assert(wh.read(spark, "t").filter("run < 2").isEmpty)
    assert(wh.read(spark, "t").count() == 40L)
    // every file goes: the table still reads, empty, with its schema
    assert(wh.deleteWhereFiles(spark, "t", "run >= 0") == wh.Deletion(2, 0, 0))
    val empty = new Warehouse(wh.dir).read(spark, "t")
    assert(empty.isEmpty && empty.columns.toSeq == Seq("run", "dateiname", "k"))
  }

  test("a decided delete runs no Spark job, a mixed file does") {
    val (wh, _) = runTable()
    // no match: the ingest rollback of a file that never landed
    val (none, noneJobs) = jobsOf(wh.deleteWhereFiles(spark, "t", "dateiname = 'other.csv'"))
    assert(none == wh.Deletion(0, 4, 0) && noneJobs == 0, s"$none in $noneJobs jobs")
    // whole files: retention on a per-file run id, and the ingest rollback
    val (ret, retJobs) = jobsOf(wh.deleteWhereFiles(spark, "t", "run < 1"))
    assert(ret == wh.Deletion(1, 3, 0) && retJobs == 0, s"$ret in $retJobs jobs")
    val (rb, rbJobs) = jobsOf(wh.deleteWhereFiles(spark, "t", "dateiname = 'in-1.csv'"))
    assert(rb == wh.Deletion(1, 2, 0) && rbJobs == 0, s"$rb in $rbJobs jobs")
    // the range form on an unmanifested table (the rewind scrub's shape)
    val (range, rangeJobs) = jobsOf(wh.deleteWhereRangeFiles(spark, "t", "run", 2L, 2L))
    assert(range == wh.Deletion(1, 1, 0) && rangeJobs == 0, s"$range in $rangeJobs jobs")
    // a mixed file is probed and rewritten by Spark
    val (mixed, mixedJobs) = jobsOf(wh.deleteWhereFiles(spark, "t", "k = 3"))
    assert(mixed == wh.Deletion(0, 0, 1) && mixedJobs >= 1, s"$mixed in $mixedJobs jobs")
    assert(rows(wh.read(spark, "t").select("run", "k")) ==
      rows((1 to 20).map(i => (3, i.toLong % 5)).filter(_._2 != 3L).toDF("run", "k")))
  }

  test("a failure while carrying files leaves the table unchanged") {
    val (wh, before) = runTable()
    val expected = rows(wh.read(spark, "t"))
    val err = intercept[IllegalStateException] {
      wh.deleteWhereFiles(spark, "t", "run = 0", failAfterCopy = 1)
    }
    assert(err.getMessage.contains("after carrying 1 of 3 files"))
    val side = Paths.get(s"${wh.dir}/t__rewrite")
    assert(Files.isDirectory(side) && !Files.exists(side.resolve("_SUCCESS")),
      "the side dir must be incomplete: no _SUCCESS before the last carried file")
    assert(dataFiles(s"${wh.dir}/t") == before)
    assert(rows(new Warehouse(wh.dir).read(spark, "t")) == expected)
    // the next delete starts a fresh side dir and succeeds
    assert(wh.deleteWhereFiles(spark, "t", "run = 0") == wh.Deletion(1, 3, 0))
    assert(rows(new Warehouse(wh.dir).read(spark, "t")) ==
      expected.filterNot(_.startsWith("[0,")))
  }

  test("a swap torn between its renames recovers the new copy") {
    val (wh, before) = runTable()
    val t = Paths.get(s"${wh.dir}/t")
    val pre = Paths.get(s"${wh.dir}/t_pre")
    copyDir(t, pre)
    assert(wh.deleteWhereFiles(spark, "t", "run >= 2") == wh.Deletion(2, 2, 0))
    val expected = rows(wh.read(spark, "t"))
    val newFiles = dataFiles(t.toString)
    // the crash window between AtomicSwap's renames: the old copy is
    // already __old, the complete side dir not yet moved into place
    Files.move(t, Paths.get(s"${wh.dir}/t__rewrite"))
    Files.move(pre, Paths.get(s"${wh.dir}/t__old"))
    val fresh = new Warehouse(wh.dir)
    assert(rows(fresh.read(spark, "t")) == expected,
      "recovery must take the complete, _SUCCESS-marked side dir over __old")
    assert(dataFiles(t.toString) == newFiles && newFiles.keySet.subsetOf(before.keySet))
  }
}

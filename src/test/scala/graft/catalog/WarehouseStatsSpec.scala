package graft.catalog

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ledger.RunLedger
import graft.macros.Macros
import graft.operators.ZOrder
import graft.steps.{CommandType, StepContext, Steps, StepSpec, TaskType}
import graft.testkit.SparkSupport
import graft.util.{Jobs, TempDirs}

/** Scheduling semantics of the persisted stats manifest (r13):
  * `Warehouse.refreshStats` + `statsPrunedRead`. The VALUES under any
  * append/maintenance interleaving are q112's DuckDB oracle's job;
  * this spec owns what SQL can't see — which files the manifest
  * planner actually schedules: fresh manifest ≡ footer planning,
  * unmanifested appends always scanned, stale rows ignored after a
  * rewrite, no manifest → plain read, and the MAINTENANCE-step surface
  * (`refresh_stats`) writing the identical manifest the direct call
  * writes.
  */
class WarehouseStatsSpec extends AnyFunSuite with SparkSupport {

  import spark.implicits._

  private def corpus(): DataFrame =
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_partkey").cast("long").as("x"), col("l_suppkey").cast("long").as("y"))

  /** Layout + fresh manifest over ~60 files; returns (wh, xmax, ymax). */
  private def freshLayout(): (Warehouse, Long, Long) = {
    val wh = new Warehouse(TempDirs.scratch("wh-stats"))
    val li = corpus()
    wh.append(li, "t")
    wh.optimizeZOrder(spark, "t", Seq("x", "y"), bits = 6,
      targetRowsPerFile = 1000L, quantile = true)
    wh.refreshStats(spark, "t", Seq("x", "y"))
    val Array(xmax, ymax) = li.agg(max($"x"), max($"y")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    (wh, xmax, ymax)
  }

  private def rowSet(df: DataFrame): Seq[(Long, Long)] =
    df.select($"x", $"y").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("fresh manifest: row-identical to the filter and schedules exactly the footer planner's files") {
    val (wh, xmax, ymax) = freshLayout()
    val total = wh.read(spark, "t").inputFiles.length
    for ((c, lo, hi) <- Seq(("x", xmax / 4, xmax / 4 + xmax / 8),
                            ("y", ymax / 2, ymax / 2 + ymax / 8))) {
      val pruned = wh.statsPrunedRead(spark, "t", c, lo, hi)
      assert(rowSet(pruned) == rowSet(wh.read(spark, "t").filter(col(c).between(lo, hi))),
        s"manifest-pruned read on $c must equal the full-scan filter row-for-row")
      // the manifest was refreshed from these exact footers, so the two
      // planners must schedule the SAME file set — and a 1/8-domain
      // range must prune at least half of a quantile z-ordered layout
      val viaFooters = ZOrder.prunedRead(spark, s"${wh.dir}/t", c, lo, hi)
      assert(pruned.inputFiles.toSet == viaFooters.inputFiles.toSet,
        s"fresh manifest and footer planning must agree on $c's file set")
      assert(pruned.inputFiles.length * 2 <= total,
        s"a 1/8-domain predicate on $c must schedule <=half the files " +
          s"(got ${pruned.inputFiles.length}/$total)")
    }
    // a range beyond the domain prunes everything
    assert(wh.statsPrunedRead(spark, "t", "x", xmax + 10, xmax + 20).isEmpty)
  }

  test("files appended after refresh_stats are always scanned (unknown bounds = must scan)") {
    val (wh, xmax, _) = freshLayout()
    val (lo, hi) = (xmax / 4, xmax / 4 + xmax / 8)
    val allBefore = wh.read(spark, "t").inputFiles.toSet
    // the append lands both in-range and out-of-range rows in files the
    // manifest has never seen; losing them would be silent row loss
    val extra = Seq((lo + 1L, -1L), (hi + 1000L, -2L)).toDF("x", "y").coalesce(1)
    wh.append(extra, "t")
    val after = wh.statsPrunedRead(spark, "t", "x", lo, hi)
    val newFiles = wh.read(spark, "t").inputFiles.toSet -- allBefore
    assert(newFiles.nonEmpty)
    assert(rowSet(after) ==
      rowSet(wh.read(spark, "t").filter($"x".between(lo, hi))),
      "post-refresh appends must appear in a manifest-pruned read")
    assert(rowSet(after).contains((lo + 1L, -1L)))
    assert(newFiles.subsetOf(after.inputFiles.toSet),
      "every unmanifested part file must be scheduled — its bounds are unknown")
  }

  test("rectangle read: per-dimension keeps intersect, stale appends still scanned on every dimension") {
    val (wh, xmax, ymax) = freshLayout()
    val rx = ("x", xmax / 4, xmax / 4 + xmax / 8)
    val ry = ("y", ymax / 2, ymax / 2 + ymax / 8)
    // an unmanifested append inside the rectangle on x but with an
    // out-of-range y, and one inside on both — the second must appear,
    // and BOTH new files must be scheduled (unknown bounds on each
    // dimension independently)
    val allBefore = wh.read(spark, "t").inputFiles.toSet
    wh.append(Seq((rx._2 + 1L, -5L), (rx._2 + 1L, ry._2 + 1L)).toDF("x", "y").coalesce(1), "t")
    val rect = wh.statsPrunedRead(spark, "t", Seq(rx, ry))
    assert(rowSet(rect) == rowSet(wh.read(spark, "t")
        .filter($"x".between(rx._2, rx._3) && $"y".between(ry._2, ry._3))),
      "rectangle read must equal the full-scan conjunction under a stale manifest")
    assert(rowSet(rect).contains((rx._2 + 1L, ry._2 + 1L)))
    val newFiles = wh.read(spark, "t").inputFiles.toSet -- allBefore
    assert(newFiles.nonEmpty && newFiles.subsetOf(rect.inputFiles.toSet),
      "unmanifested files must be scheduled by the rectangle planner too")
    // manifested files: the rectangle schedules exactly the
    // intersection of the single-dimension schedules
    val oneDx = wh.statsPrunedRead(spark, "t", rx._1, rx._2, rx._3).inputFiles.toSet
    val oneDy = wh.statsPrunedRead(spark, "t", ry._1, ry._2, ry._3).inputFiles.toSet
    assert(rect.inputFiles.toSet == oneDx.intersect(oneDy),
      "rectangle file set must be the intersection of the per-dimension sets")
  }

  test("a delete leaves its rewritten files unmanifested") {
    // deleteWhere without remanifest (a per-batch caller must not pay a
    // table-wide footer scan) rewrites only the files its footers
    // cannot decide; those carry fresh names the manifest has never
    // seen, so the freshness rule scans them, while carried files keep
    // their names, bytes and so their exact manifest rows
    val (wh, xmax, _) = freshLayout()
    val before = wh.read(spark, "t").inputFiles.toSet
    val someX = wh.read(spark, "t").select($"x").head().getLong(0)
    val d = wh.deleteWhereFiles(spark, "t", s"x = $someX")
    assert(d.rewritten > 0, d)
    val rewritten = wh.read(spark, "t").inputFiles.toSet -- before
    assert(rewritten.nonEmpty)
    val (lo, hi) = (xmax / 4, xmax / 4 + xmax / 8)
    val pruned = wh.statsPrunedRead(spark, "t", "x", lo, hi)
    assert(rowSet(pruned) == rowSet(wh.read(spark, "t").filter($"x".between(lo, hi))))
    assert(rewritten.subsetOf(pruned.inputFiles.toSet),
      "every rewritten, unmanifested file must be scanned")
  }

  test("deleteWhere(remanifest=true) re-collects the manifest with the retention rewrite") {
    // the delete_where MAINTENANCE action's contract: the retained rows
    // read back exactly AND the manifest covers the post-rewrite files,
    // so pruned reads keep their quality instead of degrading to the
    // scan-everything freshness fallback until someone remembers a
    // refresh_stats (the same discipline compact/optimize carry)
    val (wh, xmax, _) = freshLayout()
    val someX = wh.read(spark, "t").select($"x").head().getLong(0)
    assert(wh.deleteWhere(spark, "t", s"x = $someX", remanifest = true))
    val manifested = wh.read(spark, wh.statsTable("t"))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val live = wh.read(spark, "t").inputFiles
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(manifested == live,
      "the retention rewrite must leave a manifest over exactly the new files")
    val (lo, hi) = (xmax / 4, xmax / 4 + xmax / 8)
    val pruned = wh.statsPrunedRead(spark, "t", "x", lo, hi)
    assert(rowSet(pruned) == rowSet(wh.read(spark, "t").filter($"x".between(lo, hi))))
    // a no-match retention predicate stays a probe: no rewrite, and the
    // (fresh) manifest is untouched
    assert(!wh.deleteWhere(spark, "t", "x = -424242", remanifest = true))
    assert(wh.read(spark, wh.statsTable("t"))
      .select("file").distinct().collect().map(_.getString(0)).toSet == manifested)
  }

  test("maintenance re-manifests an existing manifest automatically (compact and optimize)") {
    // the staleness class Delta commits stats to avoid: OPTIMIZE on a
    // manifested table must not silently degrade planning to full scans
    val (wh, xmax, _) = freshLayout()
    def manifestedFiles() = wh.read(spark, wh.statsTable("t"))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    def liveFiles() = wh.read(spark, "t").inputFiles
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    wh.compact(spark, "t", targetRowsPerFile = 5000L)
    assert(manifestedFiles() == liveFiles(),
      "compact must re-manifest the manifest's own columns")
    wh.optimizeZOrder(spark, "t", Seq("x", "y"), bits = 6,
      targetRowsPerFile = 1000L, quantile = true)
    assert(manifestedFiles() == liveFiles(),
      "optimize_zorder must re-manifest the manifest's own columns")
    // and the refreshed manifest prunes like a fresh one
    val (lo, hi) = (xmax / 4, xmax / 4 + xmax / 8)
    val pruned = wh.statsPrunedRead(spark, "t", "x", lo, hi)
    assert(rowSet(pruned) == rowSet(wh.read(spark, "t").filter($"x".between(lo, hi))))
    assert(pruned.inputFiles.length * 2 <= liveFiles().size)
    // a table nobody manifested stays manifest-free through maintenance
    val bare = new Warehouse(TempDirs.scratch("wh-stats-bare"))
    bare.append(corpus(), "b")
    bare.compact(spark, "b", targetRowsPerFile = 5000L)
    assert(!bare.exists(spark, bare.statsTable("b")),
      "maintenance must not conjure a manifest the operator never asked for")
  }

  test("manifest memo: unchanged manifest plans with ZERO jobs, out-of-band swap is re-read (r16)") {
    val (wh, xmax, _) = freshLayout()
    val (lo, hi) = (xmax / 4, xmax / 4 + xmax / 8)
    // warm: the refresh seeded the memo; this call must plan from it
    // without a job — count jobs around it, after the listener bus has
    // drained (a miss reads the manifest on the driver, also without a
    // job: WarehouseSpec)
    val warm = wh.statsPrunedScan(spark, "t", Seq(("x", lo, hi)))
    assert(warm.scheduled > 0 && warm.scheduled < warm.total)
    val trace = Jobs.Trace(spark)
    try {
      val again = wh.statsPrunedScan(spark, "t", Seq(("x", lo, hi)))
      assert(again.scheduled == warm.scheduled && again.total == warm.total)
      val jobs = trace.drain().jobs
      assert(jobs.isEmpty,
        s"planning against an unchanged manifest must run no jobs, ran ${jobs.size}")
    } finally trace.close()
    // staleness: an EXTERNAL writer (second Warehouse instance on the
    // same dir) swaps in a manifest whose envelopes exclude the range —
    // the fingerprint (fresh part-file names/mtimes) must force a
    // re-read, so the planner now schedules nothing; serving the stale
    // memo would keep scheduling `warm.scheduled` files
    val external = new Warehouse(wh.dir)
    val doctored = wh.read(spark, wh.statsTable("t"))
      .withColumn("vmin", lit(xmax + 100L)).withColumn("vmax", lit(xmax + 200L))
    external.replace(wh.statsTable("t"), doctored)
    val stale = wh.statsPrunedScan(spark, "t", Seq(("x", lo, hi)))
    assert(stale.scheduled == 0,
      s"an out-of-band manifest swap must be re-read (scheduled ${stale.scheduled})")
  }

  test("no manifest at all: plain filtered read") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-none"))
    wh.append(corpus(), "bare")
    val pruned = wh.statsPrunedRead(spark, "bare", "x", 10L, 50L)
    assert(rowSet(pruned) == rowSet(wh.read(spark, "bare").filter($"x".between(10, 50))))
    assert(pruned.inputFiles.toSet == wh.read(spark, "bare").inputFiles.toSet)
  }

  test("refresh_stats as a MAINTENANCE step writes the manifest the direct call writes") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-step"))
    wh.append(corpus(), "t")
    wh.optimizeZOrder(spark, "t", Seq("x", "y"), bits = 6,
      targetRowsPerFile = 1000L, quantile = true)
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 3, 1, 12, 0, 0))
    val ctx = StepContext(spark, wh, ledger, Macros.Context(
      workflowId = 1L,
      takeoverVon = LocalDateTime.of(1995, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(1995, 7, 1, 0, 0)))
    Steps.execute(StepSpec(8000, CommandType.Copy, TaskType.Maintenance,
      "refresh_stats cols=x,y", zieltabelle = Some("t")), ctx)
    def manifest() = wh.read(spark, wh.statsTable("t"))
      .select($"file", $"colname", $"rows", $"vmin", $"vmax")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val viaStep = manifest()
    // same table, same files: the direct call must reproduce the
    // step-written manifest row-for-row (file names included)
    wh.refreshStats(spark, "t", Seq("x", "y"))
    assert(manifest() == viaStep,
      "step-written and directly-written manifests must be identical")
    assert(viaStep.nonEmpty && viaStep.map(_._2).toSet == Set("x", "y"))
    val msg = ledger.allMessages.map(_.meldungstext)
      .find(_.startsWith("MAINTENANCE refresh_stats on t")).get
    assert(msg.contains("over 2 columns"))
  }

  test("deleteWhere that matches nothing is a probe, not a rewrite") {
    // same IO-semantics family as the manifest claims (r13 review): the
    // streaming rewind scrub and re-ingest rollback call deleteWhere on
    // predicates that usually match nothing — that case must leave
    // every part file in place (a rewrite would mint fresh file names)
    val wh = new Warehouse(TempDirs.scratch("wh-delete-noop"))
    wh.append(corpus(), "t")
    val files = wh.read(spark, "t").inputFiles.toSet
    val rows = wh.read(spark, "t").count()
    wh.deleteWhere(spark, "t", "x = -424242")
    assert(wh.read(spark, "t").inputFiles.toSet == files,
      "a no-match delete must not rewrite the table")
    // a matching delete still rewrites (and actually deletes)
    val someX = wh.read(spark, "t").select($"x").head().getLong(0)
    val matching = wh.read(spark, "t").filter($"x" === someX).count()
    assert(matching > 0)
    wh.deleteWhere(spark, "t", s"x = $someX")
    assert(wh.read(spark, "t").count() == rows - matching)
    assert(wh.read(spark, "t").filter($"x" === someX).isEmpty)
  }

  test("executor-side envelope collection matches the driver-side reader column-for-column") {
    // refreshStats collects envelopes ON EXECUTORS (one footer open per
    // file for all columns); the driver-side reader is the reference
    val (wh, _, _) = freshLayout()
    val dir = s"${wh.dir}/t"
    val all = ZOrder.fileEnvelopesAll(spark, dir, Seq("x", "y"))
    assert(all.nonEmpty)
    for (c <- Seq("x", "y")) {
      val driver = ZOrder.fileEnvelopes(spark, dir, c)
        .map(e => (e.file, c, e.rows, e.min, e.max)).sortBy(_._1)
      assert(all.filter(_._2 == c).sortBy(_._1) == driver,
        s"distributed and driver-side envelopes must agree on $c")
    }
  }

  test("incremental refresh: equals the full refresh, opens footers only for new files") {
    // r14: after an append window, the full refresh re-opens EVERY
    // footer (100k opens for 100 new files at scale); the incremental
    // pass keeps live rows verbatim and collects only the new files
    val (wh, _, _) = freshLayout()
    def manifest() = wh.read(spark, wh.statsTable("t"))
      .select($"file", $"colname", $"rows", $"vmin", $"vmax")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val before = manifest()
    val beforeFiles = before.map(_._1).toSet
    // kept-verbatim proof: perturb one EXISTING file's manifest row; an
    // incremental refresh must carry the perturbation through (it never
    // re-opened that footer), where a full refresh would repair it
    val perturbed = before.map {
      case (f, c, n, lo, hi) if f == before.head._1 && c == "x" => (f, c, n, lo - 7, hi + 7)
      case r => r
    }
    wh.replace(wh.statsTable("t"),
      perturbed.toDF("file", "colname", "rows", "vmin", "vmax").coalesce(1))
    wh.append(corpus().limit(500), "t")
    wh.append(corpus().limit(300), "t")
    val (kept, added, dropped) = wh.refreshStatsIncremental(spark, "t")
    assert(kept == before.size && dropped == 0, s"($kept, $added, $dropped)")
    assert(added >= 2, "each appended file must contribute envelope rows")
    val incr = manifest()
    assert(incr.contains(perturbed.find(_._2 == "x").get),
      "live rows must be kept VERBATIM — the incremental pass must not re-open their footers")
    // equality to the full refresh on everything except the perturbation
    wh.refreshStats(spark, "t", Seq("x", "y"))
    val full = manifest()
    assert(incr.filterNot(r => r._1 == before.head._1 && r._2 == "x") ==
      full.filterNot(r => r._1 == before.head._1 && r._2 == "x"),
      "incremental must be row-identical to the full refresh over the same listing")
    // dropped rows: a compacting rewrite swaps every file away; the next
    // incremental sees no known files and re-collects everything
    wh.compact(spark, "t", targetRowsPerFile = 1000000L)
    val (kept2, added2, dropped2) = wh.refreshStatsIncremental(spark, "t")
    assert(kept2 >= 0 && added2 >= 0 && dropped2 >= 0)
    val afterCompact = manifest()
    assert(afterCompact.map(_._1).toSet ==
      wh.read(spark, "t").inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet,
      "after a rewrite the manifest must cover exactly the live files")
    assert(afterCompact.map(_._1).toSet.intersect(beforeFiles).isEmpty,
      "rows for swapped-away files must be dropped")
  }

  test("incremental refresh: an all-null-column file gets a sentinel and is never re-opened") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-sentinel"))
    wh.append(corpus().limit(2000), "t")
    wh.refreshStats(spark, "t", Seq("x", "y"))
    // a file whose manifested columns are entirely null yields no
    // envelope rows; without the sentinel it would stay outside the
    // known set and pay its footer open on every later pass
    wh.append(corpus().limit(50).select(
      lit(null).cast("long").as("x"), lit(null).cast("long").as("y")), "t")
    val (_, a1, _) = wh.refreshStatsIncremental(spark, "t")
    assert(a1 >= 1, "the all-null file must enter the manifest (as a sentinel)")
    val (_, a2, _) = wh.refreshStatsIncremental(spark, "t")
    assert(a2 == 0, "the all-null file must be KNOWN on the next pass, not re-collected")
    // reads stay exact: the sentinel is never consulted by the planner —
    // the (file, x) lookup misses, so the file is scanned (bounds unknown)
    val viaManifest = rowSet(wh.statsPrunedRead(spark, "t", "x", 0L, 1000000L))
    val direct = rowSet(wh.read(spark, "t").where($"x".between(0L, 1000000L)))
    assert(viaManifest == direct)
    // maintenance's auto re-manifest must not treat the sentinel as a column
    wh.compact(spark, "t", targetRowsPerFile = 1000000L)
    val colnames = wh.read(spark, wh.statsTable("t"))
      .select($"colname").distinct().collect().map(_.getString(0)).toSet
    assert(colnames == Set("x", "y"),
      s"post-compact full refresh must sweep the real columns only, got $colnames")
  }

  test("incremental refresh without a manifest fails loudly toward the full refresh") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-incr-miss"))
    wh.append(corpus(), "t")
    val ex = intercept[IllegalArgumentException] {
      wh.refreshStatsIncremental(spark, "t")
    }
    assert(ex.getMessage.contains("run the full"))
  }

  test("refresh_stats incremental=true as a MAINTENANCE step; cols= alongside it is rejected") {
    val (wh, xmax, ymax) = freshLayout()
    wh.append(corpus().limit(400), "t")
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 3, 1, 12, 0, 0))
    val ctx = StepContext(spark, wh, ledger, Macros.Context(
      workflowId = 1L,
      takeoverVon = LocalDateTime.of(1995, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(1995, 7, 1, 0, 0)))
    Steps.execute(StepSpec(8001, CommandType.Copy, TaskType.Maintenance,
      "refresh_stats incremental=true", zieltabelle = Some("t")), ctx)
    val msg = ledger.allMessages.map(_.meldungstext)
      .find(_.startsWith("MAINTENANCE refresh_stats on t")).get
    assert(msg.contains("incremental:") && msg.contains("kept") && msg.contains("added"))
    // the refreshed manifest plans exactly like a fresh one (freshness
    // rule: the appended files are now manifested, reads stay exact)
    val viaManifest = rowSet(wh.statsPrunedRead(spark, "t", "x", 0L, xmax / 8))
    val direct = rowSet(wh.read(spark, "t").where($"x".between(0L, xmax / 8)))
    assert(viaManifest == direct)
    assert(ymax > 0) // fixture sanity
    val bad = intercept[IllegalArgumentException] {
      Steps.execute(StepSpec(8002, CommandType.Copy, TaskType.Maintenance,
        "refresh_stats incremental=true cols=x,y", zieltabelle = Some("t")), ctx)
    }
    assert(bad.getMessage.contains("drop cols="))
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE semantics, not NOT-filter semantics)") {
    // r14 review: the rewrite kept `NOT (pred)`, which evaluates NULL —
    // and so silently DROPPED — rows whose predicate column is null;
    // a `batch = 5` delete must never touch a null-keyed row
    val wh = new Warehouse(TempDirs.scratch("wh-delete-null"))
    wh.append(Seq[(java.lang.Long, String)]((5L, "match"), (7L, "keep"), (null, "null-keep"))
      .toDF("batch", "payload"), "t")
    assert(wh.deleteWhere(spark, "t", "batch = 5"))
    val left = wh.read(spark, "t").select($"payload").collect().map(_.getString(0)).toSet
    assert(left == Set("keep", "null-keep"),
      s"null-predicate rows must survive a delete that never matched them; got $left")
    // same rule on the range form
    assert(wh.deleteWhereRange(spark, "t", "batch", 7L, 7L))
    assert(wh.read(spark, "t").select($"payload").collect().map(_.getString(0)).toSet ==
      Set("null-keep"))
  }

  test("deleteWhereRange: manifest-planned no-match probe schedules nothing, matching range still deletes") {
    val (wh, xmax, _) = freshLayout()
    val files = wh.read(spark, "t").inputFiles.toSet
    val rows = wh.read(spark, "t").count()
    // no-match probe: out of every envelope -> zero files scheduled,
    // no rewrite, files untouched
    assert(!wh.deleteWhereRange(spark, "t", "x", xmax + 100, xmax + 200))
    assert(wh.read(spark, "t").inputFiles.toSet == files,
      "a no-match range delete must not rewrite the table")
    // equivalence to the predicate form on a matching range
    val matching = wh.read(spark, "t").filter($"x".between(0L, xmax / 16)).count()
    assert(matching > 0)
    assert(wh.deleteWhereRange(spark, "t", "x", 0L, xmax / 16))
    assert(wh.read(spark, "t").count() == rows - matching)
    assert(wh.read(spark, "t").filter($"x".between(0L, xmax / 16)).isEmpty)
    // unmanifested table: falls back to the footer probe, same semantics
    val wh2 = new Warehouse(TempDirs.scratch("wh-dwr-plain"))
    wh2.append(corpus(), "t")
    assert(!wh2.deleteWhereRange(spark, "t", "x", -50L, -10L))
    assert(wh2.read(spark, "t").filter($"x".between(0L, 5L)).count() > 0)
    assert(wh2.deleteWhereRange(spark, "t", "x", 0L, 5L))
    assert(wh2.read(spark, "t").filter($"x".between(0L, 5L)).isEmpty)
  }

  /** Timestamp corpus laid out as ~8 range-disjoint files — the
    * retention shape every time-partitioned 100 TB table has. */
  private def temporalLayout(): (Warehouse, DataFrame) = {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-ts"))
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("k"), col("l_shipdate").as("ts"))
    wh.append(li.repartitionByRange(8, col("ts")).sortWithinPartitions("ts"), "t")
    wh.refreshStats(spark, "t", Seq("ts"))
    (wh, li)
  }

  test("temporal manifest: TIMESTAMP envelopes prune files; pruned read equals the typed filter") {
    val (wh, _) = temporalLayout()
    val schema = wh.read(spark, "t").schema
    val lo = wh.boundEpoch(schema, "ts", "1995-03-01", isLower = true)
    val hi = wh.boundEpoch(schema, "ts", "1995-09-30T23:59:59", isLower = false)
    val scan = wh.statsPrunedScan(spark, "t", Seq(("ts", lo, hi)))
    assert(scan.scheduled < scan.total,
      s"a half-year window over a range-partitioned multi-year corpus must prune " +
        s"(scheduled ${scan.scheduled} of ${scan.total})")
    val tsType = schema.apply("ts").dataType
    val expect = wh.read(spark, "t").filter(
      col("ts") >= lit("1995-03-01").cast(tsType) &&
        col("ts") <= lit("1995-09-30 23:59:59").cast(tsType))
    assert(scan.frame.select($"k").collect().map(_.getLong(0)).sorted.toSeq ==
      expect.select($"k").collect().map(_.getLong(0)).sorted.toSeq,
      "manifest-pruned temporal read must equal the typed filter row-for-row")
  }

  test("boundEpoch: dates, timestamps, bare-date midnight, open sides, loud on junk") {
    val (wh, _) = temporalLayout()
    val schema = wh.read(spark, "t").schema
    // a bare date on a TIMESTAMP column is midnight
    assert(wh.boundEpoch(schema, "ts", "1995-03-01", isLower = true) ==
      wh.boundEpoch(schema, "ts", "1995-03-01T00:00:00", isLower = true))
    // micros arithmetic: one second past midnight
    assert(wh.boundEpoch(schema, "ts", "1995-03-01T00:00:01", isLower = true) -
      wh.boundEpoch(schema, "ts", "1995-03-01T00:00:00", isLower = true) == 1000000L)
    // open sides clamp without overflow and stay usable in a scan
    val loStar = wh.boundEpoch(schema, "ts", "*", isLower = true)
    val hiStar = wh.boundEpoch(schema, "ts", "*", isLower = false)
    assert(loStar < 0 && hiStar > 0)
    val all = wh.statsPrunedScan(spark, "t", Seq(("ts", loStar, hiStar)))
    assert(all.frame.count() == wh.read(spark, "t").count(),
      "a fully open range must scan everything and keep every row")
    // integral columns take literals verbatim
    assert(wh.boundEpoch(schema, "k", "42", isLower = true) == 42L)
    // junk fails loudly, never a silently different window
    intercept[java.time.format.DateTimeParseException] {
      wh.boundEpoch(schema, "ts", "1995-13-01", isLower = true)
    }
    intercept[IllegalArgumentException] {
      wh.boundEpoch(schema, "nope", "1", isLower = true)
    }
  }

  test("delete_where range= MAINTENANCE step: temporal retention is manifest-planned, keeps nulls, re-manifests") {
    val (wh, li) = temporalLayout()
    val tsType = wh.read(spark, "t").schema.apply("ts").dataType
    // a null-keyed row the retention window must NEVER delete (SQL
    // DELETE semantics: predicate NULL = keep); cast through the
    // table's own timestamp flavor so the append does not fork schemas
    wh.append(Seq((-1L, None: Option[String])).toDF("k", "s")
      .select($"k", $"s".cast(tsType).as("ts")), "t")
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 3, 1, 12, 0, 0))
    val ctx = StepContext(spark, wh, ledger, Macros.Context(
      workflowId = 1L,
      takeoverVon = LocalDateTime.of(1995, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(1995, 7, 1, 0, 0)))
    val horizon = "1996-01-01T00:00:00"
    // the range's hi is INCLUSIVE: rows AT the horizon die with the
    // window, survivors are strictly past it (or null-keyed)
    val keep = wh.read(spark, "t")
      .filter(col("ts").isNull || col("ts") > lit("1996-01-01").cast(tsType))
      .count()
    val drop = wh.read(spark, "t").count() - keep
    assert(drop > 0, "fixture needs rows before the horizon")
    Steps.execute(StepSpec(8001, CommandType.Copy, TaskType.Maintenance,
      s"""delete_where range="ts=*..$horizon"""", zieltabelle = Some("t")), ctx)
    assert(wh.read(spark, "t").count() == keep,
      "retention must drop exactly the pre-horizon window")
    assert(wh.read(spark, "t").filter($"k" === -1L).count() == 1,
      "a null-timestamp row survives any retention window")
    // the deleting rewrite re-manifested: a pruned probe on the dropped
    // window schedules (almost) nothing — at most the one file whose
    // ts stats are all-null (the kept null row; a full refresh writes
    // no row for it, and an absent (file, column) row means must-scan)
    val schema = wh.read(spark, "t").schema
    val probe = wh.statsPrunedScan(spark, "t", Seq(("ts",
      wh.boundEpoch(schema, "ts", "*", isLower = true),
      wh.boundEpoch(schema, "ts", "1995-12-31T23:59:59", isLower = false))))
    assert(probe.scheduled <= 1 && probe.total > 1,
      s"post-retention manifest must prune the dropped window " +
        s"(scheduled ${probe.scheduled} of ${probe.total})")
    assert(probe.frame.isEmpty, "no row of the dropped window may survive the probe")
    // boundary exactness: hi is inclusive, so nothing at or before the
    // horizon survives (null rows fall out of the <= filter by SQL rules)
    assert(wh.read(spark, "t")
      .filter(col("ts") <= lit("1996-01-01 00:00:00").cast(tsType)).isEmpty,
      "no surviving ts may be at or before the inclusive horizon")
    val msg = ledger.allMessages.map(_.meldungstext)
      .find(_.startsWith("MAINTENANCE delete_where on t")).get
    assert(msg.contains("deleted rows"))
  }

  test("temporal manifest: DATE columns manifest as epoch days and prune like timestamps") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-date"))
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("k"),
        col("l_shipdate").cast("date").as("d"))
    wh.append(li.repartitionByRange(8, col("d")).sortWithinPartitions("d"), "t")
    wh.refreshStats(spark, "t", Seq("d"))
    val schema = wh.read(spark, "t").schema
    val lo = wh.boundEpoch(schema, "d", "1995-03-01", isLower = true)
    val hi = wh.boundEpoch(schema, "d", "1995-09-30", isLower = false)
    assert(lo == java.time.LocalDate.parse("1995-03-01").toEpochDay)
    val scan = wh.statsPrunedScan(spark, "t", Seq(("d", lo, hi)))
    assert(scan.scheduled < scan.total,
      s"a half-year DATE window must prune (scheduled ${scan.scheduled} of ${scan.total})")
    val expect = wh.read(spark, "t").filter(
      col("d").between(lit("1995-03-01").cast("date"), lit("1995-09-30").cast("date")))
    assert(scan.frame.select($"k").collect().map(_.getLong(0)).sorted.toSeq ==
      expect.select($"k").collect().map(_.getLong(0)).sorted.toSeq,
      "manifest-pruned DATE read must equal the typed filter row-for-row")
    // open sides on DATE clamp to LocalDate's own domain (epoch-day
    // Long extremes would overflow the literal conversion)
    val all = wh.statsPrunedScan(spark, "t", Seq(("d",
      wh.boundEpoch(schema, "d", "*", isLower = true),
      wh.boundEpoch(schema, "d", "*", isLower = false))))
    assert(all.frame.count() == wh.read(spark, "t").count())
  }

  test("boundEpoch ↔ typedBound round trip: any second-resolution wall time parses to the micros the literal carries") {
    // pure property — one tiny schema, no IO: for any LocalDateTime in
    // the corpus's working range, the grammar's micros equal
    // java.time's, and re-formatting parses back to the same bound
    // (the inclusive-hi retention arithmetic rests on this exactness)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP_NTZ, d DATE, k BIGINT")
    val wh = new Warehouse(TempDirs.scratch("wh-prop"))
    new graft.testkit.PropSupport {}.forAllSamples(
      org.scalacheck.Gen.choose(-30610224000L, 32503680000L), n = 300) { sec =>
      val ldt = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      val token = ldt.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      val micros = wh.boundEpoch(schema, "ts", token, isLower = true)
      assert(micros == sec * 1000000L, s"$token -> $micros")
      val days = wh.boundEpoch(schema, "d",
        ldt.toLocalDate.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE),
        isLower = false)
      assert(days == ldt.toLocalDate.toEpochDay)
    }
  }

  test("point-set pruned scan: schedules only envelope-hit files, rows equal the IN filter, freshness holds") {
    // r15 (VERDICT r14 next #2): the admission probe's planning verb —
    // scattered keys against a z-ordered layout must schedule ~|keys|
    // files, not min..max's near-everything rectangle
    val (wh, xmax, _) = freshLayout()
    val total = wh.read(spark, "t").inputFiles.length
    assert(total > 10, s"fixture needs many files, got $total")
    // 3 scattered keys across the x domain (z-ordered on x: tight envelopes)
    val keys = Seq(1L, xmax / 2, xmax)
    val scan = wh.statsPrunedScanKeys(spark, "t", "x", keys)
    assert(scan.total == total)
    assert(scan.scheduled < total,
      s"point probe must prune (scheduled ${scan.scheduled} of ${scan.total})")
    val expect = rowSet(wh.read(spark, "t").filter($"x".isin(keys: _*)))
    assert(rowSet(scan.frame) == expect)
    // a range planner over the same keys' min..max CANNOT prune this
    // probe down — the point planner must beat it
    val asRange = wh.statsPrunedScan(spark, "t", Seq(("x", keys.min, keys.max)))
    assert(scan.scheduled <= asRange.scheduled)
    // freshness: an appended (unmanifested) file is always scanned and
    // its rows show up even for keys outside every manifested envelope
    wh.append(Seq((xmax + 77L, 1L)).toDF("x", "y"), "t")
    val fresh = wh.statsPrunedScanKeys(spark, "t", "x", Seq(xmax + 77L))
    assert(rowSet(fresh.frame) == Seq((xmax + 77L, 1L)))
    // empty key set: nothing scheduled, empty result, schema intact
    val none = wh.statsPrunedScanKeys(spark, "t", "x", Seq.empty)
    assert(none.scheduled == 0 && none.frame.isEmpty)
    assert(none.frame.columns.toSeq == wh.read(spark, "t").columns.toSeq)
  }

  test("point-set pruned scan without a manifest: plain filtered read, scheduled == total") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-keys-nomani"))
    wh.append(corpus().limit(500), "t")
    val scan = wh.statsPrunedScanKeys(spark, "t", "x", Seq(3L, 9L))
    assert(scan.scheduled == scan.total)
    assert(rowSet(scan.frame) == rowSet(wh.read(spark, "t").filter($"x".isin(3L, 9L))))
  }

  test("refreshStats on a missing table fails loudly") {
    val wh = new Warehouse(TempDirs.scratch("wh-stats-miss"))
    val ex = intercept[IllegalArgumentException] {
      wh.refreshStats(spark, "nope", Seq("x"))
    }
    assert(ex.getMessage.contains("does not exist"))
  }

  test("after concurrent rewrites with different schemas the read schema equals the files' schema") {
    val wh = new Warehouse(TempDirs.scratch("wh-memo-race"))
    val frames = Seq(Seq((1L, "x")).toDF("id", "a"), Seq((1L, 2.0)).toDF("id", "b"))
    frames.map(df => java.util.concurrent.CompletableFuture.runAsync(
      () => (0 until 6).foreach(_ => wh.replace("t", df)))).foreach(_.join())
    assert(wh.read(spark, "t").schema == spark.read.parquet(s"${wh.dir}/t").schema)
  }
}

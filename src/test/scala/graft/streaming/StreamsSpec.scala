package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSupport

/** MemoryStream-driven tests: feed event batches, advance the watermark,
  * assert windowed counts and closed sessions.
  */
class StreamsSpec extends AnyFunSuite with SparkSupport {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("upsertSink: keyed change stream merges last-wins into the warehouse table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = new graft.catalog.Warehouse(tmpDir("stream-upsert-wh"))
    wh.append(Seq((1L, 0L, "base1"), (2L, 0L, "base2")).toDF("k", "ver", "v"), "cdc")
    val input = MemoryStream[(Long, Long, String)]
    val query = Streams.upsertSink(
      input.toDF().toDF("k", "ver", "v"), wh, "cdc",
      keys = Seq("k"), versionCol = "ver",
      checkpointDir = tmpDir("stream-upsert-ckpt"))
    try {
      // one batch with an in-batch supersede (k=2: ver 1 then 2) + insert
      input.addData((2L, 1L, "old"), (2L, 2L, "new"), (3L, 1L, "ins"))
      query.processAllAvailable()
      val s1 = wh.read(spark, "cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(s1 == Set((1L, 0L, "base1"), (2L, 2L, "new"), (3L, 1L, "ins")))
      // a later batch updates again; untouched keys survive
      input.addData((1L, 5L, "upd1"))
      query.processAllAvailable()
      val s2 = wh.read(spark, "cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(s2 == Set((1L, 5L, "upd1"), (2L, 2L, "new"), (3L, 1L, "ins")))
    } finally query.stop()
  }

  test("bloomDedupStream: batch-ordered admissions, and per-batch merge equals a full bitmap rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (mBits, k) = (1L << 12, 4)
    val wh = new graft.catalog.Warehouse(tmpDir("stream-bloom-wh"))
    wh.append(Seq("h1", "h2").toDF("key")
      .withColumn("batch", org.apache.spark.sql.functions.lit(0L)), "seen")
    wh.replace("bloom", graft.operators.Bloom.build(
      wh.read(spark, "seen"), "key", mBits, k))
    val input = MemoryStream[String]
    val query = Streams.bloomDedupStream(
      input.toDF().toDF("key"), "key", wh,
      seenTable = "seen", bloomTable = "bloom", outTable = "out",
      checkpointDir = tmpDir("stream-bloom-ckpt"), mBits = mBits, k = k,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData("a", "b", "h1") // h1 historic -> dropped
      query.processAllAvailable()
      input.addData("a", "c") // a admitted in batch 1 -> now a duplicate
      query.processAllAvailable()
      input.addData("b", "d", "h2", "d") // within-batch dup d: both admitted
      query.processAllAvailable()
      val out = wh.read(spark, "out").collect()
        .map(r => (r.getAs[Long]("batch"), r.getAs[String]("key")))
      assert(out.toSet == Set((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))
      assert(out.count(_ == ((3L, "d"))) == 2,
        "within-batch duplicates both pass (the exact confirm is against PRIOR batches)")
      // the maintained bitmap is word-for-word the bitmap a full rebuild
      // over the final seen keyset produces — merge-per-batch loses
      // nothing (w >= 0: the sentinel word is the replay watermark, not
      // filter state, and a rebuild legitimately lacks it)
      val maintained = wh.read(spark, "bloom").filter("w >= 0").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rebuilt = graft.operators.Bloom.build(
        wh.read(spark, "seen"), "key", mBits, k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(maintained == rebuilt)
    } finally query.stop()
  }

  test("bloomDedupBatch: checkpoint replay after a crash at EVERY phase is exactly-once") {
    // r13 (VERDICT wrong #2): foreachBatch re-runs the same (batch, id)
    // after a crash. For each induced crash point — after the rewind,
    // after the bitmap fold, after the out append, after the seen
    // append — replaying the batch must converge to exactly the clean
    // run's out/seen/bitmap state: no duplicate admissions, no lost
    // rows, and never a key in seen that the bitmap lacks.
    import spark.implicits._
    val (mBits, k) = (1L << 12, 4)
    def freshWh(tag: String): graft.catalog.Warehouse = {
      val wh = new graft.catalog.Warehouse(tmpDir(s"bloom-replay-$tag"))
      wh.append(Seq("h1", "h2").toDF("key")
        .withColumn("batch", org.apache.spark.sql.functions.lit(0L)), "seen")
      wh.replace("bloom", graft.operators.Bloom.build(
        wh.read(spark, "seen"), "key", mBits, k))
      wh
    }
    val batch1 = Seq("a", "b", "h1", "a").toDF("key") // within-batch dup a: both admitted
    val batch2 = Seq("a", "c", "h2").toDF("key") // a now historic
    def state(wh: graft.catalog.Warehouse) = (
      wh.read(spark, "out").collect()
        .map(r => (r.getAs[Long]("batch"), r.getAs[String]("key"))).toSeq.sorted,
      wh.read(spark, "seen").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("batch"))).toSeq.sorted,
      wh.read(spark, "bloom").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    def run(wh: graft.catalog.Warehouse, df: org.apache.spark.sql.DataFrame,
        id: Long, failAt: Int = Int.MaxValue): Unit =
      Streams.bloomDedupBatch(df, id, "key", wh, "seen", "bloom", "out",
        mBits, k, failAfterPhase = failAt)
    val clean = freshWh("clean")
    run(clean, batch1, 0L); run(clean, batch2, 1L)
    val want = state(clean)
    assert(want._1 == Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c")))
    // the replay-rewind tag is reserved: an incoming `batch` column
    // would be silently overwritten — refuse loudly instead
    val reserved = intercept[IllegalArgumentException](
      run(freshWh("rsv"), batch1.withColumn("batch",
        org.apache.spark.sql.functions.lit(9L)), 0L))
    assert(reserved.getMessage.contains("reserves the `batch` column"))
    for (failAt <- 0 to 3) {
      val wh = freshWh(s"f$failAt")
      val e = intercept[IllegalStateException](run(wh, batch1, 0L, failAt))
      assert(e.getMessage.contains(s"after phase $failAt"))
      // the invariant that makes replay safe: bloom ⊇ seen even mid-crash
      val seenKeys = wh.read(spark, "seen").select("key").as[String].collect().toSet
      val probed = graft.operators.Bloom.maybeSeen(
        wh.read(spark, "seen"), "key", wh.read(spark, "bloom"), mBits, k)
        .select("key").as[String].collect().toSet
      assert(probed == seenKeys,
        s"crash after phase $failAt left seen keys the bitmap cannot see")
      run(wh, batch1, 0L) // the replay foreachBatch would issue
      run(wh, batch2, 1L)
      assert(state(wh) == want, s"replay after phase-$failAt crash diverged")
    }
  }

  test("bloomDedupBatch: a non-replay batch never rewrites out/seen (watermark fast path)") {
    // r13 review: phase 0's scrub used to pay two O(table) deleteWhere
    // rewrites on EVERY batch — quadratic cumulative IO over a stream's
    // life. With the sentinel watermark (w = -1, bits = last folded
    // batch) the happy path must leave every previously-written part
    // file in place: appends only, no rewrite ever touches them.
    import spark.implicits._
    val (mBits, k) = (1L << 12, 4)
    val wh = new graft.catalog.Warehouse(tmpDir("bloom-fastpath"))
    wh.append(Seq("h1").toDF("key")
      .withColumn("batch", org.apache.spark.sql.functions.lit(0L)), "seen")
    wh.replace("bloom", graft.operators.Bloom.build(
      wh.read(spark, "seen"), "key", mBits, k))
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.bloomDedupBatch(df, id, "key", wh, "seen", "bloom", "out", mBits, k)
    run(Seq("a", "b").toDF("key"), 0L)
    // batch 1 folded: the watermark sentinel rides the bitmap table
    val marks = wh.read(spark, "bloom").filter("w = -1")
      .select("bits").collect().map(_.getLong(0)).toSeq
    assert(marks == Seq(1L), s"expected watermark [1], got $marks")
    val outFiles = wh.read(spark, "out").inputFiles.toSet
    val seenFiles = wh.read(spark, "seen").inputFiles.toSet
    run(Seq("c").toDF("key"), 1L)
    assert(outFiles.subsetOf(wh.read(spark, "out").inputFiles.toSet),
      "a non-replay batch must append to out, never rewrite it")
    assert(seenFiles.subsetOf(wh.read(spark, "seen").inputFiles.toSet),
      "a non-replay batch must append to seen, never rewrite it")
    assert(wh.read(spark, "bloom").filter("w = -1")
      .select("bits").collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the watermark must advance with each folded batch")
    // and the rows are still exactly right
    assert(wh.read(spark, "out").select("key").as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c"))
  }

  test("neardupAdmitBatch: checkpoint replay after a crash at EVERY phase is exactly-once") {
    // r15 (VERDICT r14 next #3): the MinHash admission stream gets the
    // bloom stream's replay treatment — for each induced crash point
    // (after the rewind, the watermark advance, the out append, the
    // signature append) replaying the batch must converge to exactly
    // the clean run's out/hist/watermark state.
    import spark.implicits._
    def freshWh(tag: String): graft.catalog.Warehouse = {
      val wh = new graft.catalog.Warehouse(tmpDir(s"ndadmit-replay-$tag"))
      val sig = graft.operators.NearDup.signaturesWithRelease(
        Seq((100L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text"))
      try wh.append(sig.frame.withColumn("batch",
        org.apache.spark.sql.functions.lit(0L)), "hist")
      finally sig.release()
      wh
    }
    // doc 1 duplicates the historic doc (rejected), doc 2 is new
    val batch1 = Seq((1L, "x1 x2 x3 x4 x5"), (2L, "y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    // doc 3 duplicates ADMITTED doc 2 — the history growth is
    // load-bearing; doc 4 is new
    val batch2 = Seq((3L, "y1 y2 y3 y4"), (4L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    def state(wh: graft.catalog.Warehouse) = (
      wh.read(spark, "out").collect()
        .map(r => (r.getAs[Long]("batch"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_hist_candidates"))).toSeq.sorted,
      wh.read(spark, "hist").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("batch"))).toSeq.sorted,
      wh.read(spark, "wm").collect().map(_.getLong(0)).toSeq)
    def run(wh: graft.catalog.Warehouse, df: org.apache.spark.sql.DataFrame,
        id: Long, failAt: Int = Int.MaxValue): Unit =
      Streams.neardupAdmitBatch(df, id, wh, "hist", "out", "wm",
        k = 12, bands = 4, threshold = 0.6, failAfterPhase = failAt)
    val clean = freshWh("clean")
    run(clean, batch1, 0L); run(clean, batch2, 1L)
    val want = state(clean)
    assert(want._1 == Seq((1L, 2L, 0L), (2L, 4L, 0L)),
      s"clean run: dup of history and dup of an admitted doc must both reject, got ${want._1}")
    assert(want._2 == Seq((2L, 1L), (4L, 2L), (100L, 0L)),
      s"history must grow by exactly the admitted docs, got ${want._2}")
    val reserved = intercept[IllegalArgumentException](
      run(freshWh("rsv"), batch1.withColumn("batch",
        org.apache.spark.sql.functions.lit(9L)), 0L))
    assert(reserved.getMessage.contains("reserves the `batch` column"))
    for (failAt <- 0 to 4) {
      val wh = freshWh(s"f$failAt")
      val e = intercept[IllegalStateException](run(wh, batch1, 0L, failAt))
      assert(e.getMessage.contains(s"after phase $failAt"))
      run(wh, batch1, 0L) // the replay foreachBatch would issue
      run(wh, batch2, 1L)
      assert(state(wh) == want, s"replay after phase-$failAt crash diverged")
    }
  }

  test("neardupAdmitBatch with a band table (pruned path): crash replay at EVERY phase is exactly-once, bands cover hist") {
    // r15: the pruned streaming admission maintains the band table
    // beside the signatures — replay must converge out/hist/BANDS to
    // the clean run's, and at every crash point the band table must
    // cover the signature table (under-covering silently re-admits)
    import spark.implicits._
    def freshWh(tag: String): graft.catalog.Warehouse = {
      val wh = new graft.catalog.Warehouse(tmpDir(s"ndadmit-pr-$tag"))
      val sig = graft.operators.NearDup.signaturesWithRelease(
        Seq((100L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text"))
      try {
        val s0 = sig.frame.persist()
        wh.append(s0.withColumn("batch",
          org.apache.spark.sql.functions.lit(0L)), "hist")
        wh.append(graft.operators.NearDup.bandTable(s0).withColumn("batch",
          org.apache.spark.sql.functions.lit(0L)), "hbands")
        s0.unpersist()
      } finally sig.release()
      wh
    }
    val batch1 = Seq((1L, "x1 x2 x3 x4 x5"), (2L, "y1 y2 y3 y4"))
      .toDF("doc_id", "text")
    val batch2 = Seq((3L, "y1 y2 y3 y4"), (4L, "z1 z2 z3"))
      .toDF("doc_id", "text")
    def state(wh: graft.catalog.Warehouse) = (
      wh.read(spark, "out").collect()
        .map(r => (r.getAs[Long]("batch"), r.getAs[Long]("doc_id"))).toSeq.sorted,
      wh.read(spark, "hist").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("batch"))).toSeq.sorted,
      wh.read(spark, "hbands").select("doc_id", "b", "key64", "batch").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq.sorted)
    def run(wh: graft.catalog.Warehouse, df: org.apache.spark.sql.DataFrame,
        id: Long, failAt: Int = Int.MaxValue): Unit =
      Streams.neardupAdmitBatch(df, id, wh, "hist", "out", "wm",
        k = 12, bands = 4, threshold = 0.6, failAfterPhase = failAt,
        bandsTable = Some("hbands"))
    val clean = freshWh("clean")
    run(clean, batch1, 0L); run(clean, batch2, 1L)
    val want = state(clean)
    assert(want._1 == Seq((1L, 2L), (2L, 4L)),
      s"pruned path must admit/reject exactly as the full path, got ${want._1}")
    for (failAt <- 0 to 4) {
      val wh = freshWh(s"f$failAt")
      val e = intercept[IllegalStateException](run(wh, batch1, 0L, failAt))
      assert(e.getMessage.contains(s"after phase $failAt"))
      // the covering invariant mid-crash: every hist doc has band rows
      val histIds = wh.read(spark, "hist").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val bandIds = wh.read(spark, "hbands").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(histIds.subsetOf(bandIds),
        s"crash after phase $failAt left hist docs the band probe cannot see")
      run(wh, batch1, 0L)
      run(wh, batch2, 1L)
      assert(state(wh) == want, s"replay after phase-$failAt crash diverged")
    }
  }

  test("neardupAdmitBatch: a non-replay batch never rewrites out/hist (watermark fast path)") {
    import spark.implicits._
    val wh = new graft.catalog.Warehouse(tmpDir("ndadmit-fastpath"))
    val sig = graft.operators.NearDup.signaturesWithRelease(
      Seq((100L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text"))
    try wh.append(sig.frame.withColumn("batch",
      org.apache.spark.sql.functions.lit(0L)), "hist")
    finally sig.release()
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.neardupAdmitBatch(df, id, wh, "hist", "out", "wm",
        k = 12, bands = 4, threshold = 0.6)
    run(Seq((1L, "y1 y2 y3 y4")).toDF("doc_id", "text"), 0L)
    assert(wh.read(spark, "wm").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val outFiles = wh.read(spark, "out").inputFiles.toSet
    val histFiles = wh.read(spark, "hist").inputFiles.toSet
    run(Seq((2L, "z1 z2 z3")).toDF("doc_id", "text"), 1L)
    assert(outFiles.subsetOf(wh.read(spark, "out").inputFiles.toSet),
      "a non-replay batch must append to out, never rewrite it")
    assert(histFiles.subsetOf(wh.read(spark, "hist").inputFiles.toSet),
      "a non-replay batch must append to hist, never rewrite it")
    assert(wh.read(spark, "wm").collect().map(_.getLong(0)).toSeq == Seq(2L),
      "the watermark must advance with each batch")
    assert(wh.read(spark, "out").select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("derivedStatePartitions: data-sized below the cap, session default at scale, floor 1 (r16)") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    // a zero (empty or unlistable) source says nothing: session default
    assert(Streams.derivedStatePartitions(spark, 0L) == cap)
    // tiny source: one partition, never zero
    assert(Streams.derivedStatePartitions(spark, 1L) == 1)
    assert(Streams.derivedStatePartitions(spark, advisory) == 1)
    assert(Streams.derivedStatePartitions(spark, advisory + 1) == math.min(2, cap))
    // production-sized source: the cap (session default) — NO local tune
    assert(Streams.derivedStatePartitions(spark, advisory * (cap + 50L)) == cap)
    assert(Streams.derivedStatePartitions(spark, Long.MaxValue / 4) == cap)
    // the clone carries the bound and the parent keeps its own setting
    val s2 = Streams.session(spark, Streams.Store.Hdfs, Streams.StatePartitions.Exactly(3))
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == cap)
    assert(Streams.session(spark, Streams.Store.Hdfs, Streams.StatePartitions.Exactly(0))
      .conf.get("spark.sql.shuffle.partitions") == "1")
    // sizing reads a file's length or a folder's total; a missing source
    // keeps the session default
    val dir = tmpDir("graft-source-bytes")
    new java.io.File(dir, "sub").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "sub", "b.bin"), new Array[Byte](5))
    assert(Streams.sourceBytes(s"$dir/sub/b.bin") == 5L && Streams.sourceBytes(dir) == 5L)
    def sized(path: String) = Streams.session(spark, Streams.Store.Hdfs,
      Streams.StatePartitions.OfSource(path)).conf.get("spark.sql.shuffle.partitions").toInt
    assert(sized(dir) == 1 && sized(s"$dir/missing") == cap)
  }

  test("windowedCounts: watermark closes windows, counts per type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val query = Streams.windowedCounts(input.toDF(), watermark = "10 minutes", window = "1 hour")
      .writeStream.format("memory").queryName("wc_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Streams.Event(1, ts("2026-01-01 10:05:00"), "click", 1.0),
        Streams.Event(1, ts("2026-01-01 10:20:00"), "click", 1.0),
        Streams.Event(2, ts("2026-01-01 10:40:00"), "error", 1.0))
      query.processAllAvailable()
      // advance event time far enough to close the 10:00 window
      input.addData(Streams.Event(3, ts("2026-01-01 12:30:00"), "click", 1.0))
      query.processAllAvailable()
      val out = spark.sql("SELECT event_type, n FROM wc_out ORDER BY event_type").collect()
      assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("click", 2L), ("error", 1L)))
    } finally query.stop()
  }

  test("fileIngest: drop-folder files stream into parquet with audit columns, exactly once") {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(tmpDir("stream-ingest"))
    val inDir = base.resolve("Insert"); Files.createDirectories(inDir)
    val outDir = base.resolve("out").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, wert STRING")
    Files.writeString(inDir.resolve("a.csv"), "id,wert\n1,x\n2,y\n")
    val query = Streams.fileIngest(spark, inDir.toString, schema, outDir,
      base.resolve("ckpt").toString, base.resolve("archive").toString)
    try {
      query.processAllAvailable()
      val first = spark.read.parquet(outDir)
      assert(first.count() == 2)
      assert(first.columns.toSet == Set("id", "wert", "dateiname", "exportdatum", "datenproduzent"))
      assert(first.filter("dateiname = 'a.csv'").count() == 2)
      // incremental: a new file appends without reprocessing the first
      Files.writeString(inDir.resolve("b.csv"), "id,wert\n3,z\n")
      query.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 3)
      // '+' is literal in file URIs, not a form-encoded space — the audit
      // name must keep it so the idempotent delete finds its rows
      // (ADVICE r10); percent-escapes still decode
      Files.writeString(inDir.resolve("c+d.csv"), "id,wert\n4,w\n")
      Files.writeString(inDir.resolve("umsatz 26.csv"), "id,wert\n5,v\n")
      query.processAllAvailable()
      val all = spark.read.parquet(outDir)
      assert(all.filter("dateiname = 'c+d.csv'").count() == 1,
        "literal '+' must survive the URI decode")
      assert(all.filter("dateiname = 'umsatz 26.csv'").count() == 1,
        "percent-escaped spaces must still decode")
    } finally query.stop()
  }

  test("sessionize: gap closes a session; timeout flushes the last one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val query = Streams.sessionize(input.toDS(), gapSeconds = 1800, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap
      input.addData(
        Streams.Event(1, ts("2026-01-01 08:00:00"), "a", 1.0),
        Streams.Event(1, ts("2026-01-01 08:10:00"), "a", 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(1, ts("2026-01-01 10:30:00"), "a", 1.0))
      query.processAllAvailable()
      // push watermark past 10:30 + gap to time the second session out
      input.addData(Streams.Event(2, ts("2026-01-01 13:00:00"), "a", 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(2, ts("2026-01-01 15:00:00"), "a", 1.0))
      query.processAllAvailable()
      val out = spark.sql(
        "SELECT user_id, session_start, n_events FROM sess_out WHERE user_id = 1 ORDER BY session_start")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
      assert(out == Seq(
        (1L, ts("2026-01-01 08:00:00"), 2L),
        (1L, ts("2026-01-01 10:30:00"), 1L)))
    } finally query.stop()
  }

  test("sessionizeTws (state v2 / RocksDB): same sessions as the flatMapGroupsWithState path") {
    // a CLONED session carries the RocksDB provider conf so the shared
    // session's streaming gates keep their default HDFS-backed store
    val s2 = Streams.session(spark, Streams.Store.RocksDb, Streams.StatePartitions.Default)
    assert(!Streams.stateV2Ready(spark), "default session must stay on the portable path")
    assert(Streams.stateV2Ready(s2))
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val input = MemoryStream[Streams.Event]
    // sessionizeAuto must pick the v2 path on this session; same
    // fixture + expectations as the flatMapGroupsWithState test above
    val query = Streams.sessionizeAuto(input.toDS(), gapSeconds = 1800, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_tws_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Streams.Event(1, ts("2026-01-01 08:00:00"), "a", 1.0),
        Streams.Event(1, ts("2026-01-01 08:10:00"), "a", 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(1, ts("2026-01-01 10:30:00"), "a", 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(2, ts("2026-01-01 13:00:00"), "a", 1.0))
      query.processAllAvailable()
      input.addData(Streams.Event(2, ts("2026-01-01 15:00:00"), "a", 1.0))
      query.processAllAvailable()
      val out = s2.sql(
        "SELECT user_id, session_start, n_events FROM sess_tws_out WHERE user_id = 1 ORDER BY session_start")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
      assert(out == Seq(
        (1L, ts("2026-01-01 08:00:00"), 2L),
        (1L, ts("2026-01-01 10:30:00"), 1L)))
    } finally query.stop()
  }

  test("xlsxIngest: workbooks stream through the executor-side decoder, exactly once") {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(tmpDir("xlsx-stream"))
    val inDir = base.resolve("Insert"); Files.createDirectories(inDir)
    val outDir = base.resolve("out").toString
    graft.sources.Xlsx.write(inDir.resolve("a.xlsx").toString,
      Seq("id", "wert"), Seq(Seq(1, "x"), Seq(2, "y")))
    val query = Streams.xlsxIngest(spark, inDir.toString, Seq("id", "wert"), outDir,
      base.resolve("ckpt").toString, base.resolve("archive").toString)
    try {
      query.processAllAvailable()
      val first = spark.read.parquet(outDir)
      assert(first.count() == 2)
      assert(first.columns.toSet ==
        Set("id", "wert", "dateiname", "exportdatum", "datenproduzent"))
      assert(first.filter("dateiname = 'a.xlsx' AND id = '1' AND wert = 'x'").count() == 1)
      // incremental: a second workbook appends without reprocessing the first
      graft.sources.Xlsx.write(inDir.resolve("b.xlsx").toString,
        Seq("id", "wert"), Seq(Seq(3, "z")))
      query.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 3)
    } finally query.stop()
  }

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)

  test("dedupExact: duplicate fingerprints within the watermark are dropped, state bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = Streams.dedupExact(input.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(1, ts("2026-01-01 09:00:00"), "the quick brown fox"),
        Doc(2, ts("2026-01-01 09:01:00"), "The  quick   BROWN fox"), // same normalized content
        Doc(3, ts("2026-01-01 09:02:00"), "something else entirely"))
      query.processAllAvailable()
      input.addData(Doc(4, ts("2026-01-01 11:00:00"), "past the watermark"))
      query.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L) && ids.contains(4L))
      assert(ids.contains(1L) ^ ids.contains(2L),
        s"exactly one of the normalized duplicates must survive, got $ids")
    } finally query.stop()
  }

  test("signatureStream: continuous signature table matches the batch signature stage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Paths.get(tmpDir("sigstream"))
    val input = MemoryStream[Doc]
    val query = Streams.signatureStream(input.toDF(),
      base.resolve("sigs").toString, base.resolve("ckpt").toString, k = 12)
    try {
      val texts = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta zeta"),
        (3L, "totally different words here now"))
      input.addData(texts.map { case (id, t) => Doc(id, ts("2026-01-01 09:00:00"), t) }: _*)
      query.processAllAvailable()
      val streamed = spark.read.parquet(base.resolve("sigs").toString)
      assert(streamed.count() == 3)
      // batch twin over the same texts — signatures must be identical
      import graft.functions.{TextFunctions => T}
      val batch = texts.toDF("doc_id", "text")
        .withColumn("toks", T.tokens($"text"))
        .withColumn("shingles", T.shingles("toks"))
        .withColumn("hashes", org.apache.spark.sql.functions.transform($"shingles", s => T.hash32(s)))
        .select($"doc_id", T.minhashFromHashes($"hashes", 12).as("sig"),
          T.simhashFromHashes($"hashes").as("simhash"))
      val joined = streamed.as("s").join(batch.as("b"), "doc_id")
        .filter($"s.sig" =!= $"b.sig" || $"s.simhash" =!= $"b.simhash")
      assert(joined.count() == 0, "streamed signatures must equal the batch stage")
    } finally query.stop()
  }

  test("semDedupStream: chain admission — rejected witness still witnesses, state crosses batches, cells isolate") {
    // state-v2 needs the RocksDB provider on a cloned session
    val s2 = Streams.session(spark, Streams.Store.RocksDb, Streams.StatePartitions.Default)
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def unit(deg: Double): Seq[Double] =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def row(id: Long, cell: Long, deg: Double): Streams.VecRow =
      Streams.VecRow(id, cell, unit(deg), 1.0)
    val input = MemoryStream[Streams.VecRow]
    val query = Streams.semDedupStream(input.toDS(), threshold = 0.9)
      .toDF()
      .writeStream.format("memory").queryName("semdedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // cell 0, batch 1 (unsorted on purpose — the processor sorts):
      //   v1@0° admitted; v2@20° rejected (cos 20° ≈ .94 vs v1);
      //   v3@40° rejected by v2 (cos 20°) even though v2 was itself
      //   rejected — chain semantics — while cos(v1,v3)=cos 40° ≈ .77 < τ.
      // cell 1: same direction as v1, but its own state -> admitted.
      input.addData(row(3, 0, 40.0), row(1, 0, 0.0), row(2, 0, 20.0), row(10, 1, 0.0))
      query.processAllAvailable()
      // batch 2: v4@60° rejected by batch 1's REJECTED v3 (cross-batch
      // state includes non-survivors); v5@150° far from everything.
      input.addData(row(4, 0, 60.0), row(5, 0, 150.0))
      query.processAllAvailable()
      val admitted = s2.sql("SELECT vec_id, cell FROM semdedup_out")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(admitted == Map(1L -> 0L, 10L -> 1L, 5L -> 0L),
        s"expected {1, 10, 5} admitted, got $admitted")
    } finally query.stop()
  }

  test("semDedupStream: a late lower id fails the query loudly (ordering contract enforced)") {
    val s2 = Streams.session(spark, Streams.Store.RocksDb, Streams.StatePartitions.Default)
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val input = MemoryStream[Streams.VecRow]
    val query = Streams.semDedupStream(input.toDS(), threshold = 0.9)
      .toDF()
      .writeStream.format("memory").queryName("semdedup_order_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Streams.VecRow(5, 0, Seq(1.0, 0.0), 1.0))
      query.processAllAvailable()
      input.addData(Streams.VecRow(3, 0, Seq(0.0, 1.0), 1.0)) // id 3 after 5: contract violation
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(c => c.getMessage != null &&
          c.getMessage.contains("ordering contract violated")),
        s"expected the contract violation to surface, got: $e")
    } finally query.stop()
  }

  test("dsirScoreStream: stateless map-side scoring; unseen buckets take the Laplace floor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{TextFunctions => T}
    // bucket of "a b" under the md5-derived hash32, model scale 1000
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val fb = Seq(("a b", 0L)).toDF("f", "z")
      .select(pmod(T.hash32(col("f")), lit(8192L))).head().getLong(0)
    val weights = Map(fb -> 7L) // every OTHER bucket is unseen -> floor 1000
    val input = MemoryStream[Doc]
    val query = Streams.dsirScoreStream(input.toDF(), weights, scale = 1000L)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(1, ts("2026-01-01 09:00:00"), "a b"),        // 1 feat, trained bucket
        Doc(2, ts("2026-01-01 09:00:00"), "x y z"),      // 2 feats, both unseen
        Doc(3, ts("2026-01-01 09:00:00"), "solo"))       // <2 tokens -> dropped
      query.processAllAvailable()
      val out = spark.sql("SELECT doc_id, n_feats, dsir_weight FROM dsir_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(out == Map(1L -> ((1L, 7L)), 2L -> ((2L, 2000L))),
        s"unexpected scores: $out")
    } finally query.stop()
  }
}

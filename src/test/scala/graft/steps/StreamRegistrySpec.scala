package graft.steps

import org.scalatest.funsuite.AnyFunSuite

import graft.model.RunLevel
import graft.queries.EndToEnd
import graft.testkit.SparkSupport

/** Drain lifecycles of the r14 STREAM registry additions
  * (`sessionize_stream`, `windowed_counts_stream` — VERDICT r13 missing
  * #3) plus the q117 workflow's orchestration contract: each
  * `Steps.execute` is one bounded AvailableNow catch-up tick, state
  * carries across drains in the checkpoint, an empty re-drain admits
  * zero, and the batch consumer really reads the stream's sink. The
  * emitted VALUES at corpus scale are the q117 DuckDB oracle's job.
  */
class StreamRegistrySpec extends AnyFunSuite with SparkSupport {

  private val sf = "/root/testdata/sf0.001"

  /** The RocksDB streaming session opens (Spark 4+ with the provider). */
  private def stateV2Available: Boolean = scala.util.Try(graft.streaming.Streams.session(
    spark, graft.streaming.Streams.Store.RocksDb,
    graft.streaming.Streams.StatePartitions.Default)).isSuccess

  private def ctx(base: String): StepContext = StepContext(spark,
    new graft.catalog.Warehouse(s"$base/wh"), new graft.ledger.RunLedger(),
    graft.macros.Macros.Context(1L,
      java.time.LocalDateTime.of(2026, 1, 1, 0, 0),
      java.time.LocalDateTime.of(2026, 1, 2, 0, 0)))

  /** One parquet arrival file of (user_id, ts, event_type, value). */
  private def dropEvents(inDir: java.io.File, name: String,
      rows: Seq[(Long, String, String, Double)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = new java.io.File(inDir.getParentFile, s"tmp-$name")
    rows.toDF("user_id", "tss", "event_type", "value")
      .select(col("user_id"), col("tss").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      .coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
  }

  test("sessionize_stream: 3-drain lifecycle — timeout close, empty re-drain, gap close across drains") {
    val base = tmpDir("graft-ss-step")
    val in = new java.io.File(s"$base/in")
    // u1: two events 10 min apart (one session; its timeout at last+gap
    // = 00:40 is passed by the drain's final watermark 02:30) — closes.
    // u2: one event at 03:00 — timeout 03:30 > watermark, stays open.
    dropEvents(in, "e1.parquet", Seq(
      (1L, "2026-01-01 00:00:00", "click", 1.0),
      (1L, "2026-01-01 00:10:00", "click", 1.0),
      (2L, "2026-01-01 03:00:00", "view", 1.0)))
    val c = ctx(base)
    val cmd = s"sessionize_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
      s"out=$base/out"
    val spec = StepSpec(8800, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("ss_out"))
    assert(Steps.execute(spec, c).contains(1L),
      "drain 1 must emit exactly u1's timeout-closed session")

    // nothing new arrived: the checkpoint (not sink emptiness) is the
    // dedup boundary, and open state must not re-emit
    assert(Steps.execute(spec, c).contains(0L))

    // u2's next event is > gap after its open session: the old session
    // closes by GAP (state carried across drains in the checkpoint)
    dropEvents(in, "e2.parquet", Seq((2L, "2026-01-01 06:00:00", "view", 1.0)))
    assert(Steps.execute(spec, c).contains(1L))

    val sink = spark.read
      .schema("user_id BIGINT, session_start TIMESTAMP, n_events BIGINT, closed BOOLEAN")
      .parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(sink == Set(
      (1L, "2026-01-01 00:00:00.0", 2L),
      (2L, "2026-01-01 03:00:00.0", 1L)),
      s"closed sessions must carry start + event count; got $sink")
  }

  test("windowed_counts_stream: 3-drain lifecycle — watermark closes windows, empty re-drain admits zero") {
    val base = tmpDir("graft-wc-step")
    val in = new java.io.File(s"$base/in")
    // window [00:00,01:00) holds two clicks; the 03:00 event drives the
    // watermark to 02:30, closing it. [03:00,04:00) stays open.
    dropEvents(in, "w1.parquet", Seq(
      (1L, "2026-01-01 00:05:00", "click", 1.0),
      (1L, "2026-01-01 00:15:00", "click", 1.0),
      (2L, "2026-01-01 03:00:00", "view", 1.0)))
    val c = ctx(base)
    val cmd = s"windowed_counts_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
      s"out=$base/out"
    val spec = StepSpec(8810, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("wc_out"))
    assert(Steps.execute(spec, c).contains(1L),
      "drain 1 must emit exactly the closed [00:00,01:00) window")
    assert(Steps.execute(spec, c).contains(0L))
    // a later event advances the watermark past the open window's end
    dropEvents(in, "w2.parquet", Seq((1L, "2026-01-01 06:00:00", "click", 1.0)))
    assert(Steps.execute(spec, c).contains(1L))

    val sink = spark.read
      .schema("window_start TIMESTAMP, event_type STRING, n BIGINT")
      .parquet(s"$base/out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(sink == Set(
      ("2026-01-01 00:00:00.0", "click", 2L),
      ("2026-01-01 03:00:00.0", "view", 1L)),
      s"closed windows must carry start + type + count; got $sink")
  }

  /** One parquet arrival file of (doc_id, text). */
  private def dropDocsFile(inDir: java.io.File, name: String,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val tmp = new java.io.File(inDir.getParentFile, s"tmp-$name")
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath, new java.io.File(inDir, name).toPath)
  }

  test("neardup_admit_stream: 3-drain lifecycle — bootstrap, history growth across drains, empty re-drain") {
    import spark.implicits._
    val base = tmpDir("graft-nda-step")
    val in = new java.io.File(s"$base/in")
    val c = ctx(base)
    Seq((100L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
      .createOrReplaceTempView("nda_seed")
    val cmd = s"neardup_admit_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"doc_id BIGINT, text STRING\" " +
      "seed=nda_seed hist=nda_hist out=nda_out wm=nda_wm maxfiles=1"
    val spec = StepSpec(8820, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("nda_out"), quelltabelle = Some("nda_hist,nda_wm"))
    // drain 1: doc 1 duplicates the SEED doc (rejected), doc 2 admits
    dropDocsFile(in, "d1.parquet",
      Seq((1L, "x1 x2 x3 x4 x5"), (2L, "y1 y2 y3 y4")))
    assert(Steps.execute(spec, c).contains(1L),
      "drain 1 must admit exactly doc 2 (doc 1 duplicates the seed)")
    // bootstrap happened once: the seed doc is batch-0 history
    assert(c.warehouse.read(spark, "nda_hist").filter("batch = 0").count() == 1)
    // empty re-drain: the checkpoint is the dedup boundary
    assert(Steps.execute(spec, c).contains(0L))
    // drain 2: doc 3 duplicates ADMITTED doc 2 — history growth across
    // drains is load-bearing; doc 4 admits
    dropDocsFile(in, "d2.parquet",
      Seq((3L, "y1 y2 y3 y4"), (4L, "z1 z2 z3")))
    assert(Steps.execute(spec, c).contains(1L),
      "drain 2 must reject the near-dup of an admitted doc from drain 1")
    // batch tags are 1 and 2: the empty drain consumed no batch id
    val out = c.warehouse.read(spark, "nda_out")
      .select("batch", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (2L, 4L)), s"got $out")
    assert(c.warehouse.read(spark, "nda_hist")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(100L, 2L, 4L),
      "history must hold seed + admitted docs only")
  }

  test("neardup_admit_stream: a mid-drain crash replays exactly-once on the next run (poisoned file, then fixed)") {
    import spark.implicits._
    val base = tmpDir("graft-nda-crash")
    val in = new java.io.File(s"$base/in")
    val c = ctx(base)
    Seq((100L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
      .createOrReplaceTempView("ndac_seed")
    val cmd = s"neardup_admit_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"doc_id BIGINT, text STRING\" " +
      "seed=ndac_seed hist=ndac_hist out=ndac_out wm=ndac_wm maxfiles=1"
    val spec = StepSpec(8830, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("ndac_out"), quelltabelle = Some("ndac_hist,ndac_wm"))
    dropDocsFile(in, "d1.parquet", Seq((2L, "y1 y2 y3 y4")))
    // file 2 is garbage bytes under a .parquet name: batch 1 commits,
    // batch 2 CRASHES mid-drain, the step fails loudly
    in.mkdirs()
    java.nio.file.Files.write(new java.io.File(in, "d2.parquet").toPath,
      "not a parquet file".getBytes)
    intercept[Exception] { Steps.execute(spec, c) }
    // batch 1's work committed before the crash
    assert(c.warehouse.read(spark, "ndac_out").count() == 1)
    // operator fixes the file in place (same name — the source re-reads
    // an uncommitted file on restart) and re-runs the step on the SAME
    // checkpoint: doc 3 near-dups admitted doc 2, doc 4 admits
    new java.io.File(in, "d2.parquet").delete()
    dropDocsFile(in, "d2.parquet",
      Seq((3L, "y1 y2 y3 y4"), (4L, "z1 z2 z3")))
    assert(Steps.execute(spec, c).contains(1L))
    val out = c.warehouse.read(spark, "ndac_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L),
      s"replay must neither duplicate batch 1 nor re-admit the near-dup; got $out")
    assert(c.warehouse.read(spark, "ndac_hist")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(100L, 2L, 4L))
  }

  test("neardup_admit_stream + maintenance tick: the next drain's scans are manifest-pruned, ledger shows it per batch") {
    // the metadata lifecycle closed in executed code: bootstrap drains
    // run on unmanifested tables (full-scan fallback, rows exact), a
    // MAINTENANCE optimize_zorder + refresh_stats tick between drains
    // makes the NEXT drain's band/confirm scans scheduled < total —
    // read straight from the per-batch ledger messages
    import spark.implicits._
    val base = tmpDir("graft-nda-maint")
    val in = new java.io.File(s"$base/in")
    val c = ctx(base)
    // 60 unique-vocab seed docs so the band table spans many files
    (0L until 60L).map(i =>
      (100L + i, s"s${i}a s${i}b s${i}c s${i}d s${i}e"))
      .toDF("doc_id", "text").createOrReplaceTempView("nda2_seed")
    val cmd = s"neardup_admit_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"doc_id BIGINT, text STRING\" " +
      "seed=nda2_seed hist=nda2_hist hist_bands=nda2_bands " +
      "out=nda2_out wm=nda2_wm maxfiles=1"
    val spec = StepSpec(8860, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("nda2_out"), quelltabelle = Some("nda2_hist,nda2_bands,nda2_wm"))
    dropDocsFile(in, "d1.parquet", Seq((1L, "y1 y2 y3 y4")))
    assert(Steps.execute(spec, c).contains(1L))
    val msgs1 = c.ledger.allMessages.map(_.meldungstext)
    assert(msgs1.exists(_.contains("batch 1 bands scan")),
      s"bootstrap drain must log its (unpruned) scheduling; messages: ${msgs1.mkString("; ")}")
    // the maintenance tick: lay out + manifest both historic tables
    def maint(id: Long, cmdM: String, table: String): Unit = {
      Steps.execute(StepSpec(id, CommandType.Copy, TaskType.Maintenance, cmdM,
        zieltabelle = Some(table)), c); ()
    }
    maint(8861, "optimize_zorder cols=key64 bits=14 rows_per_file=4 quantile=true", "nda2_bands")
    maint(8862, "refresh_stats cols=key64", "nda2_bands")
    maint(8863, "optimize_zorder cols=doc_id bits=14 rows_per_file=4 quantile=true", "nda2_hist")
    maint(8864, "refresh_stats cols=doc_id", "nda2_hist")
    // next drain: a 1-doc batch probes ~4 band keys against ~60 files
    dropDocsFile(in, "d2.parquet", Seq((2L, "z1 z2 z3 z4")))
    assert(Steps.execute(spec, c).contains(1L))
    val re = "neardup_admit_stream batch 2 bands scan: scheduled (\\d+) of (\\d+) files".r
    val (sched, total) = c.ledger.allMessages.map(_.meldungstext)
      .collectFirst { case re(s, t) => (s.toInt, t.toInt) }
      .getOrElse(fail("no batch-2 bands scheduling message"))
    assert(total > 10 && sched < total,
      s"post-maintenance drain must prune the band scan: $sched of $total")
    // rows stayed exact through the layout rewrite + manifest
    assert(c.warehouse.read(spark, "nda2_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("sessionize_stream: a mid-drain crash replays exactly-once on the next run (r15, VERDICT r14 next #7)") {
    // the whole STREAM family must pin exactly-once, not just the
    // foreachBatch streams: for sink-writing streams the guarantee is
    // the parquet sink's _spark_metadata log + the state store — a
    // crashed drain must neither re-emit batch 1's closed sessions nor
    // lose the open state that batch 2 closes
    val base = tmpDir("graft-ss-crash")
    val in = new java.io.File(s"$base/in")
    val c = ctx(base)
    val cmd = s"sessionize_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
      s"out=$base/out maxfiles=1"
    val spec = StepSpec(8840, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("ssc_out"))
    // u1's session closes by timeout inside batch 1 (watermark from the
    // 03:00 event); u2's stays open in state
    dropEvents(in, "e1.parquet", Seq(
      (1L, "2026-01-01 00:00:00", "click", 1.0),
      (1L, "2026-01-01 00:10:00", "click", 1.0),
      (2L, "2026-01-01 03:00:00", "view", 1.0)))
    in.mkdirs()
    java.nio.file.Files.write(new java.io.File(in, "e2.parquet").toPath,
      "not a parquet file".getBytes)
    intercept[Exception] { Steps.execute(spec, c) }
    // fix the poisoned file in place; its 06:00 event closes u2 by gap
    new java.io.File(in, "e2.parquet").delete()
    dropEvents(in, "e2.parquet", Seq((2L, "2026-01-01 06:00:00", "view", 1.0)))
    // the crashed drain died before its no-data flush batch, so u1's
    // timeout close AND u2's gap close both land in the replayed drain
    assert(Steps.execute(spec, c).contains(2L),
      "the replayed drain must close u1 (timeout) and u2's old session (gap)")
    val sink = spark.read
      .schema("user_id BIGINT, session_start TIMESTAMP, n_events BIGINT, closed BOOLEAN")
      .parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
    assert(sink.sorted == Seq(
      (1L, "2026-01-01 00:00:00.0", 2L),
      (2L, "2026-01-01 03:00:00.0", 1L)),
      s"exactly-once across the crash: no duplicate or lost sessions; got $sink")
  }

  test("windowed_counts_stream: a mid-drain crash replays exactly-once on the next run (r15, VERDICT r14 next #7)") {
    val base = tmpDir("graft-wc-crash")
    val in = new java.io.File(s"$base/in")
    val c = ctx(base)
    val cmd = s"windowed_counts_stream dir=$in ckpt=$base/ckpt " +
      "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
      s"out=$base/out maxfiles=1"
    val spec = StepSpec(8850, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("wcc_out"))
    dropEvents(in, "w1.parquet", Seq(
      (1L, "2026-01-01 00:05:00", "click", 1.0),
      (1L, "2026-01-01 00:15:00", "click", 1.0),
      (2L, "2026-01-01 03:00:00", "view", 1.0)))
    in.mkdirs()
    java.nio.file.Files.write(new java.io.File(in, "w2.parquet").toPath,
      "not a parquet file".getBytes)
    intercept[Exception] { Steps.execute(spec, c) }
    new java.io.File(in, "w2.parquet").delete()
    dropEvents(in, "w2.parquet", Seq((1L, "2026-01-01 06:00:00", "click", 1.0)))
    // the crashed drain died before the watermark-advance flush, so
    // both windows close in the replayed drain
    assert(Steps.execute(spec, c).contains(2L),
      "the replayed drain must close the [00:00,01:00) and [03:00,04:00) windows")
    val sink = spark.read
      .schema("window_start TIMESTAMP, event_type STRING, n BIGINT")
      .parquet(s"$base/out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq
    assert(sink.sorted == Seq(
      ("2026-01-01 00:00:00.0", "click", 2L),
      ("2026-01-01 03:00:00.0", "view", 1L)),
      s"exactly-once across the crash: no duplicate or lost windows; got $sink")
  }

  test("semdedup_stream: 3-drain lifecycle — admission chain carries in RocksDB state across drains") {
    assume(stateV2Available, "state-v2 backend unavailable")
    import spark.implicits._
    val base = tmpDir("graft-sd-step")
    val c = ctx(base)
    // seeded codebook TABLE: two orthogonal centroids in 2-D
    c.warehouse.replace("sdct",
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "ce"))
    def dropVecs(name: String, rows: Seq[(Long, Seq[Double])]): Unit = {
      val in = new java.io.File(s"$base/in")
      val tmp = new java.io.File(s"$base/tmp-$name")
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      in.mkdirs()
      java.nio.file.Files.move(part.toPath, new java.io.File(in, name).toPath)
    }
    // v0 -> cell 0, admitted; v1 -> cell 0, cosine ~0.99 vs v0 ->
    // rejected; v2 -> cell 1, admitted
    dropVecs("v1.parquet", Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.99, 0.14)), (2L, Seq(0.0, 1.0))))
    val cmd = s"semdedup_stream dir=$base/in ckpt=$base/ckpt " +
      "schema=\"vec_id BIGINT, embedding ARRAY<DOUBLE>\" " +
      s"out=$base/out cents=sdct threshold=0.3"
    val spec = StepSpec(8820, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("sd_out"), quelltabelle = Some("sdct"))
    assert(Steps.execute(spec, c).contains(2L),
      "drain 1 must admit the two cell representatives and reject the near-dup")
    assert(Steps.execute(spec, c).contains(0L))
    // v3 -> cell 1 (nearest centroid), cosine vs v2 ~0.05 < threshold:
    // admitted against state CARRIED from drain 1
    dropVecs("v2.parquet", Seq((3L, Seq(-1.0, 0.05))))
    assert(Steps.execute(spec, c).contains(1L))
    val sink = spark.read.schema("vec_id BIGINT, cell BIGINT")
      .parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sink == Set((0L, 0L), (2L, 1L), (3L, 1L)), s"got $sink")
  }

  test("semdedup_stream: statepartitions sizes the state layout at stream birth; parent session untouched") {
    assume(stateV2Available, "state-v2 backend unavailable")
    import spark.implicits._
    val base = tmpDir("graft-sd-parts")
    val c = ctx(base)
    c.warehouse.replace("sdct2",
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "ce"))
    val in = new java.io.File(s"$base/in")
    val tmp = new java.io.File(s"$base/tmp-v1")
    Seq((0L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(tmp.toString)
    in.mkdirs()
    java.nio.file.Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new java.io.File(in, "v1.parquet").toPath)
    val parentShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    assert(parentShuffle != "2", "fixture needs a knob value ≠ the session default")
    val cmd = s"semdedup_stream dir=$base/in ckpt=$base/ckpt " +
      "schema=\"vec_id BIGINT, embedding ARRAY<DOUBLE>\" " +
      s"out=$base/out cents=sdct2 threshold=0.3 statepartitions=2"
    val spec = StepSpec(8821, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("sdp_out"), quelltabelle = Some("sdct2"))
    assert(Steps.execute(spec, c).contains(2L))
    // stateful-operator parallelism is FIXED at the first checkpoint by
    // the shuffle-partition count at stream birth — the knob must land
    // there (2 state partition dirs, not the session default)…
    val parts = new java.io.File(s"$base/ckpt/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toInt).sorted.toSeq
    assert(parts == (0 until 2), s"state partition dirs: $parts")
    // …and must NOT leak into the parent session's batch setting
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentShuffle)
  }

  test("file_ingest_stream format=jsonl: the drop-folder step ingests line-delimited JSON with audit columns") {
    val base = tmpDir("graft-jsonl-step")
    val in = new java.io.File(s"$base/in")
    in.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(in, "d0.jsonl").toPath,
      """{"doc_id":1,"lang":"en","text":"alpha beta"}
        |{"doc_id":2,"lang":"de","text":"gamma"}
        |""".stripMargin)
    val c = ctx(base)
    val cmd = s"file_ingest_stream dir=$in ckpt=$base/ckpt archive=$base/arch " +
      "schema=\"doc_id BIGINT, lang STRING, text STRING\" " +
      s"out=$base/out format=jsonl"
    val spec = StepSpec(8840, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("jl_out"))
    assert(Steps.execute(spec, c).contains(2L))
    assert(Steps.execute(spec, c).contains(0L), "empty re-drain admits zero")
    val sink = spark.read.parquet(s"$base/out")
      .selectExpr("doc_id", "lang", "text", "dateiname")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(sink == Set((1L, "en", "alpha beta", "d0.jsonl"),
      (2L, "de", "gamma", "d0.jsonl")), s"got $sink")
    // a junk format fails loudly — never silent CSV fallback
    val bad = cmd.replace("format=jsonl", "format=xml")
    val e = intercept[Exception] {
      Steps.execute(StepSpec(8841, CommandType.Copy, TaskType.Stream, bad,
        zieltabelle = Some("jl_out")), c)
    }
    assert(e.getMessage.contains("unknown source format"))
  }

  test("drain accounting is per-query: two concurrent STREAM steps on one session never cross-pollute") {
    // both steps share ctx.spark, so both progress listeners see BOTH
    // queries' events — the query-id keying in drainObserved is what
    // keeps each step's ErwarteteDaten its own (the claim this pins)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val base = tmpDir("graft-wc-conc")
    def fixture(tag: String, nClosable: Int): StepSpec = {
      val in = new java.io.File(s"$base/$tag/in")
      // nClosable one-event windows at hours 0..n-1, plus a late event
      // far enough out that its watermark closes all of them
      val rows = (0 until nClosable).map { h =>
        (h.toLong, f"2026-01-01 $h%02d:05:00", "click", 1.0)
      } :+ ((99L, "2026-01-02 12:00:00", "view", 1.0))
      dropEvents(in, "w.parquet", rows)
      StepSpec(8830 + nClosable, CommandType.Copy, TaskType.Stream,
        s"windowed_counts_stream dir=$in ckpt=$base/$tag/ckpt " +
          "schema=\"user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE\" " +
          s"out=$base/$tag/out maxfiles=2",
        zieltabelle = Some(s"wc_$tag"))
    }
    val c = ctx(base)
    val (specA, specB) = (fixture("a", 1), fixture("b", 3))
    val (a, b) = Await.result(
      Future(Steps.execute(specA, c)).zip(Future(Steps.execute(specB, c))),
      5.minutes)
    assert(a.contains(1L), s"stream A must account exactly its 1 closed window, got $a")
    assert(b.contains(3L), s"stream B must account exactly its 3 closed windows, got $b")
  }

  test("dsir_score_stream: stateless scoring — LM from a table, every arriving doc scores map-side") {
    import spark.implicits._
    val base = tmpDir("graft-ds-step")
    val c = ctx(base)
    // LM corpus table: the target language's bigrams get high weight
    c.warehouse.replace("ds_lm", Seq(
      (100L, "the quick fox", "en"),
      (101L, "der schnelle fuchs", "de")).toDF("doc_id", "text", "lang"))
    def dropDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val in = new java.io.File(s"$base/in")
      val tmp = new java.io.File(s"$base/tmp-$name")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      in.mkdirs()
      java.nio.file.Files.move(part.toPath, new java.io.File(in, name).toPath)
    }
    dropDocs("d1.parquet", Seq((1L, "the quick fox"), (2L, "der schnelle fuchs")))
    val cmd = s"dsir_score_stream dir=$base/in ckpt=$base/ckpt " +
      "schema=\"doc_id BIGINT, text STRING\" " +
      s"out=$base/out lm=ds_lm target_lang=en"
    val spec = StepSpec(8830, CommandType.Copy, TaskType.Stream, cmd,
      zieltabelle = Some("ds_out"), quelltabelle = Some("ds_lm"))
    assert(Steps.execute(spec, c).contains(2L))
    assert(Steps.execute(spec, c).contains(0L))
    dropDocs("d2.parquet", Seq((3L, "the quick fuchs")))
    assert(Steps.execute(spec, c).contains(1L))
    // scoring semantics, not just counts: the batch operator's weights
    // applied to the same docs must reproduce the streamed scores
    val weights = graft.operators.Dsir.weightMap(
      c.warehouse.read(spark, "ds_lm"), "doc_id", "text",
      targetPred = org.apache.spark.sql.functions.col("lang") === "en")
    val expected = graft.streaming.Streams.dsirScoreStream(
      Seq((1L, "the quick fox"), (2L, "der schnelle fuchs"), (3L, "the quick fuchs"))
        .toDF("doc_id", "text"), weights)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sink = spark.read
      .schema("doc_id BIGINT, n_feats BIGINT, dsir_weight BIGINT")
      .parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sink == expected, s"streamed scores must equal the mode-blind batch form; got $sink vs $expected")
  }

  test("q117 happy path: STREAM and its batch consumer close green; consumer aggregates the sink") {
    val (result, ledger, wh) = EndToEnd.runSessionStreamWorkflow(spark, sf)
    assert(result.success && !result.fallbackRan && result.error.isEmpty)
    val rows = ledger.current
    def level(l: String) = rows.filter(_.level == l)
    assert(level(RunLevel.Schritt).forall(r => r.istAbgeschlossen && r.erfolgreich))
    def step(ref: Long) = level(RunLevel.Schritt).find(_.refId == ref).get
    // the STREAM step accounts the closed sessions it admitted; the
    // consumer's per-user stats must re-aggregate exactly that set
    val stats = wh.read(spark, "ss_user_stats")
    val closedSessions = step(11100L).erwarteteDaten.get
    assert(closedSessions > 0)
    assert(stats.agg(org.apache.spark.sql.functions.sum("n_sessions"))
      .head.getLong(0) == closedSessions,
      "the batch consumer must see exactly the stream's committed sessions")
    assert(step(11200L).erwarteteDaten.contains(stats.count()))
    // both commands land in the query log, expanded
    val queries = ledger.allQueries.map(_.sql)
    assert(queries.exists(_.startsWith("sessionize_stream ")))
    assert(queries.exists(q => q.contains("FROM parquet.") && q.contains("GROUP BY user_id")))
  }

  test("q118: the semdedup STREAM step accounts its admissions; a missing centroid table falls back") {
    assume(stateV2Available, "state-v2 backend unavailable")
    val (result, ledger, _, out) = EndToEnd.runSemdedupStreamWorkflow(spark, sf)
    assert(result.success && !result.fallbackRan && result.error.isEmpty)
    val admitted = spark.read.schema("vec_id BIGINT, cell BIGINT").parquet(out).count()
    assert(admitted > 0)
    def step(rows: Seq[graft.model.RunRow], ref: Long) =
      rows.find(r => r.level == RunLevel.Schritt && r.refId == ref).get
    assert(step(ledger.current, 12200L).erwarteteDaten.contains(admitted))
    assert(ledger.allQueries.map(_.sql).exists(q =>
      q.startsWith("semdedup_stream ") && q.contains("cents=sd_cents")))

    val (failed, ledger2, _, _) =
      EndToEnd.runSemdedupStreamWorkflow(spark, sf, induceFailure = true)
    assert(!failed.success && failed.fallbackRan && failed.error.isDefined)
    assert(step(ledger2.current, 12200L).istAbgeschlossen &&
      !step(ledger2.current, 12200L).erfolgreich)
    assert(step(ledger2.current, 12900L).erfolgreich,
      "the compensation step must execute after the failure")
  }

  test("q117 induced failure: a stream that cannot start fails the step; consumer never runs; fallback compensates") {
    val (result, ledger, _) =
      EndToEnd.runSessionStreamWorkflow(spark, sf, induceFailure = true)
    assert(!result.success && result.fallbackRan && result.error.isDefined)
    val rows = ledger.current
    def step(ref: Long) = rows.find(r => r.level == RunLevel.Schritt && r.refId == ref)
    assert(step(11100L).exists(r => r.istAbgeschlossen && !r.erfolgreich))
    assert(step(11200L).forall(r => !r.erfolgreich),
      "the consumer must not run green after its producer failed")
    assert(step(11900L).exists(r => r.istAbgeschlossen && r.erfolgreich),
      "the compensation step must execute after the failure")
  }

  test("q119 happy path: windowed-counts STREAM accounts closed windows; consumer aggregates the sink") {
    val (result, ledger, wh) = EndToEnd.runWindowedCountsWorkflow(spark, sf)
    assert(result.success && !result.fallbackRan && result.error.isEmpty)
    val rows = ledger.current
    def step(ref: Long) = rows.find(r =>
      r.level == RunLevel.Schritt && r.refId == ref).get
    // the STREAM step accounts the closed windows it admitted; the
    // consumer's per-type stats must re-aggregate exactly that set
    val closedWindows = step(13100L).erwarteteDaten.get
    assert(closedWindows > 0)
    val stats = wh.read(spark, "wc_type_stats")
    assert(stats.agg(org.apache.spark.sql.functions.sum("n_windows"))
      .head.getLong(0) == closedWindows,
      "the batch consumer must see exactly the stream's committed windows")
    assert(step(13200L).erwarteteDaten.contains(stats.count()))
    val queries = ledger.allQueries.map(_.sql)
    assert(queries.exists(_.startsWith("windowed_counts_stream ")))
    assert(queries.exists(q => q.contains("FROM parquet.") && q.contains("GROUP BY event_type")))
  }

  test("q119 induced failure: missing drop folder fails the step; fallback compensates") {
    val (result, ledger, _) =
      EndToEnd.runWindowedCountsWorkflow(spark, sf, induceFailure = true)
    assert(!result.success && result.fallbackRan && result.error.isDefined)
    val rows = ledger.current
    def step(ref: Long) = rows.find(r => r.level == RunLevel.Schritt && r.refId == ref)
    assert(step(13100L).exists(r => r.istAbgeschlossen && !r.erfolgreich))
    assert(step(13200L).forall(r => !r.erfolgreich),
      "the consumer must not run green after its producer failed")
    assert(step(13900L).exists(r => r.istAbgeschlossen && r.erfolgreich),
      "the compensation step must execute after the failure")
  }

  test("q120 happy path: DSIR stream scores against the table-fed LM; consumer takes the top-k") {
    val (result, ledger, wh) = EndToEnd.runDsirStreamWorkflow(spark, sf)
    assert(result.success && !result.fallbackRan && result.error.isEmpty)
    val rows = ledger.current
    def step(ref: Long) = rows.find(r =>
      r.level == RunLevel.Schritt && r.refId == ref).get
    // the stream scored every doc with >= 2 tokens; the consumer holds
    // at most 100 of them, ordered deterministically
    val scored = step(14200L).erwarteteDaten.get
    assert(scored > 0)
    val top = wh.read(spark, "dw_top")
    assert(top.count() == math.min(scored, 100L))
    assert(step(14300L).erwarteteDaten.contains(top.count()))
    // scoring really used the LM table: weights trained batch-side from
    // the same table reproduce the streamed scores for the top rows
    val weights = graft.operators.Dsir.weightMap(
      wh.read(spark, "dw_lm"), "doc_id", "text",
      targetPred = org.apache.spark.sql.functions.col("lang") === "en")
    val expected = graft.streaming.Streams.dsirScoreStream(
        graft.catalog.Tables.load(spark, sf, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id").cast("long").as("doc_id"),
            org.apache.spark.sql.functions.col("text")), weights)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    top.collect().foreach { r =>
      assert(expected(r.getLong(0)) == (r.getLong(1), r.getLong(3)),
        s"doc ${r.getLong(0)}: streamed scores must equal the mode-blind batch form")
    }
    val queries = ledger.allQueries.map(_.sql)
    assert(queries.exists(q => q.startsWith("dsir_score_stream ") && q.contains("lm=dw_lm")))
  }

  test("q120 induced failure: missing LM table fails the stream step; fallback compensates") {
    val (result, ledger, _) =
      EndToEnd.runDsirStreamWorkflow(spark, sf, induceFailure = true)
    assert(!result.success && result.fallbackRan && result.error.isDefined)
    val rows = ledger.current
    def step(ref: Long) = rows.find(r => r.level == RunLevel.Schritt && r.refId == ref)
    assert(step(14200L).exists(r => r.istAbgeschlossen && !r.erfolgreich))
    assert(step(14300L).forall(r => !r.erfolgreich),
      "the consumer must not run green after its producer failed")
    assert(step(14900L).exists(r => r.istAbgeschlossen && r.erfolgreich),
      "the compensation step must execute after the failure")
  }
}

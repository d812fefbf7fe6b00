package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured-Streaming operators over the `events` stream shape
  * (user_id, ts, event_type, value). The reference has no streaming at
  * all (SURVEY §2.5 — its only continuous behavior is the 10 s scheduler
  * poll); these are the capabilities a continuously-fed 100 TB pipeline
  * adds on top: watermarked windowed aggregation and stateful
  * sessionization. Batch twins are q08 (windowed counts) and q12
  * (sessionize), so the semantics stay oracle-checkable.
  */
object Streams {

  /** Observed-metric name counting rows a stream delivered to its sink
    * — attached via `df.observe(AdmittedMetric, count(lit(1)))` so a
    * drain's admitted-row accounting sums per-batch metrics from
    * `StreamingQueryProgress.observedMetrics` instead of a before/after
    * `count()` over the sink (r14 review: the before/after form
    * re-priced the sink's whole history — listing + a footer per file —
    * on EVERY drain, the same grows-with-history genus as the r13 bloom
    * confirm join). [[fileIngest]] attaches it itself; other streams
    * attach it at the call site (see `steps.StreamTransforms`). */
  val AdmittedMetric = "graft_admitted"

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  final case class SessionUpdate(
      user_id: Long,
      session_start: Timestamp,
      n_events: Long,
      closed: Boolean)

  /** Per-user session accumulator (encoder-visible, hence public). */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Event-time windowed counts with a watermark — the streaming twin of
    * q08's per-day timeline: late data beyond the watermark is dropped,
    * state is bounded, output appends closed windows only.
    */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes",
      window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  private val functions = org.apache.spark.sql.functions

  /** Streaming drop-folder ingest — the S3 TRANSFER step recast as a
    * continuous pipeline (SURVEY §2.1 maps the reference's file
    * lifecycle to `cleanSource=archive`): files appearing in `inDir`
    * stream through audit-column injection into an append-only parquet
    * table, exactly-once via the checkpoint, consumed files archived
    * out of the way. The batch `Steps.ingest` covers one-shot loads
    * with per-file rollback; this is the always-on variant.
    */
  def fileIngest(
      spark: SparkSession,
      inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      outDir: String,
      checkpointDir: String,
      archiveDir: String,
      datenproduzent: String = "graft",
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      sourceFormat: String = "csv")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val base = spark.readStream
      .schema(schema)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
    // jsonl (r14): one JSON object per line — the interchange format
    // most raw training-data drops actually arrive in; Spark's json
    // source is line-delimited by default, so the same audit/archive
    // lifecycle applies unchanged. The declared schema stays mandatory
    // for BOTH formats: drop folders must not let a malformed file
    // widen the table by schema inference.
    val writer = (sourceFormat match {
      case "csv" => base.option("header", "true").csv(inDir)
      case "jsonl" => base.json(inDir)
      case other => throw new IllegalArgumentException(
        s"fileIngest: unknown source format '$other' (csv, jsonl)")
    })
      // url_decode: input_file_name() returns a percent-encoded URI, so
      // a file named "Umsätze 2026.csv" would audit as
      // "Ums%C3%A4tze%202026.csv" and the idempotent delete keyed on the
      // real dateiname would miss its rows (r10 review; batch ingest
      // stores the real name). Hadoop URIs keep literal '+' UNencoded,
      // but url_decode is form-decoding ('+' → space) — escape it first
      // so "a+b.csv" does not audit as "a b.csv" (ADVICE r10)
      .withColumn("dateiname", url_decode(regexp_replace(
        element_at(split(input_file_name(), "/"), -1), lit("\\+"), lit("%2B"))))
      .withColumn("exportdatum", current_timestamp())
      .withColumn("datenproduzent", lit(datenproduzent))
      // per-batch sink-row metric: drain accounting without re-reading
      // the sink's history (see AdmittedMetric)
      .observe(AdmittedMetric, count(lit(1)))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
    // default = always-on micro-batches (the production drop-folder
    // daemon); AvailableNow turns the same pipeline into a bounded
    // drain for one-shot catch-up runs and the q78 oracle gate
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Streaming `.xlsx` drop-folder ingest — the Excel twin of
    * [[fileIngest]]: workbooks appearing in `inDir` stream through the
    * dependency-free [[graft.sources.Xlsx]] decoder into an append-only
    * parquet table. The `binaryFile` source ships each workbook's bytes
    * to an executor task (an xlsx is an unsplittable zip — the FILE is
    * the unit of parallelism), where the decode runs; `header` fixes the
    * output schema up front like the CSV variant's `schema`. Exactly-once
    * via the checkpoint; consumed files archived.
    */
  def xlsxIngest(
      spark: SparkSession,
      inDir: String,
      header: Seq[String],
      outDir: String,
      checkpointDir: String,
      archiveDir: String,
      datenproduzent: String = "graft"): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val cols = header
    spark.readStream
      .format("binaryFile")
      // streaming sources must state their schema; binaryFile's is fixed
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.xlsx")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .load(inDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // binaryFile's path is a percent-encoded URI — decode so the
        // audit dateiname matches the real filename (r10 review). '+' is
        // literal in file URIs, not a form-encoded space (ADVICE r10)
        val name = java.net.URLDecoder.decode(
          path.split("/").last.replace("+", "%2B"), "UTF-8")
        val t = graft.sources.Xlsx.parse(bytes)
        val idx = cols.map(c => t.header.indexOf(c))
        t.rows.map { r =>
          (name, idx.map(i => if (i >= 0 && i < r.length) r(i).orNull else null))
        }
      }
      .select(
        (cols.indices.map(i => col("_2").getItem(i).as(cols(i))) :+
          col("_1").as("dateiname")): _*)
      .withColumn("exportdatum", current_timestamp())
      .withColumn("datenproduzent", lit(datenproduzent))
      // per-batch sink-row metric: drain accounting without re-reading
      // the sink's history (see AdmittedMetric)
      .observe(AdmittedMetric, count(lit(1)))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()
  }

  /** Streaming exact dedup — the continuous twin of q13: documents
    * fingerprinted (`TextFunctions.fingerprintMd5`, the same key the
    * batch dedup groups on) and deduplicated within the watermark via
    * `dropDuplicatesWithinWatermark`, so state is BOUNDED (a duplicate
    * arriving after the watermark passes is a new document — at 100 TB
    * the unbounded-state alternative would grow a fingerprint set
    * forever; cross-epoch dedup belongs to the batch pass over the
    * accumulated table). Expects columns (doc_id, ts, text); the output
    * ADDS the `fingerprint` column — deliberately: it is the dedup key,
    * and downstream consumers (q48's signature table, idempotent
    * re-ingest joins) key on it rather than re-hashing the text.
    */
  def dedupExact(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.functions.TextFunctions.fingerprintMd5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Continuous signature stage — q14/q15's "checkpointed signature
    * table" made literal: documents stream through tokens → shingles →
    * hash32 → native MinHash/SimHash kernels into an append-only
    * signature table (map-only, no state at all), which every downstream
    * dedup pass then band-joins in batch. Exactly-once via checkpoint.
    */
  def signatureStream(
      docs: DataFrame,
      outDir: String,
      checkpointDir: String,
      k: Int = 12): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{TextFunctions => T}
    docs
      .withColumn("toks", T.tokens(col("text")))
      .withColumn("shingles", T.shingles("toks"))
      .withColumn("hashes", transform(col("shingles"), s => T.hash32(s)))
      .withColumn("sig", T.minhashFromHashes(col("hashes"), k))
      .withColumn("simhash", T.simhashFromHashes(col("hashes")))
      .select("doc_id", "ts", "sig", "simhash")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()
  }

  /** Streaming CDC apply — a keyed change stream continuously merged
    * into a warehouse table: each micro-batch is collapsed to its
    * last-wins row per key (max `versionCol`, ties broken by the later
    * row's values via struct-max) and upserted
    * ([[graft.catalog.Warehouse.upsert]]: delete-matching + union +
    * crash-safe swap). `foreachBatch` is the right tool here — MERGE is
    * a table-level transaction, not a row-append, so it cannot be a
    * streaming sink format; exactly-once comes from the checkpoint +
    * the upsert's idempotency on replay (re-applying a batch leaves the
    * table unchanged).
    */
  def upsertSink(
      changes: DataFrame,
      warehouse: graft.catalog.Warehouse,
      table: String,
      keys: Seq[String],
      versionCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val valueCols = batch.columns.filterNot(keys.contains)
          // last-wins per key within the batch: max over (version, values)
          // struct orders by version first — deterministic given versions
          val collapsed = batch
            .groupBy(keys.map(col): _*)
            .agg(max(struct((col(versionCol) +: valueCols.filterNot(_ == versionCol)
              .map(col)): _*)).as("__w"))
            .select(keys.map(col) ++
              (versionCol +: valueCols.filterNot(_ == versionCol).toSeq)
                .map(c => col(s"__w.$c").as(c)): _*)
            .persist() // consumed twice (key anti-join + union write)
          try warehouse.upsert(batch.sparkSession, table, collapsed, keys,
            keysKnownUnique = true) // the groupBy collapse guarantees it
          finally { collapsed.unpersist(); () }
        }
      }
      .start()

  /** STREAMING incremental bloom-gated dedup — the q101 lifecycle run
    * continuously (r12): each arriving micro-batch probes the
    * warehouse-persisted historic BITMAP ([[graft.operators.Bloom
    * .newKeysAgainst]] — definitely-new keys skip the exact join
    * entirely, hits are confirmed exactly against the `seenTable`
    * keyset), the admitted rows land in `outTable` tagged with their
    * batch number, the admitted keys append to `seenTable`, and the
    * bitmap is MAINTAINED by [[graft.operators.Bloom.merge]] — bitmap-
    * sized work per batch, the historic corpus is never re-scanned.
    * This is where the relational bitmap pays off at 100 TB: the
    * filter's state lives in the warehouse as a (w, bits) table, not in
    * a driver array or a stream-state store, so it survives restarts
    * and shares across jobs. Maintenance goes through the CRASH-SAFE
    * swap ([[graft.catalog.Warehouse.replace]], r12 review — a plain
    * overwrite's delete-then-write window could tear the bitmap, and a
    * torn bitmap means false NEGATIVES: keys that skip the exact
    * confirm and silently re-admit duplicates); the swap also writes to
    * a side dir first, so the merged frame may read the table it
    * replaces without a checkpoint.
    *
    * Batch ORDER is the correctness contract (a later batch must probe
    * a bitmap covering every earlier admission); AvailableNow +
    * `maxFilesPerTrigger` delivers files oldest-first, and the q105
    * gate's fixture pins it.
    *
    * **Exactly-once on checkpoint replay** (r13, VERDICT wrong #2 /
    * ADVICE r12): `foreachBatch` re-invokes the SAME (batch, id) after
    * a crash, so every phase must be replay-idempotent and the
    * cross-table ordering must never create the one fatal state — keys
    * present in `seen` but absent from the bitmap (false negatives that
    * silently re-admit duplicates). The body runs four phases:
    *
    *   0. scrub THIS batch id's rows from out/seen (no-op on first run;
    *      on replay it rewinds any partial appends, so the admitted set
    *      recomputes identically against the PRE-batch `seen`);
    *   1. fold the bitmap FIRST ([[graft.operators.Bloom.merge]] via
    *      the crash-safe swap — idempotent: re-OR-ing the same bits is
    *      the same bitmap). Over-covering is always safe (extra
    *      candidates just pay the exact confirm; `Bloom.scala`'s
    *      no-false-negative argument), and with `seen` appended LAST
    *      the unsafe under-covering state is unreachable at every
    *      crash point;
    *   2. append out rows tagged with the batch id;
    *   3. append seen keys tagged with the batch id (the tag is what
    *      makes phase 0's rewind possible — `seenTable` rows are
    *      (key, batch)).
    *
    * StreamsSpec replays the body from an induced crash after each
    * phase and asserts the final out/seen/bitmap state is exactly the
    * clean run's.
    */
  def bloomDedupStream(
      incoming: DataFrame,
      keyCol: String,
      warehouse: graft.catalog.Warehouse,
      seenTable: String,
      bloomTable: String,
      outTable: String,
      checkpointDir: String,
      mBits: Long = 1L << 16,
      k: Int = 5,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      admittedRows: Option[java.util.concurrent.atomic.AtomicLong] = None,
      onBatchStats: (Long, Long, Long) => Unit = (_, _, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        bloomDedupBatch(batch, id, keyCol, warehouse,
          seenTable, bloomTable, outTable, mBits, k,
          admittedRows = admittedRows, onBatchStats = onBatchStats)
      }
      .start()

  /** One micro-batch of [[bloomDedupStream]] — separated so the spec
    * can invoke it like `foreachBatch` does on checkpoint replay: same
    * batch, same id, re-run from the top. `failAfterPhase` (test-only)
    * throws after the numbered phase to induce the crash.
    */
  private[graft] def bloomDedupBatch(
      batch: DataFrame, id: Long, keyCol: String,
      warehouse: graft.catalog.Warehouse,
      seenTable: String, bloomTable: String, outTable: String,
      mBits: Long, k: Int, failAfterPhase: Int = Int.MaxValue,
      admittedRows: Option[java.util.concurrent.atomic.AtomicLong] = None,
      onBatchStats: (Long, Long, Long) => Unit = (_, _, _) => ()): Unit = {
    require(!batch.columns.contains("batch") && keyCol != "batch",
      "bloomDedupStream reserves the `batch` column for its replay-rewind " +
        "tag — rename the incoming column")
    // Deliberately NOT persisted (r15): `batch` does appear twice in the
    // admission plan (bloom probe + exact-confirm anti-join) plus the
    // telemetry count, but its recompute is a narrow KEY projection of
    // the micro-batch source — the interleaved RAAR A/B measured the
    // persist as a net loss (+0.3-0.6 s per gate at sf0.1: cache write +
    // memory-manager traffic exceeds three cheap column scans). Contrast
    // neardupAdmitBatch, whose batch recompute is the full tokenize →
    // shingle → minhash text pipeline and IS persisted. Guide §5's rule
    // verbatim: cache only when recompute is more expensive than the
    // caching pressure.
    // ONE batch-count action serves both the empty probe and the
    // end-of-batch telemetry (r16 — previously isEmpty + count were two
    // jobs over the same micro-batch source)
    val nBatch = batch.count()
    if (nBatch > 0) {
      import org.apache.spark.sql.functions.lit
      val bt = batch
      val spark = bt.sparkSession
      val b = id + 1
      def induced(p: Int): Unit = if (failAfterPhase == p)
        throw new IllegalStateException(s"induced crash after phase $p")
      // The bitmap table carries a replay WATERMARK as a sentinel word
      // row (w = -1 — real word indices are >= 0): phase 1's atomic
      // replace advances it to this batch's id in the same swap that
      // folds the batch's keys, and out/seen writes happen strictly
      // after, so "partial batch-b rows may exist" ⟺ "watermark >= b".
      // That makes phase 0's rewind decision bitmap-sized (r13 review:
      // unconditioned, the scrub paid two O(table) deleteWhere rewrites
      // on EVERY batch — quadratic cumulative IO over the stream's
      // life). A bitmap without the sentinel (bootstrap, pre-r13 state)
      // reads as watermark-unknown and keeps the conservative scrub,
      // which decides each file from its footer statistics: files
      // holding only this batch are dropped whole, files without it are
      // kept, and neither costs a job.
      val bloomRaw = warehouse.read(spark, bloomTable)
      val bloom = bloomRaw.filter(col("w") >= 0)
      val watermark = bloomRaw.filter(col("w") === -1L)
        .agg(org.apache.spark.sql.functions.max(col("bits"))).head()
      // phase 0: rewind any partial writes of THIS batch id. The range
      // form (r14) plans the no-match probe through a stats manifest
      // when the out/seen tables carry one (a maintenance workflow on
      // them composes for free — zero scheduled files = one manifest
      // read, no scan job); otherwise each file is decided from its
      // footer statistics, and only undecided files are probed.
      if (watermark.isNullAt(0) || watermark.getLong(0) >= b) {
        warehouse.deleteWhereRange(spark, outTable, "batch", b, b)
        warehouse.deleteWhereRange(spark, seenTable, "batch", b, b)
      }
      induced(0)
      val seen = warehouse.read(spark, seenTable)
      val admitted = graft.operators.Bloom
        .newKeysAgainst(bt, seen, keyCol, bloom, mBits, k)
        .persist() // consumed three times: bitmap build, out, seen keys
      try {
        import spark.implicits._
        // materialize the persisted set BEFORE phase 1's swap deletes
        // the old bitmap files its lineage reads — a later recompute
        // (cache eviction, an extra consumer) would hit the swapped-
        // away listing and fail FILE_NOT_EXIST (r14: latent for
        // phases 2/3, exposed by the admitted-row count). Batch-sized
        // work; doubles as the count the caller accounts per run.
        val nAdmitted = admitted.count()
        // phase 1: bitmap first — bloom ⊇ seen holds at every crash point
        warehouse.replace(bloomTable, graft.operators.Bloom
          .merge(bloom, graft.operators.Bloom.build(
            admitted.select(col(keyCol)), keyCol, mBits, k))
          .unionByName(Seq((-1L, b)).toDF("w", "bits")))
        induced(1)
        // phase 2: admitted rows
        warehouse.append(admitted.withColumn("batch", lit(b)), outTable)
        induced(2)
        // phase 3: seen keys last — tagged so phase 0 can rewind them
        warehouse.append(
          admitted.select(col(keyCol)).withColumn("batch", lit(b)), seenTable)
        induced(3)
        // count only COMPLETED batches — a crashed batch's rows are
        // rewound and recounted on replay, so the caller's per-run
        // accounting matches what this run actually landed without
        // ever re-pricing the out table's history (r14 review)
        admittedRows.foreach(_.addAndGet(nAdmitted))
        onBatchStats(b, nBatch, nAdmitted)
      } finally { admitted.unpersist(); () }
    }
  }

  /** Streaming incremental NEAR-DUP admission (r15, VERDICT r14 next
    * #3) — the MinHash twin of [[bloomDedupStream]]: each arriving
    * micro-batch of (doc_id, text) documents is admitted against the
    * PERSISTED historic signature table
    * ([[graft.operators.NearDup.admitAgainstWithRelease]] — band probe
    * + exact shingle-Jaccard confirm, two historic scans, zero historic
    * shuffles), admitted docs append to `outTable` and their signatures
    * append to `histTable`, so batch N+1 admits against historic ∪
    * batches 1..N — the always-on form of the q123/q124 lifecycle.
    *
    * **Exactly-once on checkpoint replay** (the bloom stream's r13
    * treatment): `foreachBatch` re-invokes the same (batch, id) after a
    * crash, so the body is replay-idempotent via a rewind watermark —
    * a single-row `wmTable` advanced by crash-safe [[graft.catalog
    * .Warehouse.replace]] BEFORE any batch-tagged append, so "partial
    * batch-b rows may exist in out/hist" ⟺ "watermark ≥ b". Phase 0
    * scrubs this batch id's rows from both tables when the watermark
    * says they may exist (bitmap-sized decision; the scrub itself is a
    * manifest-plannable range delete), then the admission recomputes
    * against the PRE-batch history — identical rows at every crash
    * point (StreamsSpec replays each phase). An absent watermark table
    * (bootstrap) reads as watermark-unknown and keeps the conservative
    * scrub.
    *
    * `bandsTable` (r15 — the round's two headline features composed):
    * when set, the stream maintains the persisted (doc_id, b, key64)
    * band table BESIDE the signature table — admitted docs' bands
    * append batch-tagged BEFORE the signatures (bands ⊇ hist at every
    * crash point: under-covering is the direction that silently
    * re-admits) — and each micro-batch admits through the
    * MANIFEST-PRUNED path ([[graft.operators.NearDup
    * .admitAgainstPrunedWithRelease]]), so the always-on surface pays
    * per-batch scans sublinear in the history, not two full passes.
    * Stream appends are unmanifested (always scanned — freshness rule),
    * so pruning quality decays between the scheduled MAINTENANCE
    * `refresh_stats incremental=true` passes and rows never move.
    */
  def neardupAdmitStream(
      incoming: DataFrame,
      warehouse: graft.catalog.Warehouse,
      histTable: String,
      outTable: String,
      wmTable: String,
      checkpointDir: String,
      k: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.6,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      admittedRows: Option[java.util.concurrent.atomic.AtomicLong] = None,
      onBatchStats: (Long, Long, Long) => Unit = (_, _, _) => (),
      bandsTable: Option[String] = None,
      maxProbeKeys: Int = 1 << 16,
      onPrune: (Long, String, Int, Int) => Unit = (_, _, _, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        neardupAdmitBatch(batch, id, warehouse, histTable, outTable, wmTable,
          k, bands, threshold, admittedRows = admittedRows,
          onBatchStats = onBatchStats, bandsTable = bandsTable,
          maxProbeKeys = maxProbeKeys, onPrune = onPrune)
      }
      .start()

  /** One micro-batch of [[neardupAdmitStream]] — separated so the spec
    * can invoke it like `foreachBatch` does on checkpoint replay.
    * `failAfterPhase` (test-only) throws after the numbered phase.
    * `onBatchStats` observes (batch id, batch docs, admitted docs) per
    * COMPLETED batch — the step surface's admission-health telemetry
    * hook (r15 stretch: a production operator reads admission rates per
    * tick from the run ledger, the reference's ledger-first identity). */
  private[graft] def neardupAdmitBatch(
      batch: DataFrame, id: Long,
      warehouse: graft.catalog.Warehouse,
      histTable: String, outTable: String, wmTable: String,
      k: Int, bands: Int, threshold: Double,
      failAfterPhase: Int = Int.MaxValue,
      admittedRows: Option[java.util.concurrent.atomic.AtomicLong] = None,
      onBatchStats: (Long, Long, Long) => Unit = (_, _, _) => (),
      bandsTable: Option[String] = None,
      maxProbeKeys: Int = 1 << 16,
      onPrune: (Long, String, Int, Int) => Unit = (_, _, _, _) => ()): Unit = {
    require(!batch.columns.contains("batch"),
      "neardupAdmitStream reserves the `batch` column for its replay-rewind " +
        "tag — rename the incoming column")
    val spark0 = batch.sparkSession
    def phase[A](name: String)(body: => A): A =
      graft.util.Jobs.labeled(spark0, s"nd-admit b=${id + 1}: $name")(body)
    // one source read per micro-batch (r15, guide §2.3/§5): the batch
    // feeds the signature pass, the admitted-out join AND the telemetry
    // count — unpersisted, each re-reads the micro-batch's source files.
    // Batch-sized by contract, released in the finally.
    val bt = batch.persist()
    try {
    // ONE batch-count action fills the persist, serves the empty probe
    // AND the end-of-batch telemetry (r16 — previously isEmpty +
    // telemetry count were two jobs)
    val nBatch = phase("batch count")(bt.count())
    if (nBatch > 0) {
      import org.apache.spark.sql.functions.lit
      val spark = spark0
      val b = id + 1
      def induced(p: Int): Unit = if (failAfterPhase == p)
        throw new IllegalStateException(s"induced crash after phase $p")
      // phase 0: rewind any partial writes of THIS batch id — only when
      // the watermark says they may exist (absent table = bootstrap =
      // unknown = conservative scrub; no-match probes are metadata-sized)
      val wm = phase("wm read") {
        if (!warehouse.exists(spark, wmTable)) None
        else Some(warehouse.read(spark, wmTable)
          .agg(org.apache.spark.sql.functions.max(col("wm"))).head().getLong(0))
      }
      if (wm.forall(_ >= b)) phase("rewind scrub") {
        warehouse.deleteWhereRange(spark, outTable, "batch", b, b)
        bandsTable.foreach(bandsTbl =>
          warehouse.deleteWhereRange(spark, bandsTbl, "batch", b, b))
        warehouse.deleteWhereRange(spark, histTable, "batch", b, b)
      }
      induced(0)
      val adm = phase("admission plan") {
        bandsTable match {
          case Some(bands64) => graft.operators.NearDup.admissionPruned(
            spark, warehouse, bt, histTable, bands64, k, bands, threshold,
            maxProbeKeys = maxProbeKeys,
            onPrune = (scan, sched, total) => onPrune(b, scan, sched, total))
          case None => graft.operators.NearDup.admissionAgainst(
            bt, warehouse.read(spark, histTable), k, bands, threshold)
        }
      }
      val admitted = adm.frame.persist() // consumed twice: out + signature append
      try {
        import spark.implicits._
        // materialize BEFORE the watermark swap/appends so no later
        // recompute reads tables this body is about to mutate
        // (bloomDedupBatch's r14 lesson); doubles as the drain count
        val nAdmitted = phase("confirm+count")(admitted.count())
        // phase 1: advance the watermark FIRST — from here on, partial
        // batch-b rows are scrubbable on replay
        phase("wm advance")(warehouse.replace(wmTable, Seq(b).toDF("wm")))
        induced(1)
        // phase 2: admitted docs, batch-tagged for the rewind
        phase("append out")(
          warehouse.append(admitted.withColumn("batch", lit(b)), outTable))
        induced(2)
        // phases 3+4: the admitted docs' bands FIRST, then their
        // signatures — bands ⊇ hist at every crash point, because
        // under-covering (a hist doc the band probe cannot see) is the
        // direction that silently re-admits near-dups; over-covering
        // only costs an unconfirmable candidate until the rewind.
        // Signatures come from the admission's OWN batch-signature
        // frame (semi-joined to the admitted ids) — recomputing them
        // from text would pay the tokenize → shingle → minhash pass a
        // second time per micro-batch (r15)
        val sig = adm.batchSig
          .join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .persist() // ≤2 consumers (bands append + hist append)
        try {
          bandsTable.foreach { bandsTbl =>
            phase("append bands")(
              warehouse.append(graft.operators.NearDup.bandTable(sig, k, bands)
                .withColumn("batch", lit(b)), bandsTbl))
          }
          induced(3)
          phase("append hist")(
            warehouse.append(sig.withColumn("batch", lit(b)), histTable))
        } finally { sig.unpersist(); () }
        induced(4)
        // count only COMPLETED batches (crashed ones rewind + recount)
        admittedRows.foreach(_.addAndGet(nAdmitted))
        onBatchStats(b, nBatch, nAdmitted)
      } finally { admitted.unpersist(); adm.release(); () }
    }
    } finally { bt.unpersist(); () }
  }

  /** Stateful sessionization — gap > `gapSeconds` closes a session
    * (q12's batch semantics) via `flatMapGroupsWithState` with an
    * event-time timeout: per-user state is (start, last, count); a
    * watermark-passed timeout emits the closed session, new events
    * either extend the session or close it and open the next. This is
    * the custom-state path the DataFrame API can't express (SURVEY
    * §7.4: the one place mapGroupsWithState is warranted).
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "30 minutes"): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, new Timestamp(s.start), s.n, closed = true))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closedSessions = List.empty[SessionUpdate]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapSeconds * 1000 =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  closedSessions ::= SessionUpdate(userId, new Timestamp(s.start), s.n, closed = true)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapSeconds * 1000)
            }
            closedSessions.reverseIterator
          }
      }
  }

  /** [[sessionize]] on Spark 4's arbitrary-state v2
    * (`transformWithState` / `StatefulProcessor`) — same state record,
    * closure condition, and timeout decision; only the callback surface
    * differs (`handleInputRows`/`handleExpiredTimer` instead of one
    * merged callback, and explicit per-key timers instead of
    * `setTimeoutTimestamp`). The timer expiry is a pure function of the
    * session state (`last + gap`), so updates delete the old timer and
    * register the new one — no extra state variable; a stale timer that
    * fires anyway (defense in depth) is ignored unless its expiry
    * matches the live state.
    */
  final class SessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Event, SessionUpdate] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def expiry(s: SessionState): Long = s.last + gapSeconds * 1000

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionUpdate] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var closedSessions = List.empty[SessionUpdate]
      var cur = if (state.exists()) Some(state.get()) else None
      cur.foreach(s => getHandle.deleteTimer(expiry(s)))
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapSeconds * 1000 =>
            cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
          case Some(s) =>
            closedSessions ::=
              SessionUpdate(userId, new Timestamp(s.start), s.n, closed = true)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        getHandle.registerTimer(expiry(s))
      }
      closedSessions.reverseIterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionUpdate] =
      if (state.exists() && expiredTimerInfo.getExpiryTimeInMs == expiry(state.get())) {
        val s = state.get()
        state.clear()
        Iterator.single(SessionUpdate(userId, new Timestamp(s.start), s.n, closed = true))
      } else Iterator.empty
  }

  /** The state-v2 sessionize path (VERDICT r5 item 8). Requires the
    * RocksDB state store provider in Spark 4.x — see [[stateV2Ready]]
    * and the migration contract in ARCHITECTURE.md (no checkpoint
    * compatibility across the switch; drain at a watermark boundary).
    */
  def sessionizeTws(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "30 minutes"): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Input-size-derived state-partition bound for keyed streaming state
    * (r16, VERDICT r15 next #4): `ceil(sourceBytes / advisory)` clamped
    * to `[1, session shuffle partitions]`, with the advisory size taken
    * from `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the same
    * partition-sizing rule AQE applies to batch exchanges (guide §2.2:
    * size partitions to the data, in the 100 MB–1 GB band), which
    * stateful streaming cannot use (AQE is disabled in stateful
    * workloads, so the stateful exchange keeps the raw session
    * parallelism forever — it is FIXED at the stream's first
    * checkpoint). At production source sizes the ceil exceeds the cap
    * and the bound IS the session default (no behavior change at
    * scale); at small sources the drain stops booting a state-store
    * instance per core to hold kilobytes of state — the r15 semdedup
    * `statePartitions = |codebook|` fix, generalized to user-keyed
    * state where no cardinality bound exists but the source size is
    * known. NOT a core-count tune: the cap scales with the session's
    * own shuffle setting, the numerator with the data. A zero or
    * unknown size (an empty folder, a path the local listing cannot
    * see) keeps the session default, never one partition.
    */
  def derivedStatePartitions(spark: SparkSession, sourceBytes: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (sourceBytes <= 0) cap
    else {
      val advisory = math.max(1L, org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")))
      math.max(1, math.min(cap.toLong, (sourceBytes + advisory - 1) / advisory).toInt)
    }
  }

  /** Total bytes of a source file, or under a watched-folder source
    * (driver-side listing — the same listing the file source itself
    * performs per trigger); 0 when the path is absent or unlistable.
    */
  def sourceBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum)
      else f.length()
    walk(new java.io.File(path))
  }

  /** Where a streaming session keeps its keyed state: Spark's default
    * HDFS-backed store, or RocksDB — the state-v2 backend, and the
    * disk-backed store an unbounded-corpus admission state needs (heap
    * stores OOM at 100 TB keyset sizes).
    */
  sealed trait Store
  object Store {
    case object Hdfs extends Store
    case object RocksDb extends Store
  }

  /** The state-partition count a streaming session opens its state
    * with: the parent's default, sized to the bytes of a source file or
    * folder ([[derivedStatePartitions]]), or a known bound such as a
    * codebook's size for cell-keyed state (at least 1: zero shuffle
    * partitions fail every shuffle in the session, ADVICE r15).
    */
  sealed trait StatePartitions
  object StatePartitions {
    case object Default extends StatePartitions
    final case class OfSource(path: String) extends StatePartitions
    final case class Exactly(n: Int) extends StatePartitions
  }

  /** The one place a streaming session clone is made. The clone keeps
    * the parent's catalog, conf and Catalyst extensions and scopes the
    * stream's settings away from the parent's other queries:
    *
    *  - `statePartitions`: stateful-operator parallelism is FIXED at
    *    the stream's first checkpoint by the then-current shuffle
    *    partition count — size it to the state's data here (the
    *    session-wide default is a batch-join setting, not a
    *    state-layout decision). Changing it later needs a fresh
    *    checkpoint, so the setting matters at stream BIRTH;
    *  - [[Store.RocksDb]] also turns changelog checkpointing ON: each
    *    micro-batch uploads the batch's CHANGES instead of a full
    *    snapshot of every store instance (snapshots still happen,
    *    async and infrequent) — at production state sizes per-batch
    *    checkpoint cost tracks the batch, not the accumulated state.
    *    It fails fast unless the clone is [[stateV2Ready]].
    */
  def session(spark: SparkSession, store: Store,
      statePartitions: StatePartitions): SparkSession = {
    val n = statePartitions match {
      case StatePartitions.Default => None
      case StatePartitions.OfSource(path) => Some(derivedStatePartitions(spark, sourceBytes(path)))
      case StatePartitions.Exactly(k) => Some(math.max(1, k))
    }
    val s2 = spark.newSession()
    n.foreach(k => s2.conf.set("spark.sql.shuffle.partitions", k.toString))
    if (store == Store.RocksDb) {
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s2.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      require(stateV2Ready(s2),
        "RocksDB state needs Spark 4+ with the RocksDB state store provider")
    }
    s2
  }

  /** The activation probe: arbitrary-state v2 needs Spark 4+ AND the
    * session configured for the RocksDB state store (its 4.x backend
    * requirement). Both shipping paths stay oracle-equivalent, so the
    * choice is purely operational.
    */
  def stateV2Ready(spark: SparkSession): Boolean =
    spark.version.takeWhile(_ != '.').toInt >= 4 &&
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .exists(_.contains("RocksDB"))

  /** [[sessionize]] through whichever state API the session supports:
    * the v2 `StatefulProcessor` when [[stateV2Ready]], else the
    * portable `flatMapGroupsWithState` form.
    */
  def sessionizeAuto(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "30 minutes"): Dataset[SessionUpdate] =
    if (stateV2Ready(events.sparkSession)) sessionizeTws(events, gapSeconds, watermark)
    else sessionize(events, gapSeconds, watermark)

  /** A cell-assigned embedding row entering streaming semantic dedup:
    * id, blocking cell, embedding, and its precomputed norm (the same
    * `V.norm` column the batch operator uses, so the cosine arithmetic
    * is bit-identical across paths). */
  final case class VecRow(vec_id: Long, cell: Long, e: Seq[Double], nrm: Double)

  final case class Admitted(vec_id: Long, cell: Long)

  /** Streaming semantic-dedup ADMISSION CONTROL — q91's SemDeDup chain
    * rule run continuously: a vector is admitted iff NO earlier vector
    * of its cell reached cosine τ with it, where "earlier" is id order
    * (the batch keep rule). Chain semantics mean the witness may itself
    * have been rejected, so per-cell state is EVERY vector seen, not
    * just the admitted ones — state grows with cell membership, which
    * the codebook bounds exactly like the batch quadratic (C scales
    * with the corpus; FANIN.md prices the cell sizes). Ordering
    * contract: admission decisions are final on emit, so the stream
    * must deliver ids non-decreasingly ACROSS micro-batches (within a
    * batch the processor sorts); the gate drains the sorted corpus in
    * one AvailableNow pass, and a production feed keyed by an
    * arrival-ordered id satisfies it by construction. The contract is
    * ENFORCED: a per-cell max-id watermark in state fails the query
    * loudly when a late lower id would make an earlier emission
    * retroactively wrong.
    */
  final class SemDeDupProcessor(threshold: Double)
      extends StatefulProcessor[Long, VecRow, Admitted] {
    @transient private var seen: ListState[VecRow] = _
    @transient private var maxId: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getListState[VecRow]("seen",
        org.apache.spark.sql.Encoders.product[VecRow], TTLConfig.NONE)
      maxId = getHandle.getValueState[Long]("maxId",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(cell: Long, rows: Iterator[VecRow],
        timerValues: TimerValues): Iterator[Admitted] = {
      // the chain scan is the per-cell hot loop (a survivor compares
      // against EVERY prior cell-mate): unwrap embeddings to primitive
      // arrays once so the inner fold runs unboxed rather than through
      // the encoder's Seq, and append the batch to RocksDB state in ONE
      // appendList instead of a write per vector — ~1.2× on the gate
      // corpus, where most vectors are near-dups whose scan
      // short-circuits at the first witness; the gate's residual cost
      // is stream lifecycle (checkpoint + sink), not this loop
      val prior = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
      seen.get().foreach(p => prior += ((p.e.toArray, p.nrm)))
      val out = List.newBuilder[Admitted]
      val batch = rows.toArray.sortBy(_.vec_id)
      // the ordering contract ENFORCED, not just documented: admission
      // decisions are final on emit, so a lower id arriving after a
      // higher one was already decided would make the earlier emission
      // retroactively wrong — fail the query loudly instead of
      // admitting silently-wrong survivors
      if (batch.nonEmpty && maxId.exists() && batch.head.vec_id <= maxId.get())
        throw new IllegalStateException(
          s"semDedupStream ordering contract violated in cell $cell: id " +
            s"${batch.head.vec_id} arrived after ${maxId.get()} was decided — " +
            "ids must be non-decreasing across micro-batches")
      if (batch.nonEmpty) maxId.update(batch.last.vec_id)
      batch.foreach { v =>
        val ve = v.e.toArray
        // strict-left-fold dot, the V.dot association, so the boundary
        // decision matches the batch column bit-for-bit
        var dup = false
        var j = 0
        while (!dup && j < prior.length) {
          val (pe, pn) = prior(j)
          var dot = 0.0
          var i = 0
          while (i < pe.length) { dot += pe(i) * ve(i); i += 1 }
          dup = dot / (pn * v.nrm) >= threshold
          j += 1
        }
        if (!dup) out += Admitted(v.vec_id, v.cell)
        prior += ((ve, v.nrm))
      }
      seen.appendList(batch)
      out.result().iterator
    }
  }

  /** [[SemDeDupProcessor]] over a cell-keyed vector stream (assign
    * cells map-side first — [[graft.operators.SemDeDup.assignCellLit]]
    * is the no-shuffle route). Requires the state-v2 backend
    * ([[stateV2Ready]]). */
  def semDedupStream(vectors: Dataset[VecRow], threshold: Double): Dataset[Admitted] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors
      .groupByKey(_.cell)
      .transformWithState(new SemDeDupProcessor(threshold),
        TimeMode.None(), OutputMode.Append())
  }

  /** Continuous DSIR scoring — q92's importance weight applied to a
    * document stream with ZERO state and ZERO shuffle: the
    * hashed-feature LM is bounded by construction (≤ `buckets` rows,
    * corpus-size-INDEPENDENT — the q92/FANIN.md argument), so the
    * trained per-bucket weights ship as a LITERAL MAP in the plan and
    * each arriving document scores itself map-side: its bigram features
    * never leave the row (no explode — the per-doc aggregation happens
    * inside the array fold). This is the cheapest possible streaming
    * operator: stateless, watermark-free, append-only, and the model
    * refresh is a plan swap, not a state migration. A feature hashed to
    * a bucket the training corpus never saw scores the Laplace floor
    * `(scale·1) div 1` — the exact smoothing q92 applies at ct=cr=0.
    *
    * @param docs    streaming (or batch — the expression is mode-blind)
    *                frame with `doc_id` and `text`
    * @param weights per-bucket fixed-point weight, from the batch LM
    *                build: `(scale·(ct+1)) div (cr+1)`
    */
  def dsirScoreStream(docs: DataFrame, weights: Map[Long, Long],
      buckets: Long = 8192L, scale: Long = 1000000L): DataFrame = {
    import graft.functions.{TextFunctions => T}
    require(weights.size <= buckets,
      s"${weights.size} bucket weights exceed the $buckets-bucket model")
    val lm = typedLit(weights)
    docs
      .withColumn("t", T.tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .withColumn("feats", expr(
        "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"))
      .select(
        col("doc_id"),
        size(col("feats")).cast("long").as("n_feats"),
        aggregate(
          transform(col("feats"), f =>
            coalesce(element_at(lm, pmod(T.hash32(f), lit(buckets))), lit(scale))),
          lit(0L), (acc, w) => acc + w).as("dsir_weight"))
  }
}

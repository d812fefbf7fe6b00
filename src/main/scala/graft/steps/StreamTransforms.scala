package graft.steps

import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** Named STREAMING transforms executable as workflow steps (r13,
  * VERDICT next #4) — the orchestrated form of the engine's
  * always-on surface: a [[TaskType.Stream]] step starts a Structured
  * Streaming query, drains it with `Trigger.AvailableNow` (the
  * bounded-catch-up mode — the reference's scheduler loop,
  * `Processor.cs:1110-1168`, re-runs a configured component per tick;
  * a drained AvailableNow pass per workflow run is that contract on a
  * stream), and returns the rows it admitted for `ErwarteteDaten`.
  * Failure surfaces as a step failure — `awaitTermination` rethrows
  * the stream's exception — so the cancellation cascade and fallback
  * package apply to streams exactly as to batch steps.
  *
  * State-table schemas are the STREAM's own: the transform bootstraps
  * absent state tables BARE (no audit columns) from its `seed` input —
  * a step-written table ([[Steps.writeAligned]]) carries audit columns,
  * and a stream appending narrower rows into it would leave a
  * mixed-schema parquet dir whose read schema depends on file-sampling
  * order. The seed table itself MAY be step-written (only its key
  * column is read), which is how a STREAM step chains off a COPY
  * step's Zieltabelle.
  */
object StreamTransforms {

  /** A stream run: executes to drained, returns rows written. */
  type StreamRun = (StepContext, Map[String, String]) => Long

  /** Parse + dispatch a macro-expanded STREAM command (same syntax and
    * quoting rules as PIPELINE — [[Transforms.parse]]). */
  def resolve(command: String, ctx: StepContext): Long = {
    val (name, params) = Transforms.parse("STREAM", command)
    val t = registry.getOrElse(name, throw new IllegalArgumentException(
      s"unknown STREAM transform '$name' (known: ${registry.keys.toSeq.sorted.mkString(", ")})"))
    Transforms.rejectUnknown("STREAM", name, params, allowedKeys(name))
    t(ctx, params)
  }

  /** Parameter vocabulary per STREAM transform (r13 review — typo'd
    * optional keys fail loudly, see [[Transforms.rejectUnknown]]);
    * TransformsSpec pins the keysets equal to the registry's. */
  private[steps] val allowedKeys: Map[String, Set[String]] = Map(
    "bloom_ingest_stream" -> Set("dir", "ckpt", "schema", "key", "seed",
      "seen", "bloom", "out", "mbits", "k", "maxfiles"),
    "neardup_admit_stream" -> Set("dir", "ckpt", "schema", "seed", "hist",
      "out", "wm", "k", "bands", "threshold", "maxfiles", "hist_bands",
      "max_probe_keys"),
    "file_ingest_stream" -> Set("dir", "ckpt", "archive", "schema", "out",
      "producer", "format"),
    "sessionize_stream" -> Set("dir", "ckpt", "schema", "out", "gap",
      "watermark", "maxfiles"),
    "windowed_counts_stream" -> Set("dir", "ckpt", "schema", "out",
      "watermark", "window", "maxfiles"),
    "semdedup_stream" -> Set("dir", "ckpt", "schema", "out", "cents",
      "threshold", "id", "emb", "maxfiles", "statepartitions"),
    "dsir_score_stream" -> Set("dir", "ckpt", "schema", "out", "lm",
      "target_lang", "buckets", "scale", "maxfiles"))

  /** Watched-folder parquet arrival stream shared by the event-shaped
    * transforms: declared schema (readStream requires one), oldest-
    * first file delivery under `maxfiles` per micro-batch. Session is a
    * parameter because semdedup_stream builds its stream on a CLONED
    * RocksDB session, not the step's. */
  private def arrivalStream(spark: org.apache.spark.sql.SparkSession,
      p: Map[String, String]): org.apache.spark.sql.DataFrame =
    spark.readStream
      .schema(StructType.fromDDL(Transforms.str(p, "schema")))
      .option("maxFilesPerTrigger", Transforms.long(p, "maxfiles", Some(1L)))
      .parquet(Transforms.str(p, "dir"))

  /** Start a streaming query, drain it, and return the sum of the
    * [[graft.streaming.Streams.AdmittedMetric]] observed metric over
    * the run's micro-batches — the drain's admitted-row count for
    * `ErwarteteDaten`, computed from per-batch progress instead of a
    * before/after `count()` over the sink (r14 review: the
    * before/after form re-listed and footer-opened the sink's ENTIRE
    * history on every drain — per-run work growing with the table's
    * past, the same genus as the r13 bloom confirm join; this form is
    * proportional to the drain alone). Progress events ride the async
    * listener bus, but the bus is FIFO per query: the terminated event
    * posts after the last batch's progress, so awaiting it flushes
    * every count before the sum is read. Sums are keyed by query id —
    * concurrent STREAM steps sharing a session cannot cross-pollute. */
  private def drainObserved(spark: org.apache.spark.sql.SparkSession,
      start: () => org.apache.spark.sql.streaming.StreamingQuery): Long = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val sums = new ConcurrentHashMap[java.util.UUID, AtomicLong]()
    val done = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()
    def latchOf(id: java.util.UUID): CountDownLatch =
      done.computeIfAbsent(id, _ => new CountDownLatch(1))
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get(graft.streaming.Streams.AdmittedMetric)
        if (m != null) {
          sums.computeIfAbsent(e.progress.id, _ => new AtomicLong)
            .addAndGet(m.getLong(0))
          ()
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        latchOf(e.id).countDown()
    }
    spark.streams.addListener(listener)
    try {
      val q = start()
      q.awaitTermination() // drained, or rethrows the stream's failure
      if (!latchOf(q.id).await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "stream drained but its progress events did not flush within 60s")
      Option(sums.get(q.id)).fold(0L)(_.get)
    } finally { spark.streams.removeListener(listener); () }
  }

  val registry: Map[String, StreamRun] = Map(
    // bloom_ingest_stream dir=<watch dir> ckpt=<checkpoint dir>
    //   schema="<arrival-file DDL>" key=<column> seed=<historic keys table>
    //   seen=<state> bloom=<state> out=<target> [mbits=65536 k=5 maxfiles=1]
    // — q105's lifecycle under the orchestrator: bootstrap the (key,
    // batch) keyset and its bitmap from `seed` when absent, then drain
    // the drop folder through the crash-safe incremental dedup
    // (graft.streaming.Streams.bloomDedupStream).
    "bloom_ingest_stream" -> { (ctx, p) =>
      val spark = ctx.spark
      val key = Transforms.str(p, "key")
      val seenT = Transforms.str(p, "seen")
      val bloomT = Transforms.str(p, "bloom")
      val outT = Transforms.str(p, "out")
      val mBits = Transforms.long(p, "mbits", Some(1L << 16))
      val k = Transforms.long(p, "k", Some(5L)).toInt
      if (!ctx.warehouse.exists(spark, seenT))
        ctx.warehouse.append(
          Transforms.input(ctx, p, "seed")
            .select(col(key), lit(0L).as("batch")), seenT)
      if (!ctx.warehouse.exists(spark, bloomT))
        ctx.warehouse.replace(bloomT, graft.operators.Bloom.build(
          ctx.warehouse.read(spark, seenT), key, mBits, k))
      // the foreachBatch body's exchanges (probe distinct, confirm
      // anti-join, bitmap fold) are BATCH-sized, and AQE cannot coalesce
      // them under a streaming plan — drain on a source-sized clone (r16)
      val s2 = graft.streaming.Streams.session(spark, graft.streaming.Streams.Store.Hdfs,
        graft.streaming.Streams.StatePartitions.OfSource(Transforms.str(p, "dir")))
      val stream = s2.readStream
        .schema(StructType.fromDDL(Transforms.str(p, "schema")))
        .option("maxFilesPerTrigger", Transforms.long(p, "maxfiles", Some(1L)))
        .parquet(Transforms.str(p, "dir"))
      // completed-batch admitted counter (driver-side — foreachBatch
      // bodies run on the driver): per-run accounting that never
      // re-counts the out table's history (r14 review; a rewound batch
      // recounts on its replay, matching what this run actually landed)
      val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = graft.streaming.Streams.bloomDedupStream(
        stream, key, ctx.warehouse, seenT, bloomT, outT,
        checkpointDir = Transforms.str(p, "ckpt"), mBits = mBits, k = k,
        admittedRows = Some(admitted),
        onBatchStats = (b, nBatch, nAdmitted) => ctx.ledger.message(
          s"bloom_ingest_stream batch $b: admitted $nAdmitted of $nBatch rows",
          schrittRunId = ctx.schrittRunId))
      q.awaitTermination() // AvailableNow: returns drained, rethrows failure
      admitted.get
    },
    // neardup_admit_stream dir=<doc drop folder> ckpt=<checkpoint dir>
    //   schema="doc_id BIGINT, text STRING" seed=<historic docs table>
    //   hist=<signature state> out=<admitted target> wm=<watermark state>
    //   [k=12 bands=4 threshold=0.6 maxfiles=1 hist_bands=<band state>
    //    max_probe_keys=65536]
    // — the MinHash twin of bloom_ingest_stream (r15, VERDICT r14 next
    // #3): bootstrap the historic signature table from `seed` when
    // absent (batch=0 tag — the stream's rewind column), then drain the
    // drop folder through the crash-safe incremental admission
    // (graft.streaming.Streams.neardupAdmitStream). Each drained
    // micro-batch admits against historic ∪ earlier batches; admitted
    // docs land batch-tagged in `out`, their signatures grow `hist`.
    // `hist_bands=` maintains the persisted band table beside the
    // signatures and admits through the MANIFEST-PRUNED path — the
    // always-on surface of the q126 machinery: per-batch scans
    // sublinear in history, with a scheduled MAINTENANCE
    // `refresh_stats incremental=true` keeping pruning quality as the
    // stream's (always-scanned) appends accumulate.
    "neardup_admit_stream" -> { (ctx, p) =>
      val spark = ctx.spark
      val histT = Transforms.str(p, "hist")
      val k = Transforms.long(p, "k", Some(12L)).toInt
      val nb = Transforms.long(p, "bands", Some(4L)).toInt
      if (!ctx.warehouse.exists(spark, histT)) {
        val sigStage = graft.operators.NearDup.signaturesWithRelease(
          Transforms.input(ctx, p, "seed"), k = k)
        try ctx.warehouse.append(
          sigStage.frame.withColumn("batch", lit(0L)), histT)
        finally sigStage.release()
      }
      p.get("hist_bands").foreach { bt =>
        if (!ctx.warehouse.exists(spark, bt))
          ctx.warehouse.append(graft.operators.NearDup.bandTable(
            ctx.warehouse.read(spark, histT), k, nb)
            .withColumn("batch", lit(0L)), bt)
      }
      val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
      // source-sized clone for the batch-sized exchanges, as in bloom_ingest_stream
      val s2 = graft.streaming.Streams.session(spark, graft.streaming.Streams.Store.Hdfs,
        graft.streaming.Streams.StatePartitions.OfSource(Transforms.str(p, "dir")))
      val q = graft.streaming.Streams.neardupAdmitStream(
        arrivalStream(s2, p), ctx.warehouse,
        histTable = histT,
        outTable = Transforms.str(p, "out"),
        wmTable = Transforms.str(p, "wm"),
        checkpointDir = Transforms.str(p, "ckpt"),
        k = k, bands = nb,
        threshold = p.get("threshold").map(_.toDouble).getOrElse(0.6),
        admittedRows = Some(admitted),
        // admission health per tick into the run ledger (r15 stretch):
        // a rising rejected share on a stable feed means the corpus is
        // re-crawling itself — visible per batch, not per drain
        onBatchStats = (b, nBatch, nAdmitted) => ctx.ledger.message(
          s"neardup_admit_stream batch $b: admitted $nAdmitted of $nBatch docs",
          schrittRunId = ctx.schrittRunId),
        bandsTable = p.get("hist_bands"),
        maxProbeKeys = Transforms.long(p, "max_probe_keys", Some(1L << 16)).toInt,
        // per-batch scheduling evidence into the run ledger (parity
        // with the batch step's pruned_read-style accounting): whether
        // the maintenance cadence is keeping the history prunable is
        // visible per tick, not per incident
        onPrune = (b, scan, sched, total) => ctx.ledger.message(
          if (sched < 0)
            s"neardup_admit_stream batch $b $scan probe over max_probe_keys: full scan"
          else s"neardup_admit_stream batch $b $scan scan: scheduled $sched of $total files",
          schrittRunId = ctx.schrittRunId))
      q.awaitTermination() // AvailableNow: returns drained, rethrows failure
      admitted.get
    },
    // file_ingest_stream dir=<csv drop folder> ckpt=<checkpoint dir>
    //   archive=<processed-file dir> schema="<arrival DDL>"
    //   out=<parquet dir> [producer=graft]
    // — the q78 TRANSFER drop-folder pipeline (audit columns, archive
    // lifecycle) drained under the orchestrator. Exactly-once comes
    // from the parquet SINK's own commit protocol (_spark_metadata
    // transaction log), which is also why `out` is a plain directory
    // and NOT a warehouse table: a metadata-logged sink dir has ONE
    // writer — the stream — and warehouse rewrites would invalidate
    // its log. Rows counted for ErwarteteDaten from the per-batch
    // observed metric ([[graft.streaming.Streams.AdmittedMetric]]).
    "file_ingest_stream" -> { (ctx, p) =>
      drainObserved(ctx.spark, () => graft.streaming.Streams.fileIngest(ctx.spark,
        inDir = Transforms.str(p, "dir"),
        schema = StructType.fromDDL(Transforms.str(p, "schema")),
        outDir = Transforms.str(p, "out"),
        checkpointDir = Transforms.str(p, "ckpt"),
        archiveDir = Transforms.str(p, "archive"),
        datenproduzent = p.getOrElse("producer", "graft"),
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        sourceFormat = p.getOrElse("format", "csv")))
    },
    // sessionize_stream dir=<event drop folder> ckpt=<checkpoint dir>
    //   schema="user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    //   out=<parquet sink dir> [gap=1800 watermark="30 minutes" maxfiles=1]
    // — the q55/q66 stateful sessionization (flatMapGroupsWithState,
    // event-time timeout) as a STREAM step (r14, VERDICT r13 missing
    // #3): per-user session state lives in the checkpoint's state
    // store, CLOSED sessions append to the sink, open sessions carry
    // across drains — each workflow run is one AvailableNow catch-up
    // tick of the always-on sessionizer. Rows = closed sessions this
    // drain admitted (ErwarteteDaten).
    "sessionize_stream" -> { (ctx, p) =>
      // state sized to the watched folder at stream birth (r16)
      val s2 = graft.streaming.Streams.session(ctx.spark, graft.streaming.Streams.Store.Hdfs,
        graft.streaming.Streams.StatePartitions.OfSource(Transforms.str(p, "dir")))
      import s2.implicits._
      val events = arrivalStream(s2, p)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      drainObserved(s2, () => graft.streaming.Streams.sessionize(events,
          gapSeconds = Transforms.long(p, "gap", Some(1800L)),
          watermark = p.getOrElse("watermark", "30 minutes"))
        .filter(_.closed)
        .toDF()
        .observe(graft.streaming.Streams.AdmittedMetric, count(lit(1)))
        .writeStream.format("parquet")
        .option("path", Transforms.str(p, "out"))
        .option("checkpointLocation", Transforms.str(p, "ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    },
    // windowed_counts_stream dir=<event drop folder> ckpt=<checkpoint dir>
    //   schema="user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    //   out=<parquet sink dir> [watermark="30 minutes" window="1 hour"
    //   maxfiles=1] — the q54 watermarked tumbling-window aggregation
    // as a STREAM step: only windows the advancing watermark has
    // CLOSED append to the sink (late data bounded, state bounded);
    // still-open windows carry in the checkpoint across drains. Rows =
    // closed windows this drain emitted.
    "windowed_counts_stream" -> { (ctx, p) =>
      val s2 = graft.streaming.Streams.session(ctx.spark, graft.streaming.Streams.Store.Hdfs,
        graft.streaming.Streams.StatePartitions.OfSource(Transforms.str(p, "dir")))
      drainObserved(s2, () =>
        graft.streaming.Streams.windowedCounts(arrivalStream(s2, p),
          watermark = p.getOrElse("watermark", "30 minutes"),
          window = p.getOrElse("window", "1 hour"))
        .observe(graft.streaming.Streams.AdmittedMetric, count(lit(1)))
        .writeStream.format("parquet")
        .option("path", Transforms.str(p, "out"))
        .option("checkpointLocation", Transforms.str(p, "ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    },
    // semdedup_stream dir=<vector drop folder> ckpt=<checkpoint dir>
    //   schema="vec_id BIGINT, embedding ARRAY<FLOAT>" out=<sink dir>
    //   cents=<(cid, ce) warehouse table> [threshold=0.3 id=vec_id
    //   emb=embedding maxfiles=1 statepartitions=N] — the q96/q102
    // streaming admission
    // control as a STREAM step (r14): centroids come from a TABLE a
    // previous step wrote (a kmeans_train book or a seeded COPY —
    // bounded by the codebook, collected driver-side) and ship via the
    // CLOSURE assignment path, the big-C production route (assignCellLit
    // inlines O(C·dim) expressions — q40's audit forbids that past toy
    // C). Per-cell state lives in the RocksDB store of a cloned
    // session ([[graft.streaming.Streams.session]]; the shared session's
    // other streams keep their default store). The operator's ordering contract (ids
    // non-decreasing across micro-batches) is the feed's to meet —
    // mtime-ordered arrival files of an id-ordered corpus do, and a
    // violation fails the query (and so the step) loudly.
    "semdedup_stream" -> { (ctx, p) =>
      import graft.functions.{VectorFunctions => V}
      val cents = Transforms.input(ctx, p, "cents")
        .select(col("cid").cast("long"), V.asDouble(col("ce")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      // default state partitions = the operator's own data bound (state
      // key = cell, cardinality ≤ |codebook| — the r15 q96 rule), min'd
      // with the session default so a real codebook keeps full
      // parallelism; an explicit statepartitions= still wins (r16)
      val s2 = graft.streaming.Streams.session(ctx.spark, graft.streaming.Streams.Store.RocksDb,
        graft.streaming.Streams.StatePartitions.Exactly(
          p.get("statepartitions").map(_.toInt).getOrElse(math.min(cents.size,
            ctx.spark.conf.get("spark.sql.shuffle.partitions").toInt))))
      import s2.implicits._
      val assign = graft.operators.SemDeDup.assignCellFunc(cents)
      val idCol = p.getOrElse("id", "vec_id")
      val stream = arrivalStream(s2, p)
        .withColumn("__e", V.asDouble(col(p.getOrElse("emb", "embedding"))))
        .withColumn("__nrm", V.norm(col("__e")))
        .select(col(idCol).cast("long").as("vec_id"), lit(-1L).as("cell"),
          col("__e").as("e"), col("__nrm").as("nrm"))
        .as[graft.streaming.Streams.VecRow]
        .map(v => v.copy(cell = assign(v.e)))
      drainObserved(s2, () => graft.streaming.Streams.semDedupStream(stream,
          threshold = p.get("threshold").map(_.toDouble).getOrElse(0.3))
        .toDF()
        .observe(graft.streaming.Streams.AdmittedMetric, count(lit(1)))
        .writeStream.format("parquet")
        .option("path", Transforms.str(p, "out"))
        .option("checkpointLocation", Transforms.str(p, "ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    },
    // dsir_score_stream dir=<doc drop folder> ckpt=<checkpoint dir>
    //   schema="doc_id BIGINT, text STRING, …" out=<sink dir>
    //   lm=<docs table for the LM build> target_lang=<lang>
    //   [buckets=8192 scale=1000000 maxfiles=1] — q98's stateless
    // streaming DSIR scorer as a STREAM step: the bounded hashed-feature
    // LM trains batch-side from a table/view input (≤ buckets rows at
    // any corpus size), ships as a literal map in the streaming plan,
    // and every arriving document scores itself map-side — no state,
    // no watermark, no shuffle; a model refresh is the next run's plan
    // swap, not a state migration.
    "dsir_score_stream" -> { (ctx, p) =>
      val buckets = Transforms.long(p, "buckets", Some(8192L))
      val scale = Transforms.long(p, "scale", Some(1000000L))
      val weights = graft.operators.Dsir.weightMap(
        Transforms.input(ctx, p, "lm"), "doc_id", "text",
        targetPred = col("lang") === Transforms.str(p, "target_lang"),
        buckets = buckets, scale = scale)
      drainObserved(ctx.spark, () => graft.streaming.Streams
        .dsirScoreStream(arrivalStream(ctx.spark, p), weights, buckets, scale)
        .observe(graft.streaming.Streams.AdmittedMetric, count(lit(1)))
        .writeStream.format("parquet")
        .option("path", Transforms.str(p, "out"))
        .option("checkpointLocation", Transforms.str(p, "ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    })
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.catalog.{DriverParquet, Tables}
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Data-SELECTION gates (r11): the published corpus-selection recipes a
  * 100 TB training pipeline layers on top of the dedup/filter surface —
  * semantic dedup over the embedding space (SemDeDup, Abbas et al.
  * 2023), importance-resampling weights against a target distribution
  * (DSIR, Xie et al. 2023), and the multi-dimensional z-order layout
  * key that makes the curated output PRUNABLE once it lands in the
  * lake. Same discipline as Pipeline: every pairwise comparison is
  * blocked (here by the cluster cell — the SemDeDup design point), LM
  * tables are bounded by construction (hashed feature buckets), scoring
  * is exact fixed-point integer arithmetic so the DuckDB oracle matches
  * to the last digit, and nothing is all-pairs or driver-side.
  */
object Selection {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** SemDeDup — semantic deduplication in embedding space via
    * [[graft.operators.SemDeDup]] (public recipe: Abbas et al. 2023,
    * Staged/Managed release surface): cluster the embeddings, then drop
    * within-cluster near-duplicates by exact cosine. The cluster is the
    * blocking key — the quadratic lives inside a cell, never across the
    * corpus, which is the paper's own scale argument (k grows with the
    * corpus so cell size stays bounded; the trained-codebook variant
    * swaps in q68's k-means centroids, the plan is identical — the
    * deterministic first-8 seed codebook here is what lets DuckDB
    * reproduce every assignment, the q40 convention). Keep rule, pinned
    * by the oracle: a vector is dropped iff SOME lower-id vector in its
    * cell has cosine ≥ τ with it (chain semantics: the witness may
    * itself be dropped — the paper's "keep one representative per
    * near-dup neighborhood" made deterministic by id order). τ=0.3
    * matches this synthetic corpus's similarity scale (q24's note;
    * real embedding corpora run ~0.95 with the identical plan) and
    * keeps 311/500 at sf0.01. Cost: one broadcast-codebook assign, one
    * cell-blocked self-join, one anti-join.
    */
  val q91 = QueryDef(
    "q91_semdedup",
    (s, dir) => {
      import s.implicits._
      val v = Tables.load(s, dir, "embeddings")
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .select($"vec_id", $"e", $"nrm")
      val cents = v.filter($"vec_id" < 8)
        .select($"vec_id".cast("long").as("cid"), $"e".as("ce"))
      graft.operators.SemDeDup.survivors(v, cents,
        idCol = "vec_id", embCol = "e", normCol = "nrm", threshold = 0.3)
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), cents AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8
      ), dists AS (
        SELECT n.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (n.e[i]-c.ce[i])*(n.e[i]-c.ce[i]))),
            (a,b) -> a+b) AS d
        FROM n CROSS JOIN cents c
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dists) WHERE rn = 1
      ), an AS (
        SELECT n.*, a.cell FROM n JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      )
      SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""))

  /** DSIR importance weights — data selection via importance resampling
    * via [[graft.operators.Dsir]] (public recipe: Xie et al. 2023,
    * Staged/Managed release surface): score every raw-pool doc by how
    * much its HASHED n-gram features look like a target distribution
    * (here the corpus's own `lang = 'en'` slice standing in for the
    * paper's held-out target corpus). The load-bearing scale choice is
    * the paper's own: features are word bigrams hashed into B=8192
    * buckets, so the count table is ≤ B rows NO MATTER the corpus
    * size — the LM join back is a bounded broadcast at 100 TB, where a
    * raw-bigram vocabulary (Heaps-unbounded, Zipf-skewed) would be
    * neither broadcastable nor skew-safe. Scoring is the Mixture/q90
    * fixed-point discipline: the per-occurrence Laplace-smoothed
    * likelihood ratio `(1e6·(ct+1)) div (cr+1)` summed per doc — the
    * exact-integer skeleton of the paper's log-ratio (monotone per
    * occurrence; production is `Dsir.logWeightsWithRelease`, whose
    * per-feature-normalized ranking agreement — and the raw sums'
    * length-bias divergence — SelectionSpec pins with measured
    * numbers). Shape (r12, VERDICT wrong #1):
    * ONE persisted explode, ONE conditional aggregation (`cr` and `ct`
    * from the same groupBy — `count(when(lang='en'))` replaces the
    * two-agg left join), one broadcast join, one doc groupBy: one
    * corpus pass plus the staged readback, where the old two-agg shape
    * paid three. Docs with <2 tokens have no features and drop out, in
    * both engines. r13 (VERDICT wrong #3): `dsir_weight_mean` — the
    * per-feature normalized weight a selector should rank on — leads
    * the weight columns, oracle-matched by exact integer division.
    */
  val q92 = QueryDef(
    "q92_dsir_weight",
    (s, dir) =>
      graft.operators.Dsir.weights(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", buckets = 8192L, scale = 1000000L),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), occ AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 8192 AS fb
        FROM (
          SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
          FROM t WHERE len(t) >= 2)
      ), ct AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM occ WHERE lang = 'en' GROUP BY 1
      ), cr AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY 1
      ), lm AS (
        SELECT cr.fb, COALESCE(ct.ct, 0) AS ct, cr.cr FROM cr LEFT JOIN ct USING (fb)
      )
      SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        CAST(CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT)
          // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS dsir_weight_mean,
        CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT) AS dsir_weight
      FROM occ o JOIN lm USING (fb)
      GROUP BY 1"""))

  /** Z-order layout audit — [[graft.operators.ZOrder]] applied to the
    * lineitem fact: quantize (l_partkey, l_suppkey) into their 6-bit
    * domain positions (linear min-max quantizer — order-preserving, so
    * z-locality survives in the ORIGINAL key space; the domain stats
    * are a 1-row broadcast on a constant key, never a global window;
    * the percentile
    * quantizer for skewed/temporal columns is executed code —
    * `ZOrder.zkeyedQuantile` + `optimizeZOrder(quantile = true)`,
    * ZOrderSpec-measured — r13), interleave into a 12-bit
    * z-key, bucket on its top 6 bits (the file-boundary stand-in: a
    * z-ordered write is `repartitionByRange(zkey)` + sorted files —
    * EXECUTED as `ZOrder.writeLayout`, with real footer-stat skipping
    * measured in FANIN.md/ZOrderSpec (r12) — and a z-key prefix IS a
    * file's key range), and report each bucket's
    * min/max envelope on BOTH raw columns — exactly the parquet
    * footer/manifest stats a scan planner prunes with. The output is
    * the pruning evidence itself: every bucket's envelope is confined
    * to ≤1/8 of BOTH domains from ONE layout (SelectionSpec pins the
    * bound). Pure map + one agg shuffle; no row_number file assigner.
    */
  val q93 = QueryDef(
    "q93_zorder_layout",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("x"), $"l_suppkey".cast("long").as("y"))
      // non-foldable single-valued key (the IvfIndex.constKey trick): a
      // lit(1) key constant-folds to a trivially-true condition and the
      // join degrades to a BroadcastNestedLoopJoin
      val one = pmod(xxhash64($"x"), lit(1L))
      val dom = li.agg(max($"x").as("xmax"), max($"y").as("ymax"))
        .withColumn("one", pmod(xxhash64($"xmax"), lit(1L)))
      val z = li.withColumn("one", one)
        .join(broadcast(dom), "one")
        .withColumn("xq", expr("(x * 64L) div (xmax + 1L)"))
        .withColumn("yq", expr("(y * 64L) div (ymax + 1L)"))
        .withColumn("zkey", graft.operators.ZOrder.interleave(Seq($"xq", $"yq"), 6))
      z.withColumn("bucket", shiftright($"zkey", 6))
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("cnt"),
          min($"x").as("min_x"), max($"x").as("max_x"),
          min($"y").as("min_y"), max($"y").as("max_y"))
    },
    Some("""
      WITH dom AS (
        SELECT MAX(CAST(l_partkey AS BIGINT)) AS xmax,
               MAX(CAST(l_suppkey AS BIGINT)) AS ymax
        FROM lineitem
      ), q AS (
        SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
          (CAST(l_partkey AS BIGINT) * 64) // (d.xmax + 1) AS xq,
          (CAST(l_suppkey AS BIGINT) * 64) // (d.ymax + 1) AS yq
        FROM lineitem, dom d
      ), z AS (
        SELECT x, y,
          list_reduce(list_transform(generate_series(0, 5),
            i -> (((xq >> i) & 1) << (2*i)) | (((yq >> i) & 1) << (2*i+1))),
            (a, b) -> a | b) AS zkey
        FROM q
      )
      SELECT zkey >> 6 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
        MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
      FROM z GROUP BY 1"""))

  /** SemDeDup over the TRAINED codebook — q91 with q68's k-means book
    * in the centroids slot, retiring q91's seed-codebook caveat the
    * same way q74/q76 retired q70's (the "trained variant drops into
    * the same slot" promise, executed). The book is the q69/q76/q77
    * coarse book — same [[graft.operators.BookCache]] key, so one
    * session trains it once for all four gates. Training means are
    * fixed-point (q68) and distances strict left folds, so DuckDB
    * reproduces the trained book, every assignment, and every drop
    * digit-for-digit. On this near-uniform synthetic corpus both books
    * happen to balance (seed 133/117/129/121 vs trained 122/113/143/122
    * at sf0.01 — measured, r11 review: an earlier draft claimed seed
    * skew that is not there); the reason to train is real-corpus
    * geometry, where arbitrary seeds DO skew cells and centroids from
    * k-means bound the within-cell quadratic — what this gate pins is
    * that the trained book drops into the operator's slot with exact
    * oracle parity, so that swap is free when it matters.
    */
  val q94 = QueryDef(
    "q94_semdedup_trained",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{BookCache, KMeansCodebook, SemDeDup}
      val ve = Tables.load(s, dir, "embeddings")
        .select($"vec_id", V.asDouble($"embedding").as("e"))
      val book = BookCache(ve, s"$dir#coarse:init=lowestIds,k=4,iters=1") {
        KMeansCodebook.train(ve,
          KMeansCodebook.initLowestIds(ve, "e", "vec_id", k = 4),
          "e", "vec_id", iters = 1).localCheckpoint(true)
      }
      val v = ve.withColumn("nrm", V.norm($"e"))
      SemDeDup.survivors(v, book,
        idCol = "vec_id", embCol = "e", normCol = "nrm", threshold = 0.3)
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        FROM v ORDER BY vec_id LIMIT 4
      ), d1 AS (
        SELECT v.vec_id, s.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (v.e[i]-s.ce[i])*(v.e[i]-s.ce[i]))),
            (a,b) -> a+b) AS d
        FROM v CROSS JOIN seeds s
      ), a1 AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d1) WHERE rn = 1
      ), px1 AS (
        SELECT a1.cell, i.i AS pos,
          CAST(floor(v.e[i.i] * 1073741824.0) AS HUGEINT) AS q
        FROM a1 JOIN v USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(1,64)) AS i) i
      ), c1 AS (
        SELECT cell, pos, (CAST(SUM(q) AS DOUBLE) / 1073741824.0) / COUNT(*) AS val
        FROM px1 GROUP BY 1, 2
      ), b1 AS (
        SELECT cell AS cid, list(val ORDER BY pos) AS ce FROM c1 GROUP BY cell
      ), d2 AS (
        SELECT n.vec_id, b.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (n.e[i]-b.ce[i])*(n.e[i]-b.ce[i]))),
            (a,b) -> a+b) AS d
        FROM n CROSS JOIN b1 b
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM d2) WHERE rn = 1
      ), an AS (
        SELECT n.*, a.cell FROM n JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      )
      SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""))

  /** STREAMING SemDeDup — q91's admission decision run continuously
    * (the q49/q66 pattern: a streaming twin whose oracle is the batch
    * gate's, verbatim). Cells are assigned MAP-SIDE against the
    * driver-literal seed codebook ([[graft.operators.SemDeDup
    * .assignCellLit]] — no join, no shuffle, bit-identical `sqDist`
    * folds), then `transformWithState` keeps every seen vector per
    * cell (chain semantics: a rejected vector can still witness) and
    * admits a vector iff no earlier cell-mate reached τ. Admission
    * decisions are final on emit; the ordering contract (ids
    * non-decreasing across micro-batches) is met here by draining the
    * sorted corpus in one AvailableNow pass. State per cell = cell
    * membership — bounded by the codebook exactly like the batch
    * quadratic (FANIN.md prices the cells at C=1024/×100).
    */
  val q96 = QueryDef(
    "q96_semdedup_streaming",
    (s, dir) => {
      val cents = {
        import s.implicits._
        s.read.parquet(s"$dir/embeddings.parquet")
          .filter($"vec_id" < 8)
          .select($"vec_id".cast("long"), V.asDouble($"embedding"))
          .as[(Long, Seq[Double])].collect()
          .map { case (cid, ce) => (cid, ce.toArray) }.toSeq
      }
      // state key = cell, cardinality ≤ |codebook| — size the state
      // layout to the DATA bound, not the session's batch-join
      // parallelism (r15: 32 RocksDB instances booted per drain for ≤8
      // populated cells; the store boot, not the state, was the cost)
      val s2 = graft.streaming.Streams.session(s, graft.streaming.Streams.Store.RocksDb,
        graft.streaming.Streams.StatePartitions.Exactly(cents.size))
      import s2.implicits._
      val base = graft.util.TempDirs.scratch("q96stream")
      val schema = DriverParquet.schema(s2, s"$dir/embeddings.parquet")
      val stream = s2.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .withColumn("cell", graft.operators.SemDeDup.assignCellLit($"e", cents))
        .select($"vec_id".cast("long").as("vec_id"), $"cell", $"e", $"nrm")
        .as[graft.streaming.Streams.VecRow]
      val q = graft.streaming.Streams.semDedupStream(stream, threshold = 0.3)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("vec_id BIGINT, cell BIGINT").parquet(s"$base/out")
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), cents AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8
      ), dists AS (
        SELECT n.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (n.e[i]-c.ce[i])*(n.e[i]-c.ce[i]))),
            (a,b) -> a+b) AS d
        FROM n CROSS JOIN cents c
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dists) WHERE rn = 1
      ), an AS (
        SELECT n.*, a.cell FROM n JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      )
      SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""))

  /** STREAMING SemDeDup through the CLOSURE-codebook assignment path
    * (r12, VERDICT next #5) — q96 with [[graft.operators.SemDeDup
    * .assignCellFunc]] in the cell-assign slot: the production route
    * for codebooks too LARGE to inline, since [[graft.operators
    * .SemDeDup.assignCellLit]]'s plan is O(C·dim) expressions (the q40
    * audit forbids that shape past toy C) and the join path's argmin
    * groupBy cannot precede a stateful streaming operator. The codebook
    * rides the task closure through `Dataset.map` (serialized once per
    * executor, like a broadcast); the fold is the same strict-left
    * IEEE association with the strict-`<`-over-ascending-cids tie rule,
    * so the assignment is bit-identical to both other paths
    * (SelectionSpec pins it; FANIN.md proved survivor parity at C=1024
    * ×100). This gate makes the big-C path DRIVER-CHECKED every round:
    * same corpus, same admission processor, same oracle as q96,
    * verbatim — only the assignment slot differs.
    */
  val q102 = QueryDef(
    "q102_semdedup_streaming_bigc",
    (s, dir) => {
      val cents = {
        import s.implicits._
        s.read.parquet(s"$dir/embeddings.parquet")
          .filter($"vec_id" < 8)
          .select($"vec_id".cast("long"), V.asDouble($"embedding"))
          .as[(Long, Seq[Double])].collect()
          .map { case (cid, ce) => (cid, ce.toArray) }.toSeq
      }
      // state partitions from the codebook bound, as in q96 (r15)
      val s2 = graft.streaming.Streams.session(s, graft.streaming.Streams.Store.RocksDb,
        graft.streaming.Streams.StatePartitions.Exactly(cents.size))
      import s2.implicits._
      val base = graft.util.TempDirs.scratch("q102stream")
      val assign = graft.operators.SemDeDup.assignCellFunc(cents)
      val schema = DriverParquet.schema(s2, s"$dir/embeddings.parquet")
      val stream = s2.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .select($"vec_id".cast("long").as("vec_id"), lit(-1L).as("cell"), $"e", $"nrm")
        .as[graft.streaming.Streams.VecRow]
        .map(v => v.copy(cell = assign(v.e)))
      val q = graft.streaming.Streams.semDedupStream(stream, threshold = 0.3)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("vec_id BIGINT, cell BIGINT").parquet(s"$base/out")
    },
    Some("""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), n AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), cents AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8
      ), dists AS (
        SELECT n.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (n.e[i]-c.ce[i])*(n.e[i]-c.ce[i]))),
            (a,b) -> a+b) AS d
        FROM n CROSS JOIN cents c
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dists) WHERE rn = 1
      ), an AS (
        SELECT n.*, a.cell FROM n JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      )
      SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""))

  /** STREAMING DSIR scoring — q92's weight as a continuous, STATELESS
    * pipeline ([[graft.streaming.Streams.dsirScoreStream]]): the batch
    * pass trains the bounded LM (q92's single-agg count table, ≤8192
    * rows at any corpus size), the per-bucket weights ship as a literal map in
    * the streaming plan, and each arriving document scores itself
    * map-side — its features never leave the row, so the stream needs
    * no state, no watermark, no shuffle. The q96 twin carries per-cell
    * state because admission is relational; scoring is pointwise, so
    * its streaming form is free. Oracle = q92's, verbatim.
    */
  val q98 = QueryDef(
    "q98_dsir_streaming",
    (s, dir) => {
      import s.implicits._
      val base = graft.util.TempDirs.scratch("q98stream")
      // batch LM build — q92's model via the operator's single-pass
      // conditional aggregation, collapsed to w per bucket (r12): one
      // explode, one agg, one bounded collect
      val weights = graft.operators.Dsir.weightMap(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", buckets = 8192L, scale = 1000000L)
      val schema = DriverParquet.schema(s, s"$dir/documents.parquet")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.Streams.dsirScoreStream(stream, weights)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.schema("doc_id BIGINT, n_feats BIGINT, dsir_weight BIGINT")
        .parquet(s"$base/out")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), occ AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 8192 AS fb
        FROM (
          SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
          FROM t WHERE len(t) >= 2)
      ), ct AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM occ WHERE lang = 'en' GROUP BY 1
      ), cr AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY 1
      ), lm AS (
        SELECT cr.fb, COALESCE(ct.ct, 0) AS ct, cr.cr FROM cr LEFT JOIN ct USING (fb)
      )
      SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT) AS dsir_weight
      FROM occ o JOIN lm USING (fb)
      GROUP BY 1"""))


  /** Selection pipeline END-TO-END v2 (r11) — the cross-MODAL composite
    * q86 could not pin: text-side filtering (q79 decontaminate ∩ q80
    * repetition keep) composed with EMBEDDING-side semantic dedup (q91
    * survivors on the paired vector, vec_id = doc_id) and DSIR scoring
    * (q92 weights over the raw pool — importance is measured against
    * the whole distribution, not the survivors). One oracle pins the
    * text×vector join interaction: a doc survives iff BOTH its token
    * stream and its embedding survive, and carries its cell + weight
    * out as the curated, scored corpus manifest. The q79/q80 stage
    * outputs persist as CSE barriers (the q86 note — filtering on their
    * computed columns inlines higher-order lambdas into the predicate);
    * persists are registry-contract scoped (clearCache per gate).
    */
  val q99 = QueryDef(
    "q99_selection_e2e",
    (s, dir) => {
      import s.implicits._
      val cleanStats = Pipeline.q79.run(s, dir).persist()
      val keepStats = Pipeline.q80.run(s, dir).persist()
      val clean = cleanStats.filter($"contaminated" === 0).select($"doc_id")
      val keep = keepStats.filter($"keep_doc" === 1).select($"doc_id")
      val sem = q91.run(s, dir).withColumnRenamed("vec_id", "doc_id")
      val wts = q92.run(s, dir).select($"doc_id", $"dsir_weight")
      docs(s, dir).select($"doc_id", $"lang", $"source")
        .join(clean, Seq("doc_id"), "left_semi")
        .join(keep, Seq("doc_id"), "left_semi")
        .join(sem, "doc_id")
        .join(wts, "doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, source,
          regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), g AS (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN
            list_distinct(list_transform(generate_series(1, len(t)-3),
              i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))
          ELSE [] END) AS gram
        FROM toks
      ), h AS (
        SELECT doc_id, CAST('0x' || substr(md5(gram),1,8) AS BIGINT) AS gh FROM g
      ), ev AS (
        SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 7
      ), contaminated AS (
        SELECT DISTINCT h.doc_id FROM h JOIN ev USING (gh) WHERE h.doc_id % 10 != 7
      ), bgbase AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
          CASE WHEN len(t) >= 2 THEN
            list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
          ELSE [] END AS bg
        FROM toks
      ), bgstats AS (
        SELECT doc_id, n_tokens, CAST(len(bg) AS BIGINT) AS n_bg,
          CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n_tokens ELSE 0.0 END AS dup
        FROM bgbase
      ), cnts AS (
        SELECT doc_id, g2, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(bg) AS g2 FROM bgbase) GROUP BY doc_id, g2
      ), topbg AS (
        SELECT doc_id, c FROM (
          SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g2) AS rn
          FROM cnts) WHERE rn = 1
      ), keepb AS (
        SELECT s.doc_id FROM bgstats s LEFT JOIN topbg USING (doc_id)
        WHERE s.dup <= 0.65
          AND (CASE WHEN s.n_bg > 0 THEN CAST(topbg.c AS DOUBLE) / s.n_bg ELSE 0.0 END) <= 0.08
      ), surv AS (
        SELECT toks.* FROM toks
        WHERE doc_id % 10 != 7
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND doc_id IN (SELECT doc_id FROM keepb)
      )
      , v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      ), nn AS (
        SELECT vec_id, e, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(e, x -> x*x)), (a,b) -> a+b)) AS nrm FROM v
      ), cents AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8
      ), dists AS (
        SELECT nn.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> (nn.e[i]-c.ce[i])*(nn.e[i]-c.ce[i]))),
            (a,b) -> a+b) AS d
        FROM nn CROSS JOIN cents c
      ), assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM dists) WHERE rn = 1
      ), an AS (
        SELECT nn.*, a.cell FROM nn JOIN assigned a USING (vec_id)
      ), dup AS (
        SELECT DISTINCT b.vec_id
        FROM an a JOIN an b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= 0.3
      ), semsurv AS (
        SELECT vec_id, cell FROM an WHERE vec_id NOT IN (SELECT vec_id FROM dup)
      ), occ2 AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 8192 AS fb
        FROM (
          SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
          FROM toks WHERE len(t) >= 2)
      ), ctt AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM occ2 WHERE lang = 'en' GROUP BY 1
      ), crt AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM occ2 GROUP BY 1
      ), lm AS (
        SELECT crt.fb, COALESCE(ctt.ct, 0) AS ct, crt.cr FROM crt LEFT JOIN ctt USING (fb)
      ), wts AS (
        SELECT o.doc_id, CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT) AS dsir_weight
        FROM occ2 o JOIN lm USING (fb) GROUP BY 1
      )
      SELECT s.doc_id, s.lang, s.source, ss.cell, w.dsir_weight
      FROM surv s JOIN semsurv ss ON s.doc_id = ss.vec_id JOIN wts w ON s.doc_id = w.doc_id"""))

  /** The DSIR SELECTOR surface, oracle-gated (r13, VERDICT wrong #3
    * closed end-to-end): [[graft.operators.Dsir.selectTopKWithRelease]]
    * — top-k raw-pool docs by the per-feature-normalized weight, ties
    * on doc_id. The plan is a distributed partial top-k
    * (`TakeOrderedAndProject`, pinned in SelectionSpec — never a global
    * sort or a rank window), and because the normalized mean is exact
    * integer division, DuckDB reproduces the selected SET and its
    * columns digit-for-digit with a plain ORDER BY … LIMIT. This gate
    * is what makes the length-bias hardening enforceable: a regression
    * that re-ranked on the raw sum would select different docs and
    * break the hash.
    */
  val q108 = QueryDef(
    "q108_dsir_select_topk",
    (s, dir) =>
      graft.operators.Dsir.selectTopKWithRelease(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", k = 50,
        buckets = 8192L, scale = 1000000L).frame,
    Some("""
      WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), occ AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 8192 AS fb
        FROM (
          SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
          FROM t WHERE len(t) >= 2)
      ), ct AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM occ WHERE lang = 'en' GROUP BY 1
      ), cr AS (
        SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY 1
      ), lm AS (
        SELECT cr.fb, COALESCE(ct.ct, 0) AS ct, cr.cr FROM cr LEFT JOIN ct USING (fb)
      ), w AS (
        SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
          CAST(CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT)
            // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS dsir_weight_mean,
          CAST(SUM((1000000 * (lm.ct + 1)) // (lm.cr + 1)) AS BIGINT) AS dsir_weight
        FROM occ o JOIN lm USING (fb)
        GROUP BY 1
      )
      SELECT doc_id, n_feats, dsir_weight_mean, dsir_weight
      FROM w ORDER BY dsir_weight_mean DESC, doc_id LIMIT 50"""))

  /** The z-order layout's READ side, oracle-gated (r13): write the
    * two-key layout ([[graft.operators.ZOrder.writeLayout]] — the q93
    * key, executed as range-partitioned sorted parquet), then answer
    * range predicates on EACH interleaved column through
    * [[graft.operators.ZOrder.prunedRead]] — the manifest planner that
    * keeps only footer-envelope-intersecting files and scans just
    * those. The oracle filters the source table directly, so the gate
    * pins the pruning's CORRECTNESS contract: no qualifying row may
    * live in a skipped file, on either dimension of one layout. The
    * files-actually-skipped measurement is ZOrderSpec's (`inputFiles`
    * shrinkage) and FANIN.md's (skip ratios at ×10/×100).
    */
  val q111 = QueryDef(
    "q111_zorder_pruned_read",
    (s, dir) => {
      import s.implicits._
      import graft.operators.ZOrder
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("x"), $"l_suppkey".cast("long").as("y"))
      val out = graft.util.TempDirs.scratch("graft-zpruned")
      ZOrder.writeLayout(ZOrder.zkeyed(li, Seq("x", "y"), bits = 6), "zkey", 16, out)
      def slice(c: String, lo: Long, hi: Long, other: String) =
        ZOrder.prunedRead(s, out, c, lo, hi)
          .groupBy(col(c))
          .agg(count(lit(1)).as("cnt"), sum(col(other)).as("sum_other"))
          .select(lit(c).as("dim"), col(c).as("k"), $"cnt", $"sum_other")
      slice("x", 10L, 59L, "y").unionByName(slice("y", 3L, 20L, "x"))
    },
    Some("""
      SELECT 'x' AS dim, CAST(l_partkey AS BIGINT) AS k,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS sum_other
      FROM lineitem WHERE l_partkey BETWEEN 10 AND 59 GROUP BY 2
      UNION ALL
      SELECT 'y', CAST(l_suppkey AS BIGINT),
        CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(l_partkey AS BIGINT)) AS BIGINT)
      FROM lineitem WHERE l_suppkey BETWEEN 3 AND 20 GROUP BY 2"""))

  /** Manifest-planned pruned read with a STALE manifest in flight
    * (r13): two appends → quantile z-order OPTIMIZE → `refresh_stats`
    * (the footer envelopes persisted as the `__stats` sibling table)
    * → a THIRD append the manifest has never seen → range reads on
    * both layout keys through [[graft.catalog.Warehouse
    * .statsPrunedRead]], which plans file skipping from the manifest
    * alone. The oracle filters the full three-slice source directly,
    * so the gate pins the freshness rule that makes persisted stats
    * safe at all: a file absent from the manifest is always scanned
    * (the post-refresh append's rows MUST appear), a manifest row may
    * only ever remove provably-disjoint files — under any
    * append/maintenance interleaving staleness costs pruning quality,
    * never rows. The scheduling claims (manifested files really
    * pruned, one small manifest read instead of per-file footer opens)
    * are WarehouseStatsSpec's.
    */
  val q112 = QueryDef(
    "q112_stats_pruned_read",
    (s, dir) => {
      import s.implicits._
      val wh = new graft.catalog.Warehouse(graft.util.TempDirs.scratch("graft-zstats"))
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("x"), $"l_suppkey".cast("long").as("y"),
          $"l_shipdate".as("sd"))
      def slice(from: String, to: String) =
        li.filter($"sd" >= lit(from).cast("timestamp") && $"sd" < lit(to).cast("timestamp"))
          .select($"x", $"y")
      wh.append(slice("1995-01-01 00:00:00", "1995-04-01 00:00:00"), "zs_lineitem")
      wh.append(slice("1995-04-01 00:00:00", "1995-07-01 00:00:00"), "zs_lineitem")
      wh.optimizeZOrder(s, "zs_lineitem", Seq("x", "y"), bits = 6,
        targetRowsPerFile = 1024, quantile = true)
      wh.refreshStats(s, "zs_lineitem", Seq("x", "y"))
      wh.append(slice("1995-07-01 00:00:00", "1995-10-01 00:00:00"), "zs_lineitem")
      def sliceAgg(c: String, lo: Long, hi: Long, other: String) =
        wh.statsPrunedRead(s, "zs_lineitem", c, lo, hi)
          .groupBy(col(c))
          .agg(count(lit(1)).as("cnt"), sum(col(other)).as("sum_other"))
          .select(lit(c).as("dim"), col(c).as("k"), $"cnt", $"sum_other")
      sliceAgg("x", 10L, 59L, "y").unionByName(sliceAgg("y", 3L, 20L, "x"))
    },
    Some("""
      WITH src AS (
        SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
      )
      SELECT 'x' AS dim, x AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(y) AS BIGINT) AS sum_other
      FROM src WHERE x BETWEEN 10 AND 59 GROUP BY 2
      UNION ALL
      SELECT 'y', y, CAST(COUNT(*) AS BIGINT), CAST(SUM(x) AS BIGINT)
      FROM src WHERE y BETWEEN 3 AND 20 GROUP BY 2"""))

  /** Conjunctive (rectangle) pruned reads (r13 round tail): the query
    * shape a TWO-column z-order layout exists for — a range predicate
    * on BOTH interleaved keys, planned by file skipping where the
    * per-dimension skip ratios MULTIPLY (a layout skipping ~3/4 per
    * dimension schedules ~1/16 of its files for the rectangle;
    * ZOrderSpec measures the shrinkage, this gate pins correctness).
    * One q112-style lifecycle — two appends, quantile OPTIMIZE,
    * `refresh_stats`, then a THIRD append the manifest has never seen —
    * read back as the same rectangle through BOTH planners: the
    * manifest ([[graft.catalog.Warehouse.statsPrunedRead]] — must
    * honor the freshness rule on every dimension at once) and the live
    * footers ([[graft.operators.ZOrder.prunedRead]] over the table dir
    * — fresh by construction). The oracle evaluates the rectangle over
    * the three slices directly, once per planner: any file dropped
    * despite holding a qualifying (x AND y) row — on either planner,
    * stale or fresh — breaks the hash, and the two planners' rows must
    * agree with each other because they agree with it.
    */
  val q114 = QueryDef(
    "q114_zorder_rect_read",
    (s, dir) => {
      import s.implicits._
      val wh = new graft.catalog.Warehouse(graft.util.TempDirs.scratch("graft-zrect"))
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("x"), $"l_suppkey".cast("long").as("y"),
          $"l_shipdate".as("sd"))
      def slice(from: String, to: String) =
        li.filter($"sd" >= lit(from).cast("timestamp") && $"sd" < lit(to).cast("timestamp"))
          .select($"x", $"y")
      wh.append(slice("1995-01-01 00:00:00", "1995-04-01 00:00:00"), "zr_lineitem")
      wh.append(slice("1995-04-01 00:00:00", "1995-07-01 00:00:00"), "zr_lineitem")
      wh.optimizeZOrder(s, "zr_lineitem", Seq("x", "y"), bits = 6,
        targetRowsPerFile = 1024, quantile = true)
      wh.refreshStats(s, "zr_lineitem", Seq("x", "y"))
      wh.append(slice("1995-07-01 00:00:00", "1995-10-01 00:00:00"), "zr_lineitem")
      val rect = Seq(("x", 10L, 59L), ("y", 3L, 20L))
      def agg(planner: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"x")
          .agg(count(lit(1)).as("cnt"), sum($"y").as("sum_y"))
          .select(lit(planner).as("planner"), $"x".as("k"), $"cnt", $"sum_y")
      agg("manifest", wh.statsPrunedRead(s, "zr_lineitem", rect))
        .unionByName(agg("footer",
          graft.operators.ZOrder.prunedRead(s, s"${wh.dir}/zr_lineitem", rect)))
    },
    Some("""
      WITH rect AS (
        SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
        FROM lineitem
        WHERE l_partkey BETWEEN 10 AND 59 AND l_suppkey BETWEEN 3 AND 20
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
      )
      SELECT 'manifest' AS planner, x AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(y) AS BIGINT) AS sum_y
      FROM rect GROUP BY 2
      UNION ALL
      SELECT 'footer', x, CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT)
      FROM rect GROUP BY 2"""))

  val all: Seq[QueryDef] = Seq(q91, q92, q93, q94, q96, q98, q99, q102, q108,
    q111, q112, q114)
}


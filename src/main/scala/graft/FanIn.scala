package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Fan-in measurement for the blocked pairwise operators (VERDICT r2
  * item 8): generates a corpus ~100× the sf0.1 LLM-pipeline tables with
  * SKEWED near-dup clusters (one giant cluster + a power-law tail —
  * the shape real crawled corpora have), then measures the blocking-key
  * distributions that bound every candidate join:
  *
  *   - MinHash-LSH band keys (q15's blocking),
  *   - sign-LSH hyperplane buckets at several plane counts (q17/q24),
  *   - IVF cells at several codebook sizes (q40),
  *
  * reporting max/p99 bucket sizes and the candidate-pair count vs
  * all-pairs — the measured version of the "LSH bounds the candidate
  * set" argument. Everything is generated INSIDE Spark from pure hash
  * expressions (deterministic, no driver-side data), so the same main
  * scales to any multiplier.
  *
  * Results are recorded in FANIN.md.
  */
object FanIn {

  private val Dim = 64

  /** Synthetic documents with skewed near-dup structure (power-law
    * cluster sizes, the shape crawled corpora have):
    *  - ids [0, 1k): ONE cluster of 1,000 near-dups (the hot key),
    *  - ids [1k, 11k): 100 clusters of 100,
    *  - ids [11k, 31k): 2,000 clusters of 10,
    *  - ids [31k, n): singletons.
    * Cluster text = 100 tokens drawn from the cluster seed; each doc
    * perturbs ~3% of positions with doc-unique tokens (≈0.9 Jaccard
    * within a cluster).
    */
  def genDocuments(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select($"id".as("doc_id"))
      .withColumn("cluster",
        when($"doc_id" < 1000L, lit(0L))
          .when($"doc_id" < 11000L, lit(1L) + ($"doc_id" - 1000L) / 100L)
          .when($"doc_id" < 31000L, lit(200L) + ($"doc_id" - 11000L) / 10L)
          .otherwise(lit(1000000L) + $"doc_id"))
      .withColumn("toks", transform(sequence(lit(0), lit(99)), i =>
        when(pmod(xxhash64($"doc_id", i, lit("perturb")), lit(33)) === 0,
          concat(lit("u"), pmod(xxhash64($"doc_id", i), lit(1000000000L))))
          .otherwise(concat(lit("w"), pmod(xxhash64($"cluster", i), lit(5000))))))
      .select(
        $"doc_id",
        concat_ws(" ", $"toks").as("text"),
        lit("syn").as("lang"),
        lit("fanin").as("source"),
        length(concat_ws(" ", $"toks")).as("n_chars"))
  }

  /** Synthetic embeddings with skewed cluster structure: half the
    * vectors concentrate on 4 hot centers, a quarter on 12 warm ones,
    * the rest spread over 512 cold centers; vector = center + 30% noise.
    */
  def genEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).select($"id".as("vec_id"))
      .withColumn("u", pmod(xxhash64($"vec_id", lit("ctr")), lit(100)))
      .withColumn("center",
        when($"u" < 50, pmod(xxhash64($"vec_id", lit("hot")), lit(4)))
          .when($"u" < 75, lit(4) + pmod(xxhash64($"vec_id", lit("warm")), lit(12)))
          .otherwise(lit(16) + pmod(xxhash64($"vec_id", lit("cold")), lit(512))))
      .withColumn("embedding", transform(sequence(lit(0), lit(Dim - 1)), d =>
        ((pmod(xxhash64($"center", d), lit(2001)) - 1000) / lit(1000.0) +
          (pmod(xxhash64($"vec_id", d), lit(2001)) - 1000) / lit(1000.0) * lit(0.3))
          .cast("float")))
      .select($"vec_id", $"embedding",
        $"center".cast("int").as("label"))
  }

  /** max / p99 / mean group size + candidate-pair arithmetic for one
    * blocking-key frame (one row per (item, key)).
    */
  private def blockStats(keyed: DataFrame, keyCols: Seq[String], label: String): String = {
    val sizes = keyed.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
    val row = sizes.agg(
      count(lit(1)).as("groups"),
      max(col("c")).as("maxc"),
      expr("percentile_approx(c, 0.99)").as("p99"),
      avg(col("c")).as("meanc"),
      sum(expr("c * (c - 1) / 2")).as("cand_pairs")).head()
    f"| $label | ${row.getLong(0)}%,d | ${row.getLong(1)}%,d | ${row.getLong(2)}%,d | " +
      f"${row.getDouble(3)}%.1f | ${row.getDouble(4).toLong}%,d |"
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    import spark.implicits._
    val mult = sys.env.getOrElse("FANIN_MULT", "100").toInt
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val outDir = graft.util.TempDirs.scratch("fanin")
    println(s"# corpus: $nDocs docs, $nVecs vectors (x$mult sf0.1), dir $outDir")

    genDocuments(spark, nDocs).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    genEmbeddings(spark, nVecs).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // ---- MinHash-LSH band-key fan-in (q15's blocking) ----
    val K = 12; val Bands = 4; val Rows = K / Bands
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val sig = docs
      .select($"doc_id", T.tokens($"text").as("t"))
      .select($"doc_id", T.shingles("t").as("shingles"))
      .withColumn("hashes", transform($"shingles", x => T.hash32(x)))
      .filter(size($"shingles") > 0)
      .withColumn("sig", T.minhashFromHashes($"hashes", K))
      .persist()
    println("| blocking | groups | max | p99 | mean | candidate_pairs |")
    println("|---|---|---|---|---|---|")
    // the b/r knob: more bands of fewer rows = lower match threshold
    // (~(1/b)^(1/r)) = more candidates — the banding-side analog of the
    // plane-count sweep below (q15 ships b=4, r=3)
    Seq(2, 3, 4, 6).foreach { b =>
      val r = K / b
      val bands = sig.select($"doc_id",
        explode(array((0 until b).map(i =>
          struct(lit(i).as("b"), T.bandKey($"sig", i, r).as("key"))): _*)).as("band"))
        .select($"doc_id", $"band.b", $"band.key")
      println(blockStats(bands, Seq("b", "key"), s"minhash bands (K=$K, b=$b, r=$r)"))
    }

    // ---- sign-LSH bucket fan-in at several plane counts (q17/q24) ----
    val vecs = spark.read.parquet(s"$outDir/embeddings.parquet")
      .withColumn("e", V.asDouble($"embedding")).persist()
    Seq(4, 8, 12, 16).foreach { planes =>
      val keyed = vecs.select($"vec_id", V.hyperplaneBucket($"e", planes, Dim).as("bucket"))
      println(blockStats(keyed, Seq("bucket"), s"sign-LSH buckets (planes=$planes)"))
    }

    // ---- hot-bucket capping (Skew.capBuckets, FANIN finding 5) ----
    Seq(500, 1000).foreach { cap =>
      val keyed = vecs.select($"vec_id", V.hyperplaneBucket($"e", 16, Dim).as("bucket"))
      val capped = graft.functions.Skew.capBuckets(keyed, "bucket", "vec_id", cap)
      println(blockStats(capped, Seq("bucket", "__sub"),
        s"sign-LSH planes=16 + capBuckets($cap)"))
    }

    // ---- the q24 operator's production-default blocking (CosineNearDup:
    // scaledPlanes(n) + capBuckets(500)) — asserted, not just reported:
    // the registered operator's default knobs must bound the candidate
    // set at this corpus scale (VERDICT r3 item 2) ----
    val planesAuto = graft.operators.CosineNearDup.scaledPlanes(nVecs)
    val keyedAuto = graft.operators.CosineNearDup.blockingKeys(
      spark.read.parquet(s"$outDir/embeddings.parquet"),
      "vec_id", "embedding", Dim, planes = planesAuto)
    println(blockStats(keyedAuto, Seq("bucket", "__sub"),
      s"q24 default blocking (scaledPlanes=$planesAuto + cap 500)"))
    val candAuto = keyedAuto.groupBy($"bucket", $"__sub").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) / 2")).as("p")).head().getDouble(0).toLong
    assert(candAuto < 50000000L,
      s"q24 default blocking yields $candAuto candidate pairs at x$mult — over the 50M bound")
    println(f"q24 default blocking candidate pairs at x$mult: $candAuto%,d (< 50M bound: OK)")

    // ---- q52 leader clustering at the production plane count (VERDICT
    // r5 item 2): the leader table is one row per occupied bucket WITH a
    // full 64-dim embedding attached — measured against the corpus to
    // show why an unconditional broadcast(leaders) cannot survive scale
    // (the hint is gone; AQE picks broadcast only when actually small) ----
    {
      val keyed52 = vecs.select($"vec_id",
        V.hyperplaneBucket($"e", planesAuto, Dim).as("bucket"))
      val nLeaders = keyed52.select($"bucket").distinct().count()
      val bytesPerLeader = 8L + 8L + Dim * 8L // bucket + leader_id + embedding
      println(f"q52 leader table at planes=$planesAuto: $nLeaders%,d leaders over $nVecs%,d vectors " +
        f"(${100.0 * nLeaders / nVecs}%.2f%% of corpus, ≈${nLeaders * bytesPerLeader / 1048576.0}%.1f MiB " +
        "with embeddings — grows with n, so the join strategy is AQE's call, never a hard hint)")
    }

    // ---- IVF cell fan-in at several codebook sizes (q40). The codebook
    // is a broadcast TABLE (IvfIndex — codebook as data), so C scales
    // without growing the plan; C=1024 is the size whose inlined-literal
    // form the old shape could not compile (VERDICT r5 item 1). Plan
    // build time is printed to prove the literal blowup is gone. ----
    Seq(8, 64, 256, 1024).foreach { cells =>
      val cents = vecs.filter($"vec_id" < cells)
        .select($"vec_id".cast("long").as("cid"), $"e".as("ce"))
      val t0 = System.nanoTime()
      val keyed = graft.operators.IvfIndex.assign(
        vecs.select($"vec_id", $"e"), cents, embCol = "e", idCol = "vec_id")
      keyed.queryExecution.executedPlan // force analyze + optimize + plan
      val planMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val stats = blockStats(keyed, Seq("cell"), s"IVF cells (C=$cells)")
      val runS = (System.nanoTime() - t1) / 1e9
      println(stats)
      println(f"  IVF C=$cells: plan build $planMs%.0f ms, assign+stats $runS%.1f s")
    }

    // ---- IVF broadcast bound at production dims (VERDICT r5 item 7):
    // the codebook guard's arithmetic across real embedding-model
    // shapes, plus a measured high-dim assign to show the plan and
    // kernel hold when each centroid is 8 KB instead of 512 B. ----
    println("| C | dims | est codebook | vs 512 MiB bound |")
    println("|---|---|---|---|")
    for (c <- Seq(1024L, 8192L, 65536L); d <- Seq(64, 1024, 4096)) {
      val est = graft.operators.IvfIndex.codebookBytes(c, d)
      val verdict = if (est <= graft.operators.IvfIndex.DefaultMaxCodebookBytes)
        "broadcast" else "REFUSED (hierarchical quantizer territory)"
      println(f"| $c%,d | $d | ${est / 1048576.0}%.1f MiB | $verdict |")
    }
    {
      val hiDim = 1024
      val hiVecs = spark.range(20000L * mult / 100).select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(hiDim - 1)),
          d => pmod(xxhash64($"id", d), lit(1000)).cast("double") / 1000.0).as("e"))
      val hiCents = hiVecs.filter($"vec_id" < 1024)
        .select($"vec_id".as("cid"), $"e".as("ce"))
      val t0 = System.nanoTime()
      val assigned = graft.operators.IvfIndex.assign(hiVecs, hiCents,
        embCol = "e", idCol = "vec_id")
      assigned.queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val n = assigned.queryExecution.toRdd.count()
      println(f"high-dim IVF (dim=$hiDim, C=1024, ${n}%,d vectors ≈ " +
        f"${graft.operators.IvfIndex.codebookBytes(1024, hiDim) / 1048576.0}%.0f MiB codebook): " +
        f"plan build $planMs%.0f ms, assign ${(System.nanoTime() - t1) / 1e9}%.1f s")
    }

    // ---- hierarchical (two-level) IVF at the production shape the flat
    // guard REFUSES (VERDICT r6 item 1): effective C = 256 × 256 = 65536
    // cells at dim=1024 — flat codebook ≈ 537 MiB (over the 512 MiB
    // bound), each hierarchical level ≈ 2 MiB. Measures plan build (must
    // stay flat — two broadcast joins, O(1) in C1·C2) and assign
    // throughput with two argmin folds per vector instead of one. ----
    {
      val hiDim = 1024
      val n = 20000L * mult / 100
      val hiVecs = spark.range(n).select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(hiDim - 1)),
          d => pmod(xxhash64($"id", d), lit(1000)).cast("double") / 1000.0).as("e"))
      val coarse = hiVecs.filter($"vec_id" < 256)
        .select($"vec_id".as("cid"), $"e".as("ce"))
      val fine = spark.range(256).select($"id".as("cid"),
        transform(sequence(lit(0), lit(hiDim - 1)),
          d => (pmod(xxhash64($"id" + 13, d), lit(2001)).cast("double") - 1000.0) / 1000.0)
          .as("ce"))
      val flatBytes = graft.operators.IvfIndex.codebookBytes(65536L, hiDim)
      val lvlBytes = graft.operators.IvfIndex.codebookBytes(256L, hiDim)
      val t0 = System.nanoTime()
      val assigned = graft.operators.IvfIndex.assignHierarchical(
        hiVecs, coarse, fine, embCol = "e", idCol = "vec_id")
      assigned.queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val rows = assigned.queryExecution.toRdd.count()
      val assignS = (System.nanoTime() - t1) / 1e9
      println(f"hierarchical IVF (dim=$hiDim, C=256×256=65536 effective, $rows%,d vectors): " +
        f"flat book ${flatBytes / 1048576.0}%.0f MiB REFUSED, levels ${lvlBytes / 1048576.0}%.1f MiB " +
        f"each broadcast; plan build $planMs%.0f ms, assign $assignS%.1f s " +
        f"(${rows / math.max(assignS, 1e-9) / 1000}%.0f k vec/s)")

      // ---- hierarchical multi-probe knob sweep (VERDICT r7 stretch 8):
      // recall@10 × cost over the (nprobeCoarse, nprobeFine) grid, so the
      // production index has a documented knob table like the MinHash b/r
      // sweep. Ground truth = exact L2 top-10 for a bounded query sample
      // (the quantizer's own metric). ----
      {
        val corpus = assigned.select($"vec_id", $"cell", $"e").persist()
        corpus.count()
        val nQ = 50
        val queries = hiVecs.filter($"vec_id" < nQ)
          .select($"vec_id".as("query_id"), $"e".as("qe"))
        val qk = queries.withColumn("__k", pmod(xxhash64($"query_id"), lit(1L)))
        val truth = hiVecs.withColumn("__k", pmod(xxhash64($"vec_id"), lit(1L)))
          .join(broadcast(qk), "__k")
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            graft.operators.IvfIndex.sqDist($"qe", $"e").as("d"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"query_id").orderBy($"d", $"vec_id")))
          .filter($"rn" <= 10)
          .select($"query_id", $"vec_id").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        println("| nprobe_coarse | nprobe_fine | cells/query | candidates | search_s | recall@10 |")
        println("|---|---|---|---|---|---|")
        for (npc <- Seq(1, 2, 4); npf <- Seq(1, 2, 4)) {
          val t2 = System.nanoTime()
          val probed = graft.operators.IvfIndex.probeCellsHierarchical(
            queries, coarse, fine, embCol = "qe", idCol = "query_id",
            nprobeCoarse = npc, nprobeFine = npf)
            .select($"query_id", $"cell", $"qe")
          val cand = corpus.join(probed, Seq("cell"))
            .filter($"vec_id" =!= $"query_id")
          val nCand = cand.count()
          val got = cand
            .select($"query_id", $"vec_id",
              graft.operators.IvfIndex.sqDist($"qe", $"e").as("d"))
            .withColumn("rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy($"query_id").orderBy($"d", $"vec_id")))
            .filter($"rn" <= 10)
            .select($"query_id", $"vec_id").collect()
            .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
          val searchS = (System.nanoTime() - t2) / 1e9
          val recall = truth.keys.toSeq.map { q =>
            got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0
          }.sum / truth.size
          println(f"| $npc | $npf | ${npc * npf} | $nCand%,d | $searchS%.1f | $recall%.2f |")
        }
        corpus.unpersist()
      }
    }

    // ---- distributed codebook TRAINING cost (VERDICT r7 item 4; r9
    // stretch 8 adds the production-C row): k-means|| init + 2 Lloyd
    // iterations at the shipped coarse-book size (k=256) AND at the
    // C=1024 size q69's scaladoc promises, both with the enforced
    // bounded-collect cap live (default 16·oversample·k per round — the
    // draw is expected ~oversample·k, so the cap never trips on a sane
    // dmin distribution and refuses loudly on a pathological one).
    // Every cross-row accumulation is fixed-point (bit-reproducible on
    // any cluster); per-iteration cost is one corpus pass + a
    // (k × dims)-bounded shuffle. ----
    Seq(256, 1024).foreach { k =>
      import graft.operators.KMeansCodebook
      val oversample = 2.0
      // derived from the enforcing formula, not re-hardcoded (r10 review)
      val cap = KMeansCodebook.defaultSampleCap(k, oversample)
      val v = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding")).select($"vec_id", $"e")
      val t0 = System.nanoTime()
      val init = KMeansCodebook.initKMeansParallel(v, "e", "vec_id", k = k,
        rounds = 3, oversample = oversample)
      val initN = init.count()
      val initS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val book = KMeansCodebook.train(v, init, "e", "vec_id", iters = 2)
      val bookN = book.count()
      val trainS = (System.nanoTime() - t1) / 1e9
      println(f"k-means training (dim=$Dim, $nVecs%,d vectors, k=$k, collect cap $cap%,d/round): " +
        f"k-means|| init (3 rounds) $initS%.1f s → $initN centers; " +
        f"2 Lloyd iterations $trainS%.1f s → $bookN cells " +
        f"(${2 * nVecs / math.max(trainS, 1e-9) / 1000}%.0f k vec-assigns/s)")
    }

    // ---- PQ encode at 100× (r8): the compression path — per-subspace
    // books trained on the corpus, every vector encoded to m codes.
    // Compression arithmetic is printed with the throughput: raw float
    // vectors vs one byte per code at k≤256. ----
    {
      import graft.operators.PqIndex
      val m = 8
      val v = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding")).select($"vec_id", $"e")
      val t0 = System.nanoTime()
      val books = PqIndex.trainBooks(v, Dim, m, k = 16, "e", "vec_id", iters = 1)
        .localCheckpoint(true)
      val trainS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nCodes = PqIndex.encode(v, books, Dim, m, "e", "vec_id")
        .queryExecution.toRdd.count()
      val encS = (System.nanoTime() - t1) / 1e9
      val raw = Dim * 4L
      println(f"PQ (dim=$Dim, m=$m subspaces, k=16): book training $trainS%.1f s, " +
        f"encode $nCodes%,d vectors in $encS%.1f s " +
        f"(${nCodes / math.max(encS, 1e-9) / 1000}%.0f k vec/s); " +
        f"$raw B raw → $m B codes (${raw / m}× compression)")
    }

    // ---- SQ8 at 100× (r9): the at-rest rung below PQ (q72/q75) —
    // stats is one dims-bounded partial agg, encode and decode are pure
    // map scans (no join, no shuffle — PlanAuditSpec-pinned), so cost is
    // one corpus pass each regardless of cluster size. ----
    {
      import graft.operators.ScalarQuant
      val v = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding")).select($"vec_id", $"e")
      val t0 = System.nanoTime()
      val (lo, step) = ScalarQuant.ranges(v, "e")
      val statsS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nEnc = v.select($"vec_id", ScalarQuant.encodeExpr($"e", lo, step).as("codes"))
        .queryExecution.toRdd.count()
      val encS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nDec = v.select($"vec_id",
        ScalarQuant.decodeExpr(ScalarQuant.encodeExpr($"e", lo, step), lo, step).as("de"))
        .queryExecution.toRdd.count()
      val decS = (System.nanoTime() - t2) / 1e9
      println(f"SQ8 (dim=$Dim, $nDec%,d vectors): stats $statsS%.1f s, " +
        f"encode $encS%.1f s (${nEnc / math.max(encS, 1e-9) / 1000}%.0f k vec/s), " +
        f"encode+decode scan $decS%.1f s; ${Dim * 4} B raw → $Dim B codes (4× at rest)")
    }

    // ---- repeated-span profile (q83) fan-in (r10): the ExactSubstr
    // signal's join key is the span, and the df side carries exactly ONE
    // row per distinct span — so the probe pins the operator's two scale
    // properties on the near-dup-heavy corpus: the join NEVER expands
    // (output rows == input span rows, asserted), and the hot-cluster
    // span df (the worst groupBy(g) key) stays at cluster size, a
    // groupBy fan-in no wider than the corpus's true duplication. ----
    {
      import graft.functions.{TextFunctions => T}
      val t0 = System.nanoTime()
      val spans = spark.read.parquet(s"$outDir/documents.parquet")
        .select($"doc_id", T.tokens($"text").as("t"))
        .select($"doc_id", explode(T.shingles("t", n = 8)).as("g")).persist()
      val nSpans = spans.count()
      val dfTab = spans.groupBy($"g").agg(count(lit(1)).as("df")).persist()
      val a = dfTab.agg(count(lit(1)).as("nd"), max($"df").as("mx")).collect()(0)
      val joined = spans.join(dfTab, "g").count()
      val secs = (System.nanoTime() - t0) / 1e9
      require(joined == nSpans,
        s"q83 span join must not expand: $joined != $nSpans")
      println(f"q83 repeated-span fan-in at x$mult: $nSpans%,d spans, " +
        f"${a.getLong(0)}%,d distinct, hottest span df ${a.getLong(1)}%,d " +
        f"(= near-dup cluster reach), join output == span rows (no expansion), ${secs}%.1f s")
      spans.unpersist(); dfTab.unpersist()
    }

    // ---- 128-bit hashed span keys vs string keys (r11 / q85): the
    // ExactSubstr profile's shuffle carries the span key through
    // explode → groupBy → join; an 8-token span string averages ~50 B
    // where the hash key is 16 B. Same pipeline, both keyings, measuring
    // TOTAL shuffle bytes written (task-metrics listener) and wall —
    // the scaladoc's byte-width claim as a measured number. q85 proves
    // result identity against the oracle; this row prices it. ----
    {
      val docsDf = spark.read.parquet(s"$outDir/documents.parquet")
      def measure(label: String, stringKeys: Boolean): (Long, Double) = {
        val trace = graft.util.Jobs.Trace(spark)
        val t0 = System.nanoTime()
        graft.operators.ExactSubstr.profileManaged(docsDf, n = 8,
          stringKeys = stringKeys)(_.queryExecution.toRdd.count())
        val secs = (System.nanoTime() - t0) / 1e9
        try (trace.drain().shuffleWriteBytes, secs) finally trace.close()
      }
      val (strBytes, strS) = measure("string", stringKeys = true)
      val (hashBytes, hashS) = measure("hash128", stringKeys = false)
      println(f"q85 span-key width at x$mult: string-keyed profile " +
        f"${strBytes / 1048576.0}%,.0f MiB shuffled in $strS%.1f s, 128-bit-hash-keyed " +
        f"${hashBytes / 1048576.0}%,.0f MiB in $hashS%.1f s " +
        f"(${strBytes.toDouble / math.max(hashBytes, 1L)}%.2f× shuffle-byte win)")
    }

    // ---- BookCache at a C where training is EXPENSIVE (r11 / VERDICT
    // r10 #6): C = 64 × 64 = 4096 effective hierarchical cells — train
    // the coarse book, the residual frame, and the residual fine book
    // ONCE, then serve two more q69/q76/q77-shaped builds of the same
    // books from the session cache. The r10 measurement was gate-sized
    // (~2.3 s); this is the production claim: one training pass is the
    // artifact, every later consumer pays a map lookup. ----
    {
      import graft.operators.{BookCache, IvfIndex, KMeansCodebook}
      val v = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding")).select($"vec_id", $"e")
      BookCache.clear()
      def buildBooks(): Double = {
        val t0 = System.nanoTime()
        val coarse = BookCache(v, s"$outDir#fanin-coarse:init=lowestIds,k=64,iters=1") {
          KMeansCodebook.train(v,
            KMeansCodebook.initLowestIds(v, "e", "vec_id", k = 64),
            "e", "vec_id", iters = 1).localCheckpoint(true)
        }
        val res = IvfIndex.assign(v, coarse, embCol = "e", idCol = "vec_id")
          .join(broadcast(coarse), $"cell" === $"cid")
          .select($"vec_id", zip_with($"e", $"ce", (x, y) => x - y).as("e"))
        val fine = BookCache(v,
          s"$outDir#fanin-fine(coarse=lowestIds,k=64,iters=1):k=64,iters=1") {
          KMeansCodebook.train(res,
            KMeansCodebook.initLowestIds(res, "e", "vec_id", k = 64),
            "e", "vec_id", iters = 1).localCheckpoint(true)
        }
        // a consumer materializes both books (the q69/q76/q77 shape:
        // assign + encode read them via broadcast)
        val n = coarse.count() + fine.count()
        require(n == 128L, s"expected 64 + 64 book rows, got $n")
        (System.nanoTime() - t0) / 1e9
      }
      val miss = buildBooks()   // cold: trains both books
      val hit1 = buildBooks()   // q69-shaped second consumer
      val hit2 = buildBooks()   // q76/q77-shaped third consumer
      println(f"BookCache at C=64x64=4096 effective (dim=$Dim, $nVecs%,d vectors): " +
        f"train-miss $miss%.1f s, cache-hit builds $hit1%.2f s / $hit2%.2f s " +
        f"(${miss / math.max(hit1, 1e-9)}%.0f× once-per-session win)")
      BookCache.clear()
      spark.catalog.clearCache()
    }

    // ---- SemDeDup candidate mass + e2e (r11 / q91): the operator's
    // quadratic is Σ m_c² over cell sizes, so its scale knob is C — the
    // paper's own argument. The IVF-cell table above prices the cells;
    // this row prices the OPERATOR: pair mass under the production
    // C=1024 codebook (asserted under the repo's 50M candidate bound,
    // the q24 discipline) and the measured wall + survivor fraction of
    // the full within-cell cosine pass on the hot-center-skewed corpus. ----
    {
      import graft.operators.SemDeDup
      val v = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .select($"vec_id", $"e", $"nrm")
      val cents = v.filter($"vec_id" < 1024)
        .select($"vec_id".as("cid"), $"e".as("ce"))
      val t0 = System.nanoTime()
      val cellSizes = graft.operators.IvfIndex
        .assign(v, cents, embCol = "e", idCol = "vec_id")
        .groupBy($"cell").agg(count(lit(1)).as("m"))
      val pairMass = cellSizes.agg(sum(expr("m * (m - 1) / 2")).as("p"))
        .head().getDouble(0).toLong
      assert(pairMass < 50000000L,
        s"q91 C=1024 cell blocking yields $pairMass candidate pairs at x$mult — over the 50M bound")
      val assignS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val survivors = SemDeDup.survivorsManaged(v, cents,
        "vec_id", "e", "nrm", threshold = 0.9)(_.queryExecution.toRdd.count())
      val dedupS = (System.nanoTime() - t1) / 1e9
      println(f"q91 SemDeDup at x$mult (C=1024, τ=0.9): $pairMass%,d within-cell pairs " +
        f"(bounded <50M), cell stats $assignS%.1f s, full dedup pass $dedupS%.1f s, " +
        f"$survivors%,d / $nVecs%,d survive (hot-center corpus: near-dup mass is real)")

      // ---- streaming admission twin at the SAME scale (r11 / q96):
      // the production-C path — the codebook rides the task closure
      // (assignCellFunc; the literal-expression form would be an
      // O(C·dim) plan, the q40 anti-shape), cells key the per-cell
      // RocksDB state, and the drained result must match the batch
      // operator EXACTLY (same chain rule, same arithmetic, one
      // sorted AvailableNow batch). ----
      {
        import graft.operators.SemDeDup
        import graft.streaming.Streams
        val batchSurv = SemDeDup.survivorsManaged(v, cents.select($"cid", $"ce"),
          "vec_id", "e", "nrm", threshold = 0.9)(_.queryExecution.toRdd.count())
        val book = cents.select($"cid".cast("long"), $"ce")
          .as[(Long, Seq[Double])].collect()
          .map { case (c, ce) => (c, ce.toArray) }.toSeq
        val f = SemDeDup.assignCellFunc(book)
        val s2 = Streams.session(spark, Streams.Store.RocksDb, Streams.StatePartitions.Default)
        import s2.implicits._
        val base = java.nio.file.Files.createTempDirectory("fanin-q96").toString
        val schema = graft.catalog.DriverParquet.schema(s2, s"$outDir/embeddings.parquet")
        val t2 = System.nanoTime()
        // (the gate's testdata ships embeddings.parquet as a single
        // FILE and glob-filters; FanIn's generated table is a parquet
        // DIRECTORY of part files — stream the directory itself)
        val stream = s2.readStream.schema(schema)
          .parquet(s"$outDir/embeddings.parquet")
          .withColumn("e", V.asDouble($"embedding"))
          .withColumn("nrm", V.norm($"e"))
          .select($"vec_id".cast("long").as("vec_id"), $"e", $"nrm")
          .as[(Long, Seq[Double], Double)]
          .map { case (id, e, nrm) => Streams.VecRow(id, f(e), e, nrm) }
        val q = Streams.semDedupStream(stream, threshold = 0.9)
          .toDF()
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val streamSurv = s2.read.schema("vec_id BIGINT, cell BIGINT")
          .parquet(s"$base/out").count()
        val streamS = (System.nanoTime() - t2) / 1e9
        assert(streamSurv == batchSurv,
          s"q96 streaming admission must match the batch operator: $streamSurv vs $batchSurv")
        println(f"q96 streaming SemDeDup at x$mult (C=1024, τ=0.9, closure codebook): " +
          f"$streamSurv%,d admitted in $streamS%.1f s — EXACT survivor parity with the " +
          f"batch operator ($batchSurv%,d), per-cell state = cell membership")
      }
      spark.catalog.clearCache()
    }

    // ---- DSIR hashed-feature boundedness (r11 / q92): the raw bigram
    // vocabulary grows with the corpus (Heaps) and is Zipf-skewed — the
    // 8192-bucket feature hash makes BOTH count tables bounded and
    // broadcastable at ANY corpus size. This row measures the claim:
    // raw distinct bigrams vs occupied buckets (≤8192, asserted), and
    // the wall of the bounded-broadcast scoring join. ----
    {
      import graft.functions.{TextFunctions => T}
      val t0 = System.nanoTime()
      val occ = spark.read.parquet(s"$outDir/documents.parquet")
        .select($"doc_id", T.tokens($"text").as("t"))
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))")).as("f"))
        .withColumn("fb", pmod(T.hash32($"f"), lit(8192L)))
        .persist()
      val rawDistinct = occ.select($"f").distinct().count()
      val ct = occ.filter(pmod($"doc_id", lit(10L)) === 0L)
        .groupBy($"fb").agg(count(lit(1)).as("ct"))
      val cr = occ.groupBy($"fb").agg(count(lit(1)).as("cr"))
      val lm = cr.join(ct, Seq("fb"), "left").na.fill(0L, Seq("ct")).persist()
      val buckets = lm.count()
      assert(buckets <= 8192L,
        s"q92 LM table must stay within the 8192 hash buckets, got $buckets")
      val statsS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val scored = occ.join(broadcast(lm), "fb")
        .groupBy($"doc_id")
        .agg(sum(expr("(1000000L * (ct + 1L)) div (cr + 1L)")).as("w"))
        .queryExecution.toRdd.count()
      val scoreS = (System.nanoTime() - t1) / 1e9
      println(f"q92 DSIR at x$mult: $rawDistinct%,d raw distinct bigrams hashed into " +
        f"$buckets%,d / 8,192 buckets (LM stats $statsS%.1f s) — the broadcast side is " +
        f"corpus-size-INDEPENDENT; bounded-broadcast scoring of $scored%,d docs $scoreS%.1f s")
      occ.unpersist(); lm.unpersist()
    }

    // ---- Inverted-index df-cap fan-in (r11 / q97): the pair join's
    // candidate mass is Σ df² over surviving terms, so the Zipf head —
    // here the near-dup clusters' shared bigrams, df = cluster size up
    // to 1,000 — is exactly what the cap removes. This row measures
    // uncapped vs capped candidate mass on the skewed corpus and the
    // wall of the full capped pair scoring. ----
    {
      import graft.functions.{TextFunctions => T2}
      import graft.operators.InvertedIndex
      val toks = spark.read.parquet(s"$outDir/documents.parquet")
        .select($"doc_id", T2.tokens($"text").as("t"))
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))")).as("tok"))
      val t0 = System.nanoTime()
      val dfd = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .groupBy($"tok").agg(count(lit(1)).as("df"))
      val a = dfd.agg(
        sum(expr("df * (df - 1) / 2")).as("allp"),
        sum(expr("CASE WHEN df <= 20 THEN df * (df - 1) / 2 ELSE 0 END")).as("capped"),
        max($"df").as("hot")).head()
      val (allPairs, capped, hot) = (a.getDouble(0).toLong, a.getDouble(1).toLong, a.getLong(2))
      assert(capped < 50000000L,
        s"q97 df<=20 candidate mass $capped at x$mult — over the 50M bound")
      val statsS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val scored = InvertedIndex.pairScores(
        InvertedIndex.postings(toks, "doc_id", "tok", dfCap = 20L),
        "doc_id", "tok", scale = 1000000L).queryExecution.toRdd.count()
      val scoreS = (System.nanoTime() - t1) / 1e9
      println(f"q97 inverted-index fan-in at x$mult: hottest bigram df $hot%,d " +
        f"(= near-dup cluster reach), candidate pairs $allPairs%,d uncapped vs " +
        f"$capped%,d at df<=20 (bounded <50M, asserted); df stats $statsS%.1f s, " +
        f"full capped pair scoring $scored%,d scored pairs in $scoreS%.1f s")
    }

    // ---- z-order layout: EXECUTED write action + measured file-skip
    // ratio (r12, VERDICT next #3). A scale-controlled uniform fact
    // table is written twice — z-ordered on (x, y) vs linearly sorted
    // on x — and the per-file parquet FOOTER envelopes are read back to
    // count the files a manifest planner skips for a 1/8-domain
    // predicate on EACH column. The claim being measured: one z layout
    // prunes BOTH dimensions; the linear control prunes only its own.
    {
      import graft.operators.ZOrder
      val n = 6000L * mult
      val (xDom, yDom) = (200000L, 10000L)
      val files = 64
      val pts = spark.range(n).select(
        pmod(xxhash64($"id", lit("zx")), lit(xDom)).as("x"),
        pmod(xxhash64($"id", lit("zy")), lit(yDom)).as("y"))
      val z = pts
        .withColumn("xq", expr(s"(x * 64L) div $xDom"))
        .withColumn("yq", expr(s"(y * 64L) div $yDom"))
        .withColumn("zkey", ZOrder.interleave(Seq($"xq", $"yq"), 6))
        .select($"x", $"y", $"zkey")
      val t0 = System.nanoTime()
      ZOrder.writeLayout(z, "zkey", files, s"$outDir/zlayout")
      val zWriteS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      ZOrder.writeLayout(pts.withColumn("zkey", $"x"), "zkey", files, s"$outDir/linlayout")
      val linWriteS = (System.nanoTime() - t1) / 1e9
      def skip(dir: String, colName: String, dom: Long): String = {
        val env = ZOrder.fileEnvelopes(spark, dir, colName)
        val (lo, hi) = (dom / 2, dom / 2 + dom / 8)
        s"${ZOrder.skippable(env, lo, hi)}/${env.size}"
      }
      println(f"zorder layout at x$mult ($n%,d rows, $files files): write $zWriteS%.1f s " +
        f"(linear $linWriteS%.1f s); 1/8-domain skip z-layout x=${skip(s"$outDir/zlayout", "x", xDom)} " +
        s"y=${skip(s"$outDir/zlayout", "y", yDom)} vs linear-x x=${skip(s"$outDir/linlayout", "x", xDom)} " +
        s"y=${skip(s"$outDir/linlayout", "y", yDom)}")

      // r13 round tail: the read-side CONSUMER priced — prunedRead
      // schedules only envelope-intersecting files (plan-time,
      // file-level) vs the same residual filter over a full scan of
      // the layout. Warm-up + min-of-2 per variant so parquet/codegen
      // init doesn't land on whichever runs first (probe discipline).
      {
        val (lo, hi) = (yDom / 2, yDom / 2 + yDom / 8)
        spark.read.parquet(s"$outDir/zlayout").queryExecution.toRdd.count()
        def minOf2(f: => Long): (Long, Double) = {
          def once = {
            val t = System.nanoTime(); val c = f; (c, (System.nanoTime() - t) / 1e9)
          }
          val a = once; val b = once
          (a._1, math.min(a._2, b._2))
        }
        val pruned = ZOrder.prunedRead(spark, s"$outDir/zlayout", "y", lo, hi)
        val full = spark.read.parquet(s"$outDir/zlayout")
          .where($"y" >= lo && $"y" <= hi)
        val (prCnt, prS) = minOf2(pruned.queryExecution.toRdd.count())
        val (fCnt, fS) = minOf2(full.queryExecution.toRdd.count())
        assert(prCnt == fCnt,
          s"prunedRead must return exactly the full-scan filter's rows: $prCnt vs $fCnt")
        println(f"zorder pruned read at x$mult: y-in-1/8-domain over " +
          f"${pruned.inputFiles.length}/${full.inputFiles.length} scheduled files, " +
          f"$prS%.2f s vs full-scan residual $fS%.2f s ($prCnt%,d rows)")

        // rectangle (r13 round tail): conjunctive ranges on BOTH
        // interleaved keys — per-dimension skips multiply, the query
        // shape the 2-D layout exists for
        val rect = ZOrder.prunedRead(spark, s"$outDir/zlayout",
          Seq(("x", xDom / 4, xDom / 4 + xDom / 8), ("y", lo, hi)))
        val rectFull = spark.read.parquet(s"$outDir/zlayout")
          .where($"x" >= xDom / 4 && $"x" <= xDom / 4 + xDom / 8 &&
            $"y" >= lo && $"y" <= hi)
        val oneDx = ZOrder.prunedRead(spark, s"$outDir/zlayout",
          "x", xDom / 4, xDom / 4 + xDom / 8)
        val (rcCnt, rcS) = minOf2(rect.queryExecution.toRdd.count())
        val (rfCnt, rfS) = minOf2(rectFull.queryExecution.toRdd.count())
        assert(rcCnt == rfCnt,
          s"rectangle prunedRead must match the full-scan conjunction: $rcCnt vs $rfCnt")
        println(f"zorder RECT read at x$mult: 1/8x1/8 rectangle over " +
          f"${rect.inputFiles.length}/${full.inputFiles.length} scheduled files " +
          f"(1-D x alone ${oneDx.inputFiles.length}, y alone ${pruned.inputFiles.length}), " +
          f"$rcS%.2f s vs full-scan residual $rfS%.2f s ($rcCnt%,d rows)")
      }

      // r13 round tail: deleteWhere's no-match probe priced against the
      // rewrite it replaces (the streaming rewind scrub pays this on
      // EVERY micro-batch — unconditioned it was O(table) per batch).
      {
        val wh = new graft.catalog.Warehouse(s"$outDir/delwh")
        wh.append(spark.read.parquet(s"$outDir/zlayout"), "scrub")
        val t0 = System.nanoTime()
        wh.deleteWhere(spark, "scrub", "x = -424242") // matches nothing
        val probeS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        // the pre-r13 cost of the same call: unconditional rewrite
        wh.replace("scrub", wh.read(spark, "scrub").filter("NOT (x = -424242)"))
        val rewriteS = (System.nanoTime() - t1) / 1e9
        println(f"deleteWhere no-match at x$mult ($n%,d rows): probe $probeS%.2f s " +
          f"vs unconditional rewrite $rewriteS%.2f s (the per-batch scrub delta)")
      }

      // r13: the PERCENTILE quantizer under Zipf skew at FANIN scale —
      // x is log-uniform over 20 magnitudes, so the min-max quantizer
      // maps ~2/3 of rows into z-position 0 and the layout stops
      // pruning the dense low region; rank-quantile positions hold it
      val zipfPts = spark.range(n).select(
        expr("cast(shiftleft(1L, cast(pmod(xxhash64(id, 'fzx'), 20) as int)) as long)").as("x"),
        pmod(xxhash64($"id", lit("fzy")), lit(yDom)).as("y"))
      val t2 = System.nanoTime()
      ZOrder.writeLayout(ZOrder.zkeyedQuantile(zipfPts, Seq("x", "y"), bits = 6),
        "zkey", files, s"$outDir/zq")
      val qWriteS = (System.nanoTime() - t2) / 1e9
      ZOrder.writeLayout(ZOrder.zkeyed(zipfPts, Seq("x", "y"), bits = 6),
        "zkey", files, s"$outDir/zlin")
      def skipDense(dir: String): String = {
        val env = ZOrder.fileEnvelopes(spark, dir, "x").filterNot(_.rows == 0)
        s"${ZOrder.skippable(env, 1L, 8L)}/${env.size}"
      }
      val qSkip = skipDense(s"$outDir/zq")
      val lSkip = skipDense(s"$outDir/zlin")
      println(f"zorder quantile vs linear under Zipf x at x$mult: dense-region " +
        f"(x<=8, ~20%% of rows) skip quantile $qSkip vs min-max $lSkip; " +
        f"quantile write (incl. sketch passes) $qWriteS%.1f s")
      val Array(qS, qN) = qSkip.split("/").map(_.toInt)
      assert(qS * 2 >= qN, s"quantile layout must skip >=half on the dense region: $qSkip")
    }

    // ---- connected-components rounds vs diameter (r12 stretch #8):
    // the operator's adversarial case is a CHAIN-shaped bucket graph
    // (min-label propagation moves one bucket-hop per round, so rounds
    // = diameter + 1 detection round) — measure it: parallel chains of
    // depth d over a scale-controlled node count, expecting round count
    // to track d EXACTLY while being INDEPENDENT of width (the LSH
    // collision graphs the shipped gates run on are near-cliques, q43's
    // fixed 2 rounds — the chain is the budget-setting worst case a
    // 100 TB run sizes maxIters against; past ~50 rounds the right move
    // is the Kiveris star-contraction doubling, not a bigger budget).
    {
      import graft.operators.ConnectedComponents
      Seq(4, 16, 64).foreach { depth =>
        val width = math.max(1L, (1000L * mult) / (depth + 1))
        val nNodes = width * (depth + 1)
        // chain c occupies ids [c·(d+1), (c+1)·(d+1)); bucket i links
        // node i and i+1 within a chain
        val memb = spark.range(nNodes).select($"id".as("n0"))
          .filter(pmod($"n0", lit(depth + 1L)) =!= depth)
          .select(explode(array($"n0", $"n0" + 1L)).as("node"), $"n0".as("bucket"))
        var rounds = 0
        val t0 = System.nanoTime()
        val comps = ConnectedComponents.viaBuckets(memb, "node", Seq("bucket"),
          maxIters = depth + 2, onRound = (r, _) => rounds = r)
        val nComp = comps.select(countDistinct($"component")).head().getLong(0)
        val wallS = (System.nanoTime() - t0) / 1e9
        assert(nComp == width, s"expected $width chain components, got $nComp")
        // the star-contraction scale path on the SAME graph: rounds
        // halve the remaining depth instead of walking it
        var starRounds = 0
        val t1 = System.nanoTime()
        val starComp = ConnectedComponents.viaStars(memb, "node", Seq("bucket"),
          maxIters = 12, onRound = (r, _) => starRounds = r)
          .select(countDistinct($"component")).head().getLong(0)
        val starS = (System.nanoTime() - t1) / 1e9
        assert(starComp == width, s"viaStars expected $width components, got $starComp")
        println(f"components chain probe: depth $depth%3d, $nNodes%,d nodes " +
          f"($width%,d chains): propagation $rounds rounds (= diameter+1) $wallS%.1f s " +
          f"(${wallS / rounds}%.2f s/round) vs star contraction $starRounds rounds $starS%.1f s")
        // r13: the dispatch must pick the measured winner on this shape
        var autoPick = ""
        val t2 = System.nanoTime()
        val autoComp = ConnectedComponents.auto(memb, "node", Seq("bucket"),
          onDispatch = autoPick = _)
          .select(countDistinct($"component")).head().getLong(0)
        val autoS = (System.nanoTime() - t2) / 1e9
        assert(autoComp == width)
        val expected = if (depth + 1 <= 4) "propagation" else "stars"
        assert(autoPick == expected,
          s"auto picked $autoPick on a depth-$depth chain, expected $expected")
        println(f"components auto dispatch: depth $depth%3d -> $autoPick $autoS%.1f s")
      }
      // the clique control (the LSH duplicate-cluster shape): auto must
      // stay on propagation — the measured winner (FANIN crossover)
      val cliqueMemb = spark.range(1000L * mult)
        .select($"id".as("node"), pmod($"id", lit(100L)).as("bucket"))
      var cliquePick = ""
      val t3 = System.nanoTime()
      val cliqueComps = graft.operators.ConnectedComponents
        .auto(cliqueMemb, "node", Seq("bucket"), onDispatch = cliquePick = _)
        .select(countDistinct($"component")).head().getLong(0)
      assert(cliquePick == "propagation",
        s"auto must keep near-clique graphs on propagation, picked $cliquePick")
      assert(cliqueComps == 100L)
      println(f"components auto dispatch: 100 cliques of ${10L * mult}%,d -> " +
        f"$cliquePick ${(System.nanoTime() - t3) / 1e9}%.1f s")
    }

    // ---- shard-shuffle occupancy (r13 round tail / q115): the shard
    // window partitions the PACKS frame by a hash of the pack key, so
    // occupancy is uniform BY CONSTRUCTION even when one source holds
    // 80% of the corpus — the Zipf stratum that serializes a
    // per-source window (FANIN.md "r13: the per-source window family
    // de-skewed") cannot recur. Measured: max/mean packs per shard on
    // the 80%-hot corpus, plus the wall of the full placement (window +
    // join back).
    locally {
      val nPacks = 20000L * mult // one row per pack, worst case 1 doc/pack
      val packed = spark.range(nPacks).select(
        $"id".as("doc_id"),
        when(pmod($"id", lit(10L)) < 8, lit("hot"))
          .otherwise(concat(lit("s"), pmod($"id", lit(97L)))).as("source"),
        lit(512L).as("n_tokens"),
        $"id".as("pack_id"))
      val t0 = System.nanoTime()
      val occ = graft.operators.Assembly.shardShuffle(packed, nShards = 64)
        .select("shard", "shard_pos").groupBy("shard")
        .agg(count(lit(1)).as("n")).select($"n").collect().map(_.getLong(0))
      val wallS = (System.nanoTime() - t0) / 1e9
      val mean = occ.sum.toDouble / occ.length
      val maxOverMean = occ.max / mean
      // binomial occupancy: sd/mean ≈ 1/sqrt(mean), the max of 64 draws
      // sits ~3 sd up — assert at 4.5 sd so the bound TIGHTENS with
      // scale (x100: 1.026) instead of a fixed slack that hides drift
      val bound = 1.0 + 4.5 / math.sqrt(mean)
      println(f"shard shuffle at x$mult (${nPacks}%,d packs, 80%% one source, " +
        f"64 shards): max/mean occupancy $maxOverMean%.3f (bound $bound%.3f), " +
        f"wall $wallS%.1f s")
      assert(occ.length == 64 && maxOverMean < bound,
        f"hash placement must stay uniform under source skew, got $maxOverMean%.3f")
    }

    // ---- end-to-end runs on the 100x corpus (FANIN_E2E=0 skips) ----
    if (sys.env.get("FANIN_E2E").contains("0")) { spark.stop(); return }
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.1f s, $rows%,d rows")
    }
    time("q13_exact_dedup") {
      graft.queries.Pipeline.q13.run(spark, outDir).queryExecution.toRdd.count()
    }
    time("q43_neardup_clusters") {
      graft.queries.Pipeline.q43.run(spark, outDir).queryExecution.toRdd.count()
    }
    time("q15_lsh_pairs") {
      graft.queries.Pipeline.q15.run(spark, outDir).queryExecution.toRdd.count()
    }
    time("q17_ann_lsh") {
      graft.queries.Pipeline.q17.run(spark, outDir).queryExecution.toRdd.count()
    }
    // curation additions (r10): q79 must stay eval-broadcast-shaped at
    // 100× (the eval tenth of THIS corpus is ~50k docs — far bigger than
    // a real benchmark suite, so this is the operator's hard case);
    // q80 is the pure-map ceiling — one scan, per-doc O(distinct·len)
    time("q79_decontaminate") {
      graft.queries.Pipeline.q79.run(spark, outDir).queryExecution.toRdd.count()
    }
    time("q80_repetition_filter") {
      graft.queries.Pipeline.q80.run(spark, outDir).queryExecution.toRdd.count()
    }
    time("q40_ann_ivf") {
      graft.queries.Extended.q40.run(spark, outDir).queryExecution.toRdd.count()
    }
    // q24's all-pairs-in-bucket shape at its fixed 4-plane gate config is
    // the one that does NOT survive 100x (16 buckets over 200k vectors ⇒
    // ~1.2B candidate cosines — see the fan-in table); these runs go
    // through the SHIPPED CosineNearDup operator (scaled planes +
    // capBuckets), so the timing measures the production path:
    def neardupPairs(planes: Int): Long = {
      val n = graft.operators.CosineNearDup.pairs(
        spark.read.parquet(s"$outDir/embeddings.parquet"),
        "vec_id", "embedding", Dim, threshold = 0.8, planes = planes).count()
      // the operator persists its blocking frame (see its scaladoc);
      // drop it between timed runs so one pass can't feed the next
      spark.catalog.clearCache()
      n
    }
    time(s"CosineNearDup (scaledPlanes=$planesAuto + cap)") { neardupPairs(planesAuto) }
    time("CosineNearDup (planes=16 + cap)") { neardupPairs(16) }
    // q52's exact shape (leader election + equi-join, no broadcast hint)
    // at the production plane count — one cosine per vector, end to end
    time(s"q52 leader clustering (planes=$planesAuto)") {
      val v2 = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding"))
        .withColumn("nrm", V.norm($"e"))
        .withColumn("bucket", V.hyperplaneBucket($"e", planesAuto, Dim))
        .select($"vec_id", $"e", $"nrm", $"bucket")
      val leaders = v2.groupBy($"bucket").agg(min($"vec_id").as("leader_id"))
        .join(v2.select($"vec_id".as("leader_id"), $"e".as("le"), $"nrm".as("lnrm")),
          Seq("leader_id"))
      v2.join(leaders, Seq("bucket"))
        .select($"vec_id",
          when(V.cosine($"e", $"le", $"nrm", $"lnrm") >= 0.8, $"leader_id")
            .otherwise($"vec_id").as("cluster_id"))
        .queryExecution.toRdd.count()
    }
    // IVF assignment end-to-end at a production codebook size, through
    // the broadcast-table operator (plan is O(1) in C)
    time("IvfIndex.assign (C=1024)") {
      val v3 = spark.read.parquet(s"$outDir/embeddings.parquet")
        .withColumn("e", V.asDouble($"embedding")).select($"vec_id", $"e")
      val cents = v3.filter($"vec_id" < 1024)
        .select($"vec_id".cast("long").as("cid"), $"e".as("ce"))
      graft.operators.IvfIndex.assign(v3, cents, embCol = "e", idCol = "vec_id")
        .queryExecution.toRdd.count()
    }
    spark.stop()
  }
}

package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.{PropSupport, SparkSupport}

/** Native SimHash32/MinHashAffine kernels vs the composed higher-order
  * forms (the semantics the DuckDB oracle mirrors): element-exact on
  * arbitrary inputs including the degenerate cases (empty array, NULL
  * elements, NULL array), plus a codegen smoke test.
  */
class SignatureExpressionsSpec extends AnyFunSuite with SparkSupport with PropSupport {

  import org.scalacheck.Gen

  private val hashGen: Gen[Seq[Option[Long]]] =
    Gen.listOf(Gen.frequency(
      9 -> Gen.choose(0L, (1L << 32) - 1).map(Option(_)),
      1 -> Gen.const(Option.empty[Long])))

  test("minhash: native single-pass equals composed k-pass on arbitrary inputs") {
    import spark.implicits._
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[Long]]]
    forAllSamples(hashGen, 100)(samples += _)
    samples += Seq.empty // explicit empty
    val df = samples.toSeq.toDF("hashes")
    val out = df.select(
      TextFunctions.minhashFromHashes($"hashes", 12).as("native"),
      TextFunctions.composedMinhashFromHashes($"hashes", 12).as("composed")).collect()
    out.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"minhash diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}")
    }
  }

  test("simhash: native single-pass equals composed 32-pass on arbitrary inputs") {
    import spark.implicits._
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[Long]]]
    forAllSamples(hashGen, 100)(samples += _)
    samples += Seq.empty
    val df = samples.toSeq.toDF("hashes")
    val out = df.select(
      TextFunctions.simhashFromHashes($"hashes").as("native"),
      TextFunctions.composedSimhashFromHashes($"hashes").as("composed")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"simhash diverged: ${r.getLong(0)} vs ${r.getLong(1)}"))
  }

  test("NULL array parity: simhash → 0, minhash → array of k NULLs (composed shapes)") {
    import spark.implicits._
    val df = Seq(Option.empty[Seq[Long]]).toDF("hashes")
    val r = df.select(
      TextFunctions.simhashFromHashes($"hashes").as("s"),
      TextFunctions.composedSimhashFromHashes($"hashes").as("sc"),
      TextFunctions.minhashFromHashes($"hashes", 4).as("m"),
      TextFunctions.composedMinhashFromHashes($"hashes", 4).as("mc")).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    assert(r.getSeq[Any](2) == Seq(null, null, null, null))
    assert(r.getSeq[Any](2) == r.getSeq[Any](3))
  }

  private val tokenGen: Gen[Seq[Option[String]]] =
    Gen.listOf(Gen.frequency(
      12 -> Gen.oneOf("a", "bb", "ccc", "dd d", "", "ü", "the", "of").map(Option(_)),
      1 -> Gen.const(Option.empty[String])))

  test("shingles: native single-pass equals composed window+distinct, order included (r15)") {
    import spark.implicits._
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[String]]]
    forAllSamples(tokenGen, 120)(samples += _)
    samples += Seq.empty                       // shorter than n
    samples += Seq(Some("a"), Some("b"))       // exactly n-1
    samples += Seq(Some("a"), Some("a"), Some("a"), Some("a")) // heavy dup
    val df = samples.toSeq.toDF("t")
    for (n <- Seq(3, 4, 8)) {
      val out = df.select(
        TextFunctions.shingles("t", n).as("native"),
        TextFunctions.composedShingles("t", n).as("composed")).collect()
      out.foreach { r =>
        assert(r.getSeq[Any](0) == r.getSeq[Any](1),
          s"shingles n=$n diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}")
      }
    }
    // NULL token array: both paths yield the EMPTY array
    val nl = Seq(Option.empty[Seq[String]]).toDF("t").select(
      TextFunctions.shingles("t", 3).as("native"),
      TextFunctions.composedShingles("t", 3).as("composed")).head()
    assert(nl.getSeq[Any](0) == Seq.empty && nl.getSeq[Any](1) == Seq.empty)
  }

  test("bigramRunTop: native single-pass equals the composed sort+fold, incl. ties and NULLs (r15)") {
    import spark.implicits._
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[String]]]
    forAllSamples(tokenGen, 120)(samples += _)
    samples += Seq.empty
    samples += Seq(Some("solo"))
    samples += Seq(Some("a"), Some("b"), Some("a"), Some("b"), Some("a")) // tie runs
    samples += Seq(Some("x"), None, Some("x"), None, Some("x"))           // null bigrams
    val df = samples.toSeq.toDF("t")
    val out = df.select(
      TextFunctions.bigramRunTop($"t").as("native"),
      TextFunctions.composedBigramRunTop("t").as("composed")).collect()
    out.foreach { r =>
      val a = r.getStruct(0); val b = r.getStruct(1)
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1) &&
        a.getAs[String](2) == b.getAs[String](2),
        s"bigramRunTop diverged: $a vs $b")
    }
    // NULL token array: both read as the fold init (0, 0, '')
    val nl = Seq(Option.empty[Seq[String]]).toDF("t").select(
      TextFunctions.bigramRunTop($"t").as("native"),
      TextFunctions.composedBigramRunTop("t").as("composed")).head()
    assert(nl.getStruct(0).getLong(0) == 0L && nl.getStruct(1).getLong(0) == 0L)
    assert(nl.getStruct(0).getAs[String](2) == "" && nl.getStruct(1).getAs[String](2) == "")
  }

  test("winnow kernels: gram hashes and window minima equal the composed stages (r15)") {
    // the composed gram hash is the md5 pattern Hash32Rewrite fuses: run
    // on the reference clone so it stays composed
    import composed.implicits._
    import org.apache.spark.sql.graftshim.ColumnBridge
    // gram hashes over docs of assorted lengths (>= k enforced upstream,
    // but include exactly-k and k+1 here)
    val toks = Seq(
      Seq("a", "b", "c", "d", "e"),
      Seq("the", "same", "the", "same", "the", "same", "tail"),
      Seq("x", "y", "z", "w", "v", "u", "t", "s"),
      Seq("one", "two", "three", "four", "five")).toDF("t")
    for (k <- Seq(2, 5)) {
      val out = toks.filter(org.apache.spark.sql.functions.size($"t") >= k).select(
        ColumnBridge.column(WordGramHash32(ColumnBridge.expression($"t"), k)).as("native"),
        graft.operators.Winnow.composedGramHashes($"t", k).as("composed")).collect()
      out.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"gram hashes k=$k diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}"))
    }
    // window minima over arbitrary hash arrays, incl. n < w (one clipped
    // window) and heavy duplicates (distinct-order rule)
    val hashes = Seq(
      Seq(5L, 3L, 8L, 3L, 9L, 1L, 1L, 7L),
      Seq(2L),
      Seq(4L, 4L, 4L),
      Seq(9L, 8L, 7L, 6L, 5L, 4L),
      Seq(1L, 2L, 3L, 4L, 5L, 6L)).toDF("gh")
    for (w <- Seq(1, 4, 10)) {
      val out = hashes.select(
        ColumnBridge.column(SlidingMinDistinct(ColumnBridge.expression($"gh"), w)).as("native"),
        graft.operators.Winnow.composedWinnowMins($"gh", w).as("composed")).collect()
      out.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"winnow mins w=$w diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}"))
    }
  }

  test("spanStarts: native single-pass equals the composed positional transform (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnBridge
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[Option[String]]]
    forAllSamples(tokenGen, 120)(samples += _)
    samples += Seq(Some("a"), Some("b"), Some("c"))            // exactly n for n=3
    samples += Seq(Some("a"), None, Some("c"), None, Some("e")) // concat_ws skip rule
    samples += Seq(Some("x"), Some("x"), Some("x"), Some("x")) // repeated occurrences
    val df = samples.toSeq.toDF("t")
    for (n <- Seq(2, 3, 8)) {
      val out = df
        .filter(org.apache.spark.sql.functions.size($"t") >= n) // the operator's guard
        .select(
          ColumnBridge.column(SpanStarts(ColumnBridge.expression($"t"), n)).as("native"),
          graft.operators.ExactSubstr.composedStarts(n).as("composed")).collect()
      out.foreach { r =>
        assert(r.getSeq[Any](0) == r.getSeq[Any](1),
          s"spanStarts n=$n diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}")
      }
    }
    // NULL token array: the raw composed transform propagates NULL; so
    // does the null-safe kernel (the operator's size guard filters both)
    val nl = Seq(Option.empty[Seq[String]]).toDF("t").select(
      ColumnBridge.column(SpanStarts(ColumnBridge.expression($"t"), 3)).as("native")).head()
    assert(nl.isNullAt(0))
  }

  test("exciseByIntervals: native pointer walk equals the composed filter+exists (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnBridge
    val t10 = Seq.tabulate(10)(i => Option(s"w$i"))
    val withNulls = Seq(Some("a"), None, Some("c"), None, Some("e"), Some("f"))
    val cases: Seq[(Seq[Option[String]], Option[Seq[(Long, Long)]])] = Seq(
      (t10, Some(Seq((2L, 4L), (7L, 8L)))),            // disjoint cuts
      (t10, Some(Seq((1L, 3L), (4L, 6L)))),            // adjacent (pre-merge shape)
      (t10, Some(Seq((1L, 8L), (2L, 3L)))),            // overlapping, sorted by start
      (t10, Some(Seq((1L, 10L)))),                     // everything cut
      (t10, Some(Seq.empty)),                          // empty cut list → keep all
      (t10, None),                                     // NULL cuts → pass-through
      (t10, Some(Seq((9L, 15L)))),                     // cut past the end
      (t10, Some(Seq((-5L, 0L)))),                     // cut before the start
      (withNulls, Some(Seq((2L, 3L)))),                // NULL tokens survive uncovered
      (Seq.empty, Some(Seq((1L, 2L)))))                // empty doc
    val df = cases.toDF("t", "rawCuts")
      .selectExpr("t",
        "transform(rawCuts, c -> struct(cast(c._1 as int) as cut_start, " +
          "cast(c._2 as int) as cut_end)) as cuts")
    val out = df.select(
      ColumnBridge.column(ExciseByIntervals(
        ColumnBridge.expression($"t"), ColumnBridge.expression($"cuts"))).as("native"),
      graft.operators.ExactSubstr.composedKept.as("composed")).collect()
    out.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"excise diverged: ${r.getSeq[Any](0)} vs ${r.getSeq[Any](1)}")
    }
    // NULL token array: both NULL
    val nl = Seq((Option.empty[Seq[String]], Option(Seq((1L, 2L))))).toDF("t", "rawCuts")
      .selectExpr("t", "transform(rawCuts, c -> struct(c._1 as cut_start, " +
        "c._2 as cut_end)) as cuts")
      .select(
        ColumnBridge.column(ExciseByIntervals(
          ColumnBridge.expression($"t"), ColumnBridge.expression($"cuts"))).as("native"),
        graft.operators.ExactSubstr.composedKept.as("composed")).head()
    assert(nl.isNullAt(0) && nl.isNullAt(1))
  }

  test("exciseByIntervals: unsorted cuts throw UnsortedCutsException") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftshim.ColumnBridge
    import org.apache.spark.unsafe.types.UTF8String
    def toks(n: Int) = new GenericArrayData(
      Array.tabulate[Any](n)(i => UTF8String.fromString(s"w$i")))
    def cuts(cs: Option[(Long, Long)]*) = new GenericArrayData(cs.map {
      case Some((a, b)) => new GenericInternalRow(Array[Any](a, b))
      case None => null
    }.toArray[Any])
    def excise(n: Int, cs: Option[(Long, Long)]*) =
      SignatureKernels.exciseByIntervals(toks(n), cuts(cs: _*), startIsLong = true, endIsLong = true)
    // out of order where the walk passes it: cut (1,2) would be missed
    intercept[SignatureKernels.UnsortedCutsException](
      excise(10, Some((5L, 6L)), Some((1L, 2L))))
    // out of order behind the first cut the walk stops at (the tokens
    // end inside the first cut): found in the pass after the last token
    intercept[SignatureKernels.UnsortedCutsException](
      excise(3, Some((2L, 20L)), Some((25L, 26L)), Some((21L, 22L))))
    // equal starts and a NULL element between sorted cuts are fine
    assert(excise(6, Some((2L, 3L)), None, Some((2L, 2L)), Some((5L, 5L))).numElements() == 3)
    // through the expression: the task fails with the named error
    val df = Seq((Seq("a", "b", "c"), Seq((3, 3), (1, 1)))).toDF("t", "raw")
      .selectExpr("t", "transform(raw, c -> struct(c._1 as cut_start, c._2 as cut_end)) as cuts")
    val e = intercept[Throwable](df.select(ColumnBridge.column(ExciseByIntervals(
      ColumnBridge.expression($"t"), ColumnBridge.expression($"cuts")))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[SignatureKernels.UnsortedCutsException]), e)
  }

  test("codegen smoke: kernels execute inside a filtered projection over range data") {
    import spark.implicits._
    val df = spark.range(1, 200).select(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0), org.apache.spark.sql.functions.lit(30)),
        i => org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"id", i),
          org.apache.spark.sql.functions.lit(1L << 32))).as("hashes"))
    val out = df.select(
      TextFunctions.simhashFromHashes($"hashes").as("sh"),
      TextFunctions.minhashFromHashes($"hashes", 12).as("mh"))
      .filter($"sh" >= 0)
    assert(out.count() == 199)
    assert(out.selectExpr("size(mh)").distinct().head.getInt(0) == 12)
  }
}

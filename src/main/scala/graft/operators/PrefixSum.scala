package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.RankBuckets

/** Skew-safe per-key running sums — the two-pass bucketed form of
  * `SUM(v) OVER (PARTITION BY key ORDER BY o ROWS UNBOUNDED PRECEDING)`
  * (r13, VERDICT wrong #1): the naive frame shuffles the corpus onto
  * `key` and ONE task sorts and scans each stratum end-to-end, so on a
  * Zipf corpus (one crawl/domain holding most of the mass — the
  * realistic 100 TB shape) the hot stratum is a multi-TB single task.
  * The unbounded-preceding frame decomposes exactly, the
  * [[BucketedWindow]] discipline applied to cumulative sums:
  *
  *   1. bucket each row by rank quantiles of the window's own leading
  *      order expression ([[RankBuckets]] — equal mass per bucket even
  *      under value skew, and bucket ids non-decreasing along the sort
  *      order, so "all rows of earlier buckets precede all rows of
  *      mine" holds by construction);
  *   2. per (key, bucket) partial sums — an ordinary partial-agg
  *      groupBy, corpus-parallel;
  *   3. cumulative offsets across buckets — a window over the TOTALS
  *      frame, |keys|·numBuckets rows (key cardinality × a constant,
  *      never corpus cardinality: each partition is ≤ numBuckets rows);
  *   4. join the offsets back on (key, bucket) and run the unbounded
  *      window WITHIN each bucket: cum = within-bucket prefix + offset.
  *
  * The join and the within-bucket window share the (key, bucket) hash
  * partitioning, so the corpus shuffles ONCE — same as the naive plan —
  * but the hot stratum now spreads over numBuckets tasks (FANIN.md "r13:
  * the per-source window family de-skewed": the 80%-one-source wall
  * collapses). Values are
  * restricted to integral types: long addition is associative, so the
  * bucketed sum is bit-identical to the global window's, which is what
  * lets q61/q82/q86/q99/q103 keep their DuckDB oracles verbatim.
  *
  * `offsetCap` prunes buckets whose offset already exceeds a downstream
  * `cum <= cap` filter: every row in such a bucket has cum >= offset >
  * cap (values are checked non-negative when a cap is set), so the
  * inner offset join drops the never-admittable tail before the window
  * touches it — the budget-take gates stop paying for the corpus past
  * their budget.
  */
object PrefixSum {

  /** Result frame + explicit release of the operator's staged persist
    * (idempotent; call after the terminal action on `frame`). */
  final case class Staged(frame: DataFrame, release: () => Unit)

  /** `df` plus `cumName` = the running sum of `value` over
    * `(PARTITION BY keys ORDER BY order ROWS UNBOUNDED PRECEDING)`.
    *
    * @param orderHead  the window's LEADING order expression, direction
    *                   given by `descending` — the bucketing axis; the
    *                   full `order` (with tie-breakers) sorts within
    *                   buckets. It must be `order`'s first component for
    *                   the cross-bucket decomposition to be exact.
    * @param value      integral expression (exactness of the two-pass
    *                   sum needs associative arithmetic; doubles would
    *                   make the result depend on the bucketing).
    */
  def perKeyWithRelease(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      orderHead: Column,
      descending: Boolean,
      value: Column,
      cumName: String,
      numBuckets: Int = 64,
      offsetCap: Option[Long] = None): Staged = {
    require(keys.nonEmpty, "perKey needs at least one partition key")
    require(numBuckets >= 1, s"numBuckets must be positive, got $numBuckets")
    val reserved = Seq("__pb", "__pv", "__poff", cumName)
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"prefix-sum scratch columns collide with input columns: ${clash.mkString(", ")}")

    // validate the value type BEFORE the persist (schema-only, no job) —
    // a throw after persist() would leak the block into the CacheManager
    import org.apache.spark.sql.types._
    df.withColumn("__pv", value).schema("__pv").dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"perKey needs an integral value expression for an exact two-pass sum, got $other")
    }
    // the axis-type check is also pre-persist (r13 review): boundaries()
    // would throw it anyway, but only after the persist below leaked
    RankBuckets.requireNumericAxis(df, orderHead)
    val p = df.persist() // three consumers: boundary stats, totals, the windowed join
    val bnds = RankBuckets.boundaries(p, orderHead, numBuckets)
    // null order keys fail loudly (r13 review): bucketOf would silently
    // put a null in bucket 0, but Spark's DESC ordering sorts nulls
    // LAST — the row's bucket and its window position would disagree
    // and the offsets would be silently wrong. No gate input is
    // nullable here; a caller's is a contract violation, not data.
    val bucketOrFail = when(orderHead.isNull, raise_error(lit(
      "PrefixSum.perKey: null in the leading order expression — " +
        "filter nulls or coalesce them to a sortable sentinel first")))
      .otherwise(RankBuckets.bucketOf(bnds, orderHead, descending))
    val b = p
      .withColumn("__pb", bucketOrFail)
      .withColumn("__pv", value)
    val keyCols = keys.map(col)
    val totals = b.groupBy(keyCols :+ col("__pb"): _*)
      .agg(sum(col("__pv")).as("__pt"),
        // only checked when a cap prunes: a negative value would break
        // the "cum >= offset" argument the prune rests on
        if (offsetCap.isDefined) min(col("__pv")).as("__pmin") else lit(0L).as("__pmin"))
    val wOff = Window.partitionBy(keyCols: _*).orderBy(col("__pb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets0 = totals
      .withColumn("__poff", coalesce(sum(col("__pt")).over(wOff), lit(0L)))
    val offsets = offsetCap.fold(offsets0) { cap =>
      offsets0.filter(
        when(col("__pmin") < 0, raise_error(lit(
          s"perKey(offsetCap=$cap): negative values void the bucket-prune argument")))
          .otherwise(col("__poff") <= cap))
    }
    val wIn = Window.partitionBy(keyCols :+ col("__pb"): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = b
      .join(offsets.select(keyCols :+ col("__pb") :+ col("__poff"): _*),
        keys :+ "__pb")
      .withColumn(cumName, sum(col("__pv")).over(wIn) + col("__poff"))
      .select(df.columns.map(col) :+ col(cumName): _*)
    Staged(out, () => { p.unpersist(); () })
  }

  /** Raw gate form — persists are released by the registry runner's
    * `clearCache()`; services use the Staged surface. */
  private[graft] def perKey(
      df: DataFrame, keys: Seq[String], order: Seq[Column], orderHead: Column,
      descending: Boolean, value: Column, cumName: String,
      numBuckets: Int = 64, offsetCap: Option[Long] = None): DataFrame =
    perKeyWithRelease(df, keys, order, orderHead, descending, value, cumName,
      numBuckets, offsetCap).frame
}

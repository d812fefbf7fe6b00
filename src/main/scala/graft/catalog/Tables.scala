package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog over the driver-provided parquet testdata (TESTDATA.md) and — in
  * production — over any directory-of-parquet "database".
  *
  * Mirrors the reference's data-plane: the C# service treats payload schemas
  * as runtime-inferred from the source (`DBHelper.cs:288-354`,
  * `GetDataTableFromQuery`); here the source of truth is the parquet footer
  * and Catalyst infers everything else. At 100 TB these would be
  * directory-partitioned tables; the loader keeps that swap invisible to
  * the operators (they only see a DataFrame).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in two physical generations: parquet
    * TIMESTAMP(NANOS), which Spark does not model natively (read as raw
    * long via the nanosAsLong conf in Sessions, rebuilt to microseconds
    * here), and — since the r10 testdata regeneration — plain
    * timestamp[us] without the UTC flag, which Spark reads as
    * TIMESTAMP_NTZ. Both normalize to the session-zone TimestampType the
    * operators (and the typed streaming Datasets — `Streams.Event` binds
    * `java.sql.Timestamp`) are written against; the session is UTC, so
    * the NTZ cast is value-identity. Dispatch is on the OBSERVED type,
    * not the generation, so either vintage of the files works. Used by
    * every events reader, batch and streaming — a reader that applies the
    * nanos rebuild unconditionally breaks at analysis on the new files
    * (this bit the three streaming gates when the r10 data landed).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** All tables load as the parquet footer declares, except the events
    * timestamp normalization above. The schema is read on the driver
    * ([[DriverParquet.schema]]) and declared to the reader, so resolving
    * a table runs no schema-inference job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val df = spark.read.schema(DriverParquet.schema(spark, p)).parquet(p)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The events table as a STREAM, ts-normalized: the footer schema
    * (readStream needs one declared), the single-file glob, and
    * [[normalizeEventsTs]] in one place — the routing the streaming
    * gates must not each re-implement (the r10 testdata regeneration
    * broke exactly the three hand-rolled copies of this block, and a
    * future gate copying a pre-r10 version from history would regress
    * it again).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(
      spark.readStream.schema(DriverParquet.schema(spark, s"$dir/events.parquet"))
        .option("pathGlobFilter", "events.parquet").parquet(dir))

  /** Register every table as a temp view so `spark.sql` text (SQL_TARGET /
    * SQL_SOURCE steps, report views) resolves the same names the DuckDB
    * oracle sees. Runs no Spark job: ten footer reads on the driver.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

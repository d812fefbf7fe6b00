package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config all entry points share, tuned for the
  * harness (local[32], 128 GiB) but written for a real cluster: AQE on,
  * shuffle partitions sized to cores (not the 200 default), UTC so results
  * hash-match a DuckDB oracle, and the engine's Catalyst extensions.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no type
      // for; read the raw long and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the engine's native functions and rewrite rules, on this session
      // and on every clone of it
      .withExtensions(new graft.functions.GraftExtensions)

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Writable table store for step targets — directory-of-parquet tables,
  * the engine-side stand-in for the reference's target DBMS
  * (`SqlBulkCopy` sinks, `CommandExecuter.cs:802-982`). On a cluster
  * this is a warehouse path (or Delta/Iceberg catalog); steps only see
  * read/append/replace, so the swap is invisible to them.
  */
final class Warehouse(val dir: String, val format: String = "parquet") {

  private def path(table: String): String = s"$dir/$table"

  /** Per-table monitor serializing [[recoverIfTorn]] against itself and
    * against [[rewriteInPlace]]'s swap (ADVICE r10): without it, two
    * concurrent reads could both see the target missing and race
    * `renameTo` (the loser threw spuriously), or recovery could slide a
    * dir under an in-flight swap's rename.
    */
  private val tableMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitor(table: String): Object =
    tableMonitors.computeIfAbsent(table, _ => new Object)

  /** One stats-manifest row: (part file, column, rows, vmin, vmax). */
  private type StatRow = (String, String, Long, Long, Long)
  private val StatSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, colname STRING, rows BIGINT, vmin BIGINT, vmax BIGINT")

  /** Driver-side memo of stats-manifest contents, keyed by manifest
    * table and VALIDATED against the manifest dir's part-file listing
    * (name, length, mtime) on every lookup (r16, VERDICT r15 next #3):
    * a stats table is replaced atomically with freshly-named part
    * files, so any refresh — by this instance or an external process —
    * changes the fingerprint and forces a re-read; a stale fingerprint
    * can never serve stale rows. The payload is bounded METADATA (one
    * row per part file × layout column — the same driver-sized argument
    * as the manifest itself), NOT query results: per-micro-batch
    * consumers ([[statsPrunedScanKeys]] in the admission streams,
    * [[statsPrunedScan]] in the rewind scrub) re-learn an unchanged
    * manifest with one listing instead of a footer and row read.
    * [[refreshStats]]/[[refreshStatsIncremental]] seed it at write time
    * (their rows are already driver-side), so refresh-per-batch
    * maintenance never re-reads either. Staleness spec:
    * WarehouseStatsSpec pins that an out-of-band manifest swap is
    * re-read.
    */
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], Seq[StatRow])]()

  private def manifestFingerprint(spark: SparkSession,
      statsTbl: String): Seq[(String, Long, Long)] =
    DriverParquet.files(spark, path(statsTbl))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))

  /** Read `table`'s stats manifest rows through the fingerprint memo —
    * read on the driver ([[DriverParquet.rows]], no job) on first sight
    * or after any refresh, free while the manifest's files are
    * unchanged. Caller has already checked [[exists]] on the manifest
    * table.
    */
  private def loadManifest(spark: SparkSession, table: String): Seq[StatRow] = {
    val statsTbl = statsTable(table)
    val fp = manifestFingerprint(spark, statsTbl)
    val hit = manifestMemo.get(statsTbl)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val rows = DriverParquet.rows(spark, path(statsTbl), Some(StatSchema))
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // re-fingerprint AFTER the read: a swap racing the read must not
      // be memoized under the post-swap fingerprint with pre-swap rows
      val fp2 = manifestFingerprint(spark, statsTbl)
      if (fp2 == fp) manifestMemo.put(statsTbl, (fp, rows))
      rows
    }
  }

  /** Seed the memo with rows this instance just wrote (refresh paths —
    * the rows are already driver-side, so the next reader pays nothing).
    */
  private def seedManifestMemo(spark: SparkSession, statsTbl: String,
      rows: Seq[StatRow]): Unit = {
    manifestMemo.put(statsTbl, (manifestFingerprint(spark, statsTbl), rows))
    ()
  }

  /** Complete a swap torn by a crash between AtomicSwap's two renames
    * (r10 review): in that window the table exists only as
    * `table__rewrite` (the COMPLETE new copy — it is fully written
    * before any rename) and/or `table__old` (the previous copy), both
    * of which `read`/`exists` ignore — so the next upsert/append would
    * silently rebuild the table from its incoming batch alone and
    * strand all prior rows. Preference order matches
    * `RunLedger.restorePlans`: the side dir (newest complete) over
    * `__old`. No-op when the target exists.
    */
  private def recoverIfTorn(table: String): Unit = monitor(table).synchronized {
    val target = new java.io.File(path(table))
    if (!target.exists()) {
      val rewrite = new java.io.File(path(table) + "__rewrite")
      val old = new java.io.File(path(table) + "__old")
      // _SUCCESS gates the side dir: only a write the committer finished
      // may win over __old (a crash mid-write leaves no marker)
      val source =
        if (rewrite.isDirectory && new java.io.File(rewrite, "_SUCCESS").exists())
          Some(rewrite)
        else if (old.isDirectory) Some(old)
        else None
      source.foreach { s =>
        // an external process (or a pre-lock racer) may complete the same
        // recovery between our exists() and renameTo — losing that race
        // is success, not failure, as long as the target is now in place
        if (!s.renameTo(target) && !target.exists())
          throw new IllegalStateException(
            s"torn-swap recovery failed: could not rename $s -> $target")
      }
    }
  }

  def exists(spark: SparkSession, table: String): Boolean = {
    recoverIfTorn(table)
    new java.io.File(s"${path(table)}/_SUCCESS").exists() ||
      new java.io.File(path(table)).exists()
  }

  /** A parquet table reads with the schema its footer declares
    * ([[DriverParquet.schema]], as [[Tables.load]] reads), so resolving
    * it runs no schema-inference job; a table with no data files throws
    * `FileNotFoundException`. Other formats read as Spark infers them.
    */
  def read(spark: SparkSession, table: String): DataFrame = {
    recoverIfTorn(table)
    val p = path(table)
    if (format == "parquet") spark.read.schema(DriverParquet.schema(spark, p)).parquet(p)
    else spark.read.format(format).load(p)
  }

  /** Bulk append — the reference's `WriteToServer` fast path. */
  def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).format(format).save(path(table))

  /** Full replacement, crash-safe: the same swap
    * [[deleteWhere]]/[[compact]]/[[upsert]] rewrite through. The new
    * contents land in a side dir first, so a crash at any point leaves
    * the old or the new copy recoverable, a failed write leaves the
    * table as it was (absent stays absent), and `contents` may read
    * FROM the table it replaces (the side-dir write never overwrites
    * its own input).
    */
  def replace(table: String, contents: DataFrame): Unit =
    rewriteInPlace(table, contents)

  /** A delete's file accounting: part files dropped whole, carried into
    * the new copy byte-for-byte, and rewritten by Spark without the
    * matching rows. Rows were deleted iff a file was dropped or
    * rewritten; a delete that matches nothing keeps every file.
    */
  final case class Deletion(dropped: Int, kept: Int, rewritten: Int) {
    def deleted: Boolean = dropped + rewritten > 0
    override def toString: String = s"$dropped files dropped, $kept kept, $rewritten rewritten"
  }

  /** Delete-by-predicate (the idempotent-ingest rollback,
    * `CommandExecuter.cs:1130-1157` `DELETE … WHERE Dateiname='f'`):
    * parquet has no row deletes, so the table is replaced by a copy
    * without the rows, FILE BY FILE. Each part file is decided from its
    * parquet footer statistics alone ([[DriverParquet.verdict]] —
    * Spark's own row-group skipping over the predicate a
    * scan would push down, read on the driver):
    *   - TRUE for every row: the file is dropped whole;
    *   - TRUE for no row: the file is carried into the new copy
    *     byte-for-byte under its own name;
    *   - undecided: only these files are probed, and rewritten without
    *     the matching rows, by Spark.
    * A delete whose files are all decided — retention on a per-file
    * run id (`lauf_id < …`), the ingest rollback's `dateiname = 'f'` —
    * runs NO Spark job. When the predicate does not translate to a
    * data-source filter (e.g. `coalesce(x, 0) = 5`), or
    * `spark.sql.parquet.filterPushdown` is off, or the format is not
    * parquet, every file is undecided: one probe job over the table and
    * one rewrite job, the plain rewrite-without-the-rows that Delta's
    * DELETE compiles to.
    *
    * A delete that matches NOTHING leaves every file in place (r13):
    * callers on repeat-until-clean paths — the streaming rewind scrub,
    * re-ingest rollback of a file that never landed — would otherwise
    * pay a full O(table) rewrite to delete zero rows.
    *
    * Crash-safe swap ([[graft.util.AtomicSwap]]): the new copy is
    * complete in the side dir, `_SUCCESS` written last, before the old
    * data is renamed aside, so a crash at any point leaves either the
    * old or the new copy recoverable. Carried files are hard links where
    * the file system allows, copies otherwise.
    *
    * `remanifest = true` brings the stats manifest up to date after a
    * deleting swap (the RETENTION caller, `delete_where` MAINTENANCE
    * steps): carried files keep their names and bytes, so their
    * manifest rows stay verbatim, envelopes are collected only for the
    * rewritten files, and the rows of dropped files go
    * ([[refreshStatsIncremental]]). Per-micro-batch callers (the
    * streaming rewind scrub) leave it off; either way staleness costs
    * pruning quality, never rows (the [[statsPrunedRead]] freshness
    * rule). Returns true iff rows were deleted; [[deleteWhereFiles]]
    * returns the file accounting.
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
      remanifest: Boolean = false): Boolean =
    deleteWhereFiles(spark, table, predicate, remanifest).deleted

  /** [[deleteWhere]] with its file accounting. `failAfterCopy`
    * (test-only) throws after that many files were carried into the
    * side dir.
    */
  def deleteWhereFiles(spark: SparkSession, table: String, predicate: String,
      remanifest: Boolean = false, failAfterCopy: Int = Int.MaxValue): Deletion =
    deleteMatching(spark, table, _ => org.apache.spark.sql.functions.expr(predicate),
      remanifest, failAfterCopy)

  /** [[deleteWhere]] for a RANGE predicate, with the no-match case
    * planned through the stats manifest when one exists (r14): a range
    * that misses every manifested envelope is pure metadata (one small
    * manifest read, no footer and no job). Otherwise — and on an
    * unmanifested table, e.g. the streaming rewind scrub
    * ([[graft.streaming.Streams]] bloom phase 0) — the delete takes
    * [[deleteWhere]]'s file-by-file path with the typed range predicate.
    * Bounds go through typedBound so temporal retention windows (DATE /
    * TIMESTAMP columns, r14) compare in the column's type; rows whose
    * column is null never match a range and are kept.
    */
  def deleteWhereRange(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, remanifest: Boolean = false): Boolean =
    deleteWhereRangeFiles(spark, table, column, lo, hi, remanifest).deleted

  /** [[deleteWhereRange]] with its file accounting. */
  def deleteWhereRangeFiles(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long, remanifest: Boolean = false): Deletion = {
    import org.apache.spark.sql.functions.col
    if (exists(spark, table) && exists(spark, statsTable(table)) &&
        statsPrunedScan(spark, table, Seq((column, lo, hi))).scheduled == 0)
      Deletion(0, partFiles(spark, table), 0)
    else deleteMatching(spark, table, data =>
      col(column) >= typedBound(data.schema, column, lo) &&
        col(column) <= typedBound(data.schema, column, hi), remanifest)
  }

  /** The one delete path behind [[deleteWhere]] and [[deleteWhereRange]]. */
  private def deleteMatching(spark: SparkSession, table: String,
      predicateOf: DataFrame => org.apache.spark.sql.Column, remanifest: Boolean,
      failAfterCopy: Int = Int.MaxValue): Deletion = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    if (!exists(spark, table)) return Deletion(0, 0, 0)
    val data = read(spark, table)
    val predicate = predicateOf(data)
    val files = DriverParquet.files(spark, path(table))
    val filter = footerFilter(spark, table, data.filter(predicate))
    val (dropped, noMatch, undecided) = {
      val byVerdict = files.groupBy(f => filter.flatMap(DriverParquet.verdict(spark, f, _)))
        .withDefaultValue(Nil)
      (byVerdict(Some(true)), byVerdict(Some(false)), byVerdict(None))
    }
    // without a filter every file is undecided, and the table is read
    // as a whole, as any reader sees it
    lazy val undecidedRows =
      if (filter.isEmpty) data
      else spark.read.schema(data.schema).format(format)
        .load(undecided.map(_.getPath.toString): _*)
    val rewrite = (filter.isEmpty || undecided.nonEmpty) &&
      !undecidedRows.filter(predicate).isEmpty
    val (kept, rewritten) = if (rewrite) (noMatch, undecided) else (noMatch ++ undecided, Nil)
    if (dropped.isEmpty && rewritten.isEmpty) return Deletion(0, kept.size, 0)
    monitor(table).synchronized {
      graft.util.AtomicSwap.swapInto(path(table), "__rewrite") { tmp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        kept.zipWithIndex.foreach { case (f, i) =>
          carry(f, tmp)
          if (i + 1 == failAfterCopy) throw new IllegalStateException(
            s"induced failure after carrying ${i + 1} of ${kept.size} files")
        }
        if (rewritten.nonEmpty)
          // keep every row where the predicate is NOT TRUE — a bare
          // `NOT (pred)` evaluates NULL (and so filters OUT) for rows
          // where the predicate is NULL, silently deleting e.g.
          // null-keyed rows a `batch = 5` delete never matched (r14
          // review; SQL DELETE and Delta's DELETE both keep non-TRUE
          // rows). The committer writes _SUCCESS last.
          undecidedRows.filter(not(coalesce(predicate, lit(false))))
            .write.mode(SaveMode.Append).format(format).save(tmp)
        else {
          // a table keeps its schema when every file is dropped
          if (kept.isEmpty) DriverParquet.writeEmpty(spark, dropped.head,
            s"$tmp/part-00000-${java.util.UUID.randomUUID()}-empty.$format")
          java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS"))
        }
        ()
      }
    }
    if (remanifest) updateManifest(spark, table)
    Deletion(dropped.size, kept.size, rewritten.size)
  }

  /** The data-source filter a scan of `filtered` (a filter directly over
    * this table's read) pushes to parquet: its optimized condition
    * translated whole. None — every file undecided — when the table is
    * not a flat directory of parquet files, pushdown is off, or the
    * condition does not translate.
    */
  private def footerFilter(spark: SparkSession, table: String,
      filtered: DataFrame): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val flat = Option(new java.io.File(path(table)).listFiles()).toSeq.flatten
      .forall(f => f.isFile || f.getName.startsWith("_") || f.getName.startsWith("."))
    if (format != "parquet" || !flat || !spark.sessionState.conf.parquetFilterPushDown) None
    else filtered.queryExecution.optimizedPlan match {
      case Filter(condition, _: LogicalRelation) =>
        org.apache.spark.sql.graftshim.FilterBridge.translate(condition)
      case _ => None
    }
  }

  /** Carry a part file (and its checksum sibling) into `dir` under its
    * own name, byte-for-byte: a hard link where the file system allows
    * one, a copy otherwise.
    */
  private def carry(file: org.apache.hadoop.fs.FileStatus, dir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(file.getPath.toUri)
    val crc = src.resolveSibling(s".${src.getFileName}.crc")
    (src +: Seq(crc).filter(Files.exists(_))).foreach { s =>
      val dst = Paths.get(dir, s.getFileName.toString)
      try Files.createLink(dst, s)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(s, dst, StandardCopyOption.COPY_ATTRIBUTES) }
    }
  }

  /** The manifest speaks epoch LONGS — parquet footer stats for INT64
    * timestamp[us] and INT32 date columns flow through
    * [[graft.operators.ZOrder.fileEnvelopesOf]] as epoch micros / days
    * verbatim — but a RESIDUAL predicate must compare in the column's
    * own type: a bare `col >= <long>` against a temporal column either
    * fails analysis or casts the COLUMN (killing parquet pushdown).
    * Maps an epoch bound into a literal of the column's type, so the
    * residual analyzes, folds to a constant, and pushes down. (A
    * TimestampType column written as INT96 — pre-standard parquet —
    * carries no usable footer stats: it simply never enters a manifest,
    * and the freshness rule keeps such files always-scanned.)
    */
  private def typedBound(schema: org.apache.spark.sql.types.StructType,
      column: String, v: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    fieldType(schema, column) match {
      case ByteType | ShortType | IntegerType | LongType => lit(v)
      case DateType => lit(java.time.LocalDate.ofEpochDay(v))
      case TimestampType => lit(java.time.Instant.EPOCH.plus(
        v, java.time.temporal.ChronoUnit.MICROS))
      case TimestampNTZType => lit(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(v, 1000000L),
        (Math.floorMod(v, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      case other => throw new IllegalArgumentException(
        s"range column `$column` has unsupported type ${other.simpleString} " +
          "(integral, DATE or TIMESTAMP)")
    }
  }

  private def fieldType(schema: org.apache.spark.sql.types.StructType,
      column: String): org.apache.spark.sql.types.DataType =
    schema.find(_.name == column).getOrElse(throw new IllegalArgumentException(
      s"range column `$column` is not in the table's schema " +
        s"(${schema.fieldNames.mkString(", ")})")).dataType

  /** Parse a step-surface range bound into the manifest's epoch-Long
    * space for `column`'s type (r14 — the grammar behind `pruned_read
    * ranges=` and `delete_where range=`): integral literals verbatim;
    * DATE as `yyyy-MM-dd` → epoch days; TIMESTAMP (tz or ntz) as
    * `yyyy-MM-dd[THH:mm:ss[.SSS…]]` → epoch micros, a bare date reading
    * as midnight; `*` = unbounded on that side, clamped to the widest
    * value the column's type carries through [[typedBound]] without
    * overflow. Loud on any other shape — a typo'd bound must not
    * silently become a different window.
    */
  def boundEpoch(schema: org.apache.spark.sql.types.StructType,
      column: String, token: String, isLower: Boolean): Long = {
    import org.apache.spark.sql.types._
    val t = fieldType(schema, column)
    if (token == "*") t match {
      case DateType =>
        if (isLower) java.time.LocalDate.MIN.toEpochDay
        else java.time.LocalDate.MAX.toEpochDay
      case _ => if (isLower) Long.MinValue else Long.MaxValue
    } else t match {
      case ByteType | ShortType | IntegerType | LongType => token.toLong
      case DateType => java.time.LocalDate.parse(token).toEpochDay
      case TimestampType | TimestampNTZType =>
        val ldt =
          if (token.contains("T")) java.time.LocalDateTime.parse(token)
          else java.time.LocalDate.parse(token).atStartOfDay()
        Math.addExact(Math.multiplyExact(
          ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          ldt.getNano / 1000L)
      case other => throw new IllegalArgumentException(
        s"range column `$column` has unsupported type ${other.simpleString} " +
          "(integral, DATE or TIMESTAMP)")
    }
  }

  /** Compact a table's accumulated small files — the maintenance pass
    * every append-heavy table needs (each `append` and every streaming
    * micro-batch adds part files; at 100 TB thousands of tiny files
    * turn scan planning and NameNode/listing into the bottleneck).
    * Rewrites the table into ⌈rows / targetRowsPerFile⌉ files via the
    * same crash-safe swap as [[deleteWhere]]; contents are unchanged.
    * Returns (files before, files after). This is the operation Delta's
    * OPTIMIZE compiles to, expressed on the plain-parquet warehouse.
    */
  def compact(spark: SparkSession, table: String, targetRowsPerFile: Long = 1000000L): (Int, Int) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val before = partFiles(spark, table)
    if (exists(spark, table)) {
      val df = read(spark, table)
      val rows = df.count()
      val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
      rewriteInPlace(table, df.repartition(nFiles))
      updateManifest(spark, table)
    }
    (before, partFiles(spark, table))
  }

  /** Compact + RE-LAYOUT a table in z-key order (r12) — the operation
    * Delta's `OPTIMIZE … ZORDER BY` compiles to, on the plain-parquet
    * warehouse: rewrite into ⌈rows / targetRowsPerFile⌉ files
    * range-partitioned and sorted on the Morton key of `zcols`
    * ([[graft.operators.ZOrder.zkeyed]]), so every file's footer
    * min/max is a tight envelope on EVERY keyed column and a manifest
    * planner skips files for predicates on any of them (measured skip
    * ratios in FANIN.md). Contents and schema unchanged (the key is
    * dropped after the sort); same crash-safe swap as [[compact]].
    * Returns (files before, files after).
    *
    * The stats job and the rewrite are TWO scans outside the table
    * monitor (holding it across a full rewrite would block every
    * reader), so a row appended between them can lie outside the
    * collected bounds — `zkeyedWithBounds` CLAMPS such rows to the
    * domain edge (r13, ADVICE r12: unclamped they quantized through
    * Long overflow into silently wrong keys), which keeps envelopes
    * truthful and costs pruning quality only for the straggler rows
    * until the next OPTIMIZE. Run as a MAINTENANCE step
    * ([[graft.steps.Steps.maintenanceStep]] — executed code, q109) the
    * table mutex is claimed on the maintained table itself before the
    * stats job starts, so inside the orchestrator the window is
    * exclusive against every step-issued writer.
    *
    * `quantile = true` (r13) swaps the linear min-max quantizer for
    * rank-quantile positions ([[graft.operators.ZOrder.zkeyedQuantile]]
    * — ONE `approxQuantile` sketch pass covering every layout key, r14,
    * instead of the min/max aggregate): the layout keeps pruning on
    * Zipf-skewed
    * columns where min-max collapses nearly all rows into one position
    * (measured in ZOrderSpec), and DATE/TIMESTAMP keys are accepted
    * directly. Same rewrite, same swap; prefer it whenever the key's
    * distribution is unknown.
    */
  def optimizeZOrder(spark: SparkSession, table: String, zcols: Seq[String],
      bits: Int = 6, targetRowsPerFile: Long = 1000000L,
      quantile: Boolean = false): (Int, Int) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val before = partFiles(spark, table)
    if (exists(spark, table)) {
      val df = read(spark, table)
      // ONE stats job for row count AND every column's bounds (r12
      // review: count + zkeyed's internal min/max were two separate
      // full-table aggregations — a whole extra scan per OPTIMIZE);
      // the quantile path only needs the count (its boundaries come
      // from per-column sketch passes inside zkeyedQuantile)
      val statsRow =
        if (quantile) df.agg(count(lit(1)).as("__rows")).head()
        else df.agg(count(lit(1)).as("__rows"),
          zcols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long")))): _*)
          .head()
      val rows = statsRow.getLong(0)
      if (rows > 0) {
        if (!quantile) zcols.zipWithIndex.foreach { case (c, i) =>
          require(!statsRow.isNullAt(1 + 2 * i),
            s"optimizeZOrder: `$c` holds no non-null values — not a layout key") }
        val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
        val keyed =
          if (quantile)
            graft.operators.ZOrder.zkeyedQuantile(df, zcols, bits, "__zorder_key")
          else {
            val bounds = zcols.indices.map(i =>
              (statsRow.getLong(1 + 2 * i), statsRow.getLong(2 + 2 * i)))
            graft.operators.ZOrder
              .zkeyedWithBounds(df, zcols, bounds, bits, "__zorder_key")
          }
        rewriteInPlace(table, keyed
          .repartitionByRange(nFiles, col("__zorder_key"))
          .sortWithinPartitions("__zorder_key")
          .drop("__zorder_key"))
        updateManifest(spark, table)
      }
    }
    (before, partFiles(spark, table))
  }

  /** A rewrite invalidates the manifest rows of the files it replaces
    * (fresh file names), so a maintained table with a manifest would
    * silently degrade to full-scan planning until the operator
    * remembered to chain `refresh_stats` — the staleness class
    * Delta/Iceberg avoid by committing stats with the rewrite.
    * [[compact]], [[optimizeZOrder]] and a deleting [[deleteWhere]]
    * with `remanifest` therefore bring an existing manifest up to date
    * incrementally ([[refreshStatsIncremental]]: the rows of surviving
    * files stay verbatim, only new files are collected — all of them
    * after a full rewrite); a table nobody manifested stays
    * manifest-free (opt-in surface, no surprise footer scans).
    */
  private def updateManifest(spark: SparkSession, table: String): Unit =
    if (format == "parquet" && exists(spark, statsTable(table)) &&
        loadManifest(spark, table).exists(_._2 != NoEnvelopes)) {
      refreshStatsIncremental(spark, table); ()
    }

  /** The stats-manifest sibling table of `table` (r13): one row per
    * (part file, layout column) carrying the file's footer envelope.
    * An ordinary warehouse table — crash-safe [[replace]], readable by
    * any session — so the scan planner stops re-opening footers.
    */
  def statsTable(table: String): String = table + "__stats"

  /** Refresh `table`'s stats manifest over `cols` (r13): read every
    * part file's footer envelope ONCE ([[graft.operators.ZOrder
    * .fileEnvelopes]] — footer-sized I/O, no data pages) and persist
    * them as the [[statsTable]] sibling, replacing any previous
    * manifest whole (the crash-safe swap: a reader sees the old or the
    * new manifest, never a torn one). This is the metadata layer a
    * Delta/Iceberg commit writes transactionally per file add; on the
    * plain-parquet warehouse it is a MAINTENANCE action
    * (`refresh_stats`, [[graft.steps.Steps.maintenanceStep]]) run after
    * compact/OPTIMIZE under the same table mutex, so the listed files
    * cannot be swapped away mid-listing inside the orchestrator.
    * Returns the number of envelope rows written.
    *
    * Driver-side by design: one row per (file, column) is bounded
    * METADATA (100k files × a few layout columns), the exact thing a
    * manifest exists to keep driver-sized at 100 TB.
    */
  def refreshStats(spark: SparkSession, table: String, cols: Seq[String]): Int = {
    require(format == "parquet",
      s"stats manifest reads parquet footers; table format is $format")
    require(cols.nonEmpty, "refreshStats needs at least one column")
    require(exists(spark, table), s"refreshStats: table `$table` does not exist")
    // executor-side collection (r13 round tail): each footer opened
    // ONCE for all columns, fanned out over the cluster — the refresh
    // itself must not pay the 100k-serial-driver-opens bottleneck the
    // manifest exists to remove from query planning
    val rows = graft.operators.ZOrder.fileEnvelopesAll(spark, path(table), cols)
    import spark.implicits._
    replace(statsTable(table),
      rows.toDF("file", "colname", "rows", "vmin", "vmax").coalesce(1))
    seedManifestMemo(spark, statsTable(table), rows)
    rows.size
  }

  /** INCREMENTAL manifest refresh (r14) — the append-heavy table's
    * maintenance verb: manifest rows whose file is still live are kept
    * VERBATIM (their footers are never re-opened), envelopes are
    * collected only for part files the manifest has never seen, and
    * rows for files a rewrite swapped away are dropped. Footer opens =
    * new files — refreshing a 100k-file manifest after a 100-file
    * append window costs 100 opens where the full refresh pays 100k.
    * The column set comes FROM the existing manifest (it is a property
    * of the layout, fixed by the full refresh that created it — an
    * incremental pass must not invent or narrow it), so a table with
    * no manifest fails loudly toward `refresh_stats cols=…` instead of
    * silently manifesting nothing. Result is row-identical to a full
    * refresh over the same listing (WarehouseStatsSpec pins equality,
    * and pins kept-verbatim by perturbing a row and watching it
    * survive). Returns (kept, added, dropped) row counts.
    */
  def refreshStatsIncremental(spark: SparkSession, table: String): (Int, Int, Int) = {
    require(format == "parquet",
      s"stats manifest reads parquet footers; table format is $format")
    require(exists(spark, table), s"refreshStatsIncremental: table `$table` does not exist")
    require(exists(spark, statsTable(table)),
      s"refreshStatsIncremental: `$table` has no stats manifest — run the full " +
        "refresh_stats cols=… first (the incremental pass derives its column " +
        "set from the existing manifest)")
    val manifest = loadManifest(spark, table)
    require(manifest.nonEmpty,
      s"refreshStatsIncremental: `$table`'s manifest is empty — run the full " +
        "refresh_stats cols=… first")
    val cols = manifest.map(_._2).filter(_ != NoEnvelopes).distinct.sorted
    require(cols.nonEmpty,
      s"refreshStatsIncremental: `$table`'s manifest carries no column rows — " +
        "run the full refresh_stats cols=… first")
    recoverIfTorn(table)
    val live = listPartFiles(spark, table).toSet
    val kept = manifest.filter(r => live.contains(r._1))
    val known = kept.map(_._1).toSet
    val newFiles = live -- known
    val added =
      if (newFiles.isEmpty) Seq.empty
      else graft.operators.ZOrder.fileEnvelopesOf(spark, path(table), cols, Some(newFiles))
    // a new file whose manifested columns are ALL null yields no
    // envelope rows — without a marker it would stay outside `known`
    // and pay its footer open on EVERY later incremental pass (r14
    // review: the "opens = new files" contract decayed toward the full
    // sweep). The sentinel row enters the manifest under a colname no
    // query ever ranges on, so statsPrunedRead's freshness rule treats
    // the file as bounds-unknown (always scanned) exactly as before.
    val sentinels = (newFiles -- added.map(_._1).toSet).toSeq.sorted
      .map(f => (f, NoEnvelopes, 0L, 0L, 0L))
    import spark.implicits._
    val merged = (kept ++ added ++ sentinels).sortBy(r => (r._1, r._2))
    replace(statsTable(table),
      merged.toDF("file", "colname", "rows", "vmin", "vmax").coalesce(1))
    seedManifestMemo(spark, statsTable(table), merged)
    (kept.size, added.size + sentinels.size, manifest.size - kept.size)
  }

  /** Sentinel colname marking a manifested file that yielded no column
    * envelopes (all manifested columns all-null in that file) — keeps
    * the incremental refresh from re-opening its footer forever, and is
    * never consulted by [[statsPrunedScan]] (queries range on real
    * columns; an absent (file, column) row means "must scan"). */
  private val NoEnvelopes = "__none__"

  /** Manifest-backed range read (r13) — [[graft.operators.ZOrder
    * .prunedRead]]'s file-level skipping, but planned from the
    * PERSISTED [[statsTable]] instead of re-opening every footer: at
    * 100 TB a layout holds ~100k part files and opening each footer is
    * 100k driver RPCs PER QUERY, where the manifest is one small
    * parquet read. Freshness rule (the Delta stats rule): a current
    * part file ABSENT from the manifest — appended since the last
    * `refresh_stats` — has unknown bounds and is always scanned, and
    * manifest rows for files a rewrite swapped away are ignored
    * (membership is the live listing, stats are advisory) — so the
    * result is row-identical to filtering [[read]] under ANY
    * append/maintenance interleaving, and staleness costs pruning
    * quality only (q112 hash-pins this with a post-refresh append in
    * flight; WarehouseStatsSpec pins the scheduling claims). No
    * manifest at all → plain filtered read.
    */
  def statsPrunedRead(spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): DataFrame =
    statsPrunedRead(spark, table, Seq((column, lo, hi)))

  /** Conjunctive (rectangle) form of [[statsPrunedRead]] — the manifest
    * twin of [[graft.operators.ZOrder.prunedRead]]'s rectangle planner:
    * a file is scheduled only if its manifested envelope intersects
    * EVERY range, so the per-dimension skip ratios of a z-ordered
    * layout multiply. The freshness rule is per (file, column): a
    * column a file has no manifest row for (post-refresh append, or a
    * column never manifested) contributes no pruning for that file —
    * staleness still costs quality, never rows.
    */
  def statsPrunedRead(spark: SparkSession, table: String,
      ranges: Seq[(String, Long, Long)]): DataFrame =
    statsPrunedScan(spark, table, ranges).frame

  /** A manifest-planned read plus its SCHEDULING EVIDENCE — the file
    * counts the planner actually kept vs the live listing (r14, VERDICT
    * r13 missing #1): the step surface (`pruned_read`,
    * [[graft.steps.Transforms]]) message-logs `scheduled of total` the
    * way MAINTENANCE actions log their file accounting, so a workflow
    * run records whether the manifest pruned anything at all. Without a
    * manifest the scan is the plain filtered read and `scheduled ==
    * total` (nothing was skipped — the honest number, not -1).
    */
  final case class PrunedScan(frame: DataFrame, scheduled: Int, total: Int)

  def statsPrunedScan(spark: SparkSession, table: String,
      ranges: Seq[(String, Long, Long)]): PrunedScan = {
    import org.apache.spark.sql.functions.{col, lit}
    require(ranges.nonEmpty, "statsPrunedRead needs at least one range")
    require(ranges.map(_._1).distinct.size == ranges.size,
      s"duplicate range columns: ${ranges.map(_._1).mkString(", ")}")
    // the data table's torn-swap state must recover before ANY listing
    // here — the manifested branch had this via the later recoverIfTorn,
    // but the fallback's partFiles() would otherwise count a torn table
    // as 0 files and report "scheduled 0 of 0" for a scan that read()
    // recovers and serves in full (r14 review)
    recoverIfTorn(table)
    // epoch-Long bounds compare against the manifest verbatim; the
    // residual compares in each column's OWN type (temporal ranges, r14)
    val schema = read(spark, table).schema
    val residual = ranges.map { case (c, lo, hi) =>
      require(lo <= hi, s"statsPrunedRead range on `$c` is empty: [$lo, $hi]")
      col(c) >= typedBound(schema, c, lo) && col(c) <= typedBound(schema, c, hi)
    }.reduce(_ && _)
    if (!exists(spark, statsTable(table))) {
      val total = partFiles(spark, table)
      return PrunedScan(read(spark, table).where(residual), total, total)
    }
    val cols = ranges.map(_._1).toSet
    val manifest = loadManifest(spark, table)
      .collect { case (f, c, rows, vmin, vmax) if cols.contains(c) =>
        (f, c) -> (rows, vmin, vmax) }.toMap
    recoverIfTorn(table)
    val all = listPartFiles(spark, table)
    val keep = all.filter { f =>
      ranges.forall { case (c, lo, hi) =>
        manifest.get((f, c)) match {
          case Some((rows, vmin, vmax)) => rows > 0 && vmax >= lo && vmin <= hi
          case None => true // unknown bounds (post-refresh append): must scan
        }
      }
    }
    val frame =
      if (keep.isEmpty) read(spark, table).where(lit(false))
      // explicit schema (r16): the pruned file set re-resolved footers
      // on every plan — the schema is the table's footer-declared read schema
      else spark.read.schema(schema)
        .parquet(keep.map(f => s"${path(table)}/$f"): _*).where(residual)
    PrunedScan(frame, keep.size, all.size)
  }

  /** POINT-SET pruned scan (r15, VERDICT r14 next #2): schedule only the
    * part files whose manifested `[vmin, vmax]` envelope contains AT
    * LEAST ONE of `keys` — the planning shape of an incremental
    * admission probing a corpus-scale history with a batch-sized key
    * set. A range planner cannot express this: hash-valued probe keys
    * (LSH band keys, candidate doc ids) scatter uniformly, so their
    * min..max rectangle covers essentially every file, while the
    * per-file interval-membership test schedules ≈ `|keys|` files out
    * of any number — the sublinear-in-history term the admission
    * operators need. Same freshness rule as [[statsPrunedScan]]
    * (unmanifested file ⇒ scanned; membership is the live listing), and
    * the residual `IN`-filter keeps the result row-identical to
    * filtering [[read]] under any append interleaving. Keys are epoch
    * Longs like every manifest bound ([[boundEpoch]]); the residual
    * compares in the column's own type. Driver cost is
    * O(|files| · log |keys|) over sorted keys — metadata-sized by the
    * same argument as the manifest itself.
    */
  /** Membership filter for a point-set scan: a literal `IN` for small
    * key sets (stays inside the scan's data filters — parquet row-group
    * skip applies), a BROADCAST SEMI-JOIN against the key set past
    * that — an `In` with thousands of literal children is an
    * expression-tree/analysis cost paid once per query (measured
    * seconds at a 5k-key micro-batch, and it grows with the batch),
    * where the semi-join ships the same keys once as a hashed
    * broadcast and keeps codegen. Rows are identical by construction
    * (left-semi keeps every left row with a match, duplicates
    * included).
    */
  private def keyMembership(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, c: String,
      sorted: IndexedSeq[Long]): DataFrame => DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (sorted.size <= 64) {
      val lits = sorted.map(typedBound(schema, c, _))
      df => df.where(col(c).isin(lits: _*))
    } else {
      import spark.implicits._
      val raw = sorted.toDF(c)
      val keysDf = fieldType(schema, c) match {
        case ByteType | ShortType | IntegerType | LongType =>
          raw.select(col(c).cast(fieldType(schema, c)).as(c))
        case DateType =>
          raw.select(date_from_unix_date(col(c).cast("int")).as(c))
        case TimestampType =>
          raw.select(timestamp_micros(col(c)).as(c))
        case TimestampNTZType =>
          raw.select(timestamp_micros(col(c))
            .cast(TimestampNTZType).as(c)) // session TZ is UTC: identity
        case other => throw new IllegalArgumentException(
          s"point-set column `$c` has unsupported type ${other.simpleString} " +
            "(integral, DATE or TIMESTAMP)")
      }
      df => df.join(broadcast(keysDf), Seq(c), "left_semi")
    }
  }

  def statsPrunedScanKeys(spark: SparkSession, table: String, column: String,
      keys: Seq[Long]): PrunedScan = {
    import org.apache.spark.sql.functions.{col, lit}
    recoverIfTorn(table)
    if (keys.isEmpty)
      return PrunedScan(read(spark, table).where(lit(false)), 0, partFiles(spark, table))
    val schema = read(spark, table).schema
    val sorted = keys.distinct.sorted.toIndexedSeq
    val residual = keyMembership(spark, schema, column, sorted)
    if (!exists(spark, statsTable(table))) {
      val total = partFiles(spark, table)
      return PrunedScan(residual(read(spark, table)), total, total)
    }
    val manifest = loadManifest(spark, table)
      .collect { case (f, c, rows, vmin, vmax) if c == column =>
        f -> (rows, vmin, vmax) }.toMap
    recoverIfTorn(table)
    val all = listPartFiles(spark, table)
    // binary search: the smallest key >= vmin exists and is <= vmax
    def anyKeyIn(vmin: Long, vmax: Long): Boolean = {
      var lo = 0; var hi = sorted.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < vmin) lo = mid + 1 else hi = mid
      }
      lo < sorted.size && sorted(lo) <= vmax
    }
    val keep = all.filter { f =>
      manifest.get(f) match {
        case Some((rows, vmin, vmax)) => rows > 0 && anyKeyIn(vmin, vmax)
        case None => true // unknown bounds (post-refresh append): must scan
      }
    }
    val frame =
      if (keep.isEmpty) read(spark, table).where(lit(false))
      // explicit schema (r16) — see statsPrunedScan
      else residual(spark.read.schema(schema)
        .parquet(keep.map(f => s"${path(table)}/$f"): _*))
    PrunedScan(frame, keep.size, all.size)
  }

  /** Keyed upsert (SCD-1 merge): rows in `batch` REPLACE existing rows
    * with the same key; everything else appends. Parquet has no row
    * updates, so this is delete-matching + union + the crash-safe swap —
    * the same rewrite Delta's MERGE compiles to for matched-update/
    * not-matched-insert. The key set of one batch is assumed
    * broadcastable (a batch is bounded; the TABLE is not), so the
    * anti-join never shuffles the big side by itself.
    */
  def upsert(spark: SparkSession, table: String, batch: DataFrame, keys: Seq[String],
      keysKnownUnique: Boolean = false): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    // a batch with two versions of one key has no defined winner — refuse
    // like Delta's MERGE on multiple source matches, instead of silently
    // writing a duplicated key (CDC feeds must pre-collapse to last-wins).
    // Callers whose batch is unique BY CONSTRUCTION (e.g. the streaming
    // sink's groupBy collapse) skip the extra aggregation job.
    if (!keysKnownUnique) {
      val dupKeys = batch.groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
        .count().filter(org.apache.spark.sql.functions.col("count") > 1).limit(1).count()
      if (dupKeys > 0)
        throw new IllegalArgumentException(
          s"upsert batch for $table carries duplicate keys on (${keys.mkString(",")}); " +
            "collapse the batch to one row per key first")
    }
    if (!exists(spark, table)) append(batch, table)
    else {
      val existing = read(spark, table)
      val keyCols = keys.map(org.apache.spark.sql.functions.col)
      val kept = existing.join(
        org.apache.spark.sql.functions.broadcast(batch.select(keyCols: _*).distinct()),
        keys, "left_anti")
      rewriteInPlace(table, kept.unionByName(batch.select(existing.columns.map(
        org.apache.spark.sql.functions.col): _*)))
    }
  }

  private def partFiles(spark: SparkSession, table: String): Int =
    listPartFiles(spark, table).size

  private def listPartFiles(spark: SparkSession, table: String): Seq[String] =
    DriverParquet.files(spark, path(table)).map(_.getPath.getName)

  /** Crash-safe table rewrite: the new contents land in a side dir, the
    * old data is renamed aside BEFORE the new copy moves into place, so
    * a crash at any point leaves either the old or the new copy
    * recoverable (never a window where the table is only in a dir
    * `read()` ignores).
    */
  private def rewriteInPlace(table: String, contents: org.apache.spark.sql.DataFrame): Unit = {
    // under the table monitor so recoverIfTorn can never slide a dir
    // beneath the swap's rename pair (ADVICE r10); same-table rewrites
    // serialize, which they already required for correctness
    monitor(table).synchronized {
      graft.util.AtomicSwap.swapInto(path(table), "__rewrite") { tmp =>
        contents.write.mode(SaveMode.Overwrite).format(format).save(tmp)
      }
    }
  }
}

package graft.steps

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Tables, Warehouse}
import graft.ledger.RunLedger
import graft.macros.Macros
import graft.testkit.SparkSupport

/** Step-executor tests over the sf0.001 testdata: real reads, real
  * writes, ledger bookkeeping — the "steps that actually write" gap
  * VERDICT r1 flagged.
  */
class StepsSpec extends AnyFunSuite with SparkSupport {

  private val sf = "/root/testdata/sf0.001"

  private def freshCtx(): (StepContext, RunLedger, Warehouse) = {
    Tables.registerAll(spark, sf)
    val ledger = new RunLedger(() => LocalDateTime.of(2026, 2, 1, 12, 0, 0))
    val wh = new Warehouse(tmpDir("wh"))
    val macroCtx = Macros.Context(
      workflowId = 1L,
      takeoverVon = LocalDateTime.of(1992, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(1998, 12, 31, 23, 59, 59))
    val stepRunId = ledger.start(graft.model.RunLevel.Schritt, 100L)
    (StepContext(spark, wh, ledger, macroCtx, schrittRunId = Some(stepRunId)), ledger, wh)
  }

  test("COPY writes the query result with audit columns and records ErwarteteDaten") {
    val (ctx, ledger, wh) = freshCtx()
    val spec = StepSpec(1, CommandType.Copy, TaskType.Sql,
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 100",
      zieltabelle = Some("orders_copy"))
    val rows = Steps.execute(spec, ctx).get
    val expected = spark.sql(
      "SELECT count(*) FROM orders WHERE o_orderkey <= 100").head.getLong(0)
    assert(rows == expected)
    val written = wh.read(spark, "orders_copy")
    assert(written.count() == expected)
    assert(written.columns.toSet ==
      Set("o_orderkey", "o_totalprice", "nutzer", "abfragezeitpunkt", "datenproduzent"))
    assert(ledger.currentOf(ctx.schrittRunId.get).get.erwarteteDaten.contains(rows))
    assert(ledger.allQueries.nonEmpty)
  }

  test("COPY into an existing destination aligns schema and fills audit defaults (CommandExecuter.cs:603-678)") {
    val (ctx, _, wh) = freshCtx()
    // pre-create destination with extra columns in a fixed order
    wh.replace("cust_dst", spark.sql(
      """SELECT CAST(1 AS BIGINT) AS custkey, CAST('x' AS STRING) AS name,
        |  CAST('u' AS STRING) AS nutzer,
        |  CAST('2020-01-01' AS TIMESTAMP_NTZ) AS abfragezeitpunkt,
        |  CAST('p' AS STRING) AS datenproduzent,
        |  CAST(NULL AS TIMESTAMP_NTZ) AS loeschdatum
        |WHERE 1 = 0""".stripMargin))
    val spec = StepSpec(2, CommandType.Copy, TaskType.Sql,
      "SELECT c_custkey AS custkey, c_name AS name FROM customer WHERE c_custkey <= 10",
      zieltabelle = Some("cust_dst"))
    Steps.execute(spec, ctx)
    val out = wh.read(spark, "cust_dst")
    assert(out.columns.toSeq ==
      Seq("custkey", "name", "nutzer", "abfragezeitpunkt", "datenproduzent", "loeschdatum"))
    val row = out.orderBy("custkey").head()
    assert(row.getString(2) == "etl_user")
    assert(row.getString(4) == "graft")
    assert(row.isNullAt(5))
  }

  test("timesliced COPY equals the unsliced copy over the same window (S2 slice-union property)") {
    val (ctx, _, wh) = freshCtx()
    val spec = StepSpec(3, CommandType.Copy, TaskType.Sql,
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem " +
        "WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
      zieltabelle = Some("li_sliced"), zeitscheibe = true)
    val rows = Steps.execute(spec, ctx).get
    val unsliced = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1992-01-01 00:00:00' " +
        "AND TIMESTAMP '1998-12-31 23:59:59'").head.getLong(0)
    assert(rows == unsliced, "slice union must equal the unsliced copy")
    assert(wh.read(spark, "li_sliced").count() == unsliced)
  }

  test("timesliced COPY over a catalog source compiles to exactly ONE scan (VERDICT r5 item 3)") {
    val (ctx, ledger, _) = freshCtx()
    val spec = StepSpec(3, CommandType.Copy, TaskType.Sql,
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem " +
        "WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
      zieltabelle = Some("li_sliced"), zeitscheibe = true)
    // the 7-year takeover makes 85 month slices (incl. the reference's
    // degenerate trailing window) — branch-per-slice would mean 85 scans
    // of the unpartitioned source
    val windows = MonthWindows.windows(ctx.macroCtx.takeoverVon, ctx.macroCtx.takeoverBis)
    assert(windows.size == 85)
    val src = Steps.timeslicedSource(spec, ctx)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = src.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"catalog timeslice must plan ONE scan, got ${scans.size}")
    // audit parity (VERDICT r5 item 5): the query log carries the SAME
    // per-slice rows the reference's serial loop writes — one per slice,
    // each with its own bounds (interior upper bounds carry the
    // half-open `.999999` extension the executed queries use)
    assert(ledger.allQueries.size == windows.size)
    // interior bounds carry the half-open `.999999` extension EXCEPT the
    // real final slice before the degenerate trailing window, whose
    // extension is capped at the overall takeover end (ADVICE r7)
    val overallTo = windows.last.to
    windows.zipWithIndex.foreach { case (w, i) =>
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val toLit =
        if (i == windows.size - 1) s"TIMESTAMP '${w.to.format(fmt)}'"
        else if (w.to.plusNanos(999999000L).isAfter(overallTo))
          s"TIMESTAMP '${overallTo.format(fmt)}'"
        else s"TIMESTAMP '${w.to.format(fmt)}.999999'"
      assert(ledger.allQueries.exists(q =>
        q.sql.contains(s"TIMESTAMP '${w.from.format(fmt)}'") && q.sql.contains(toLit)),
        s"missing per-slice query row for slice $w")
    }
    // and the fold itself is documented: a message with the slice count
    // and the actually-executed range query
    assert(ledger.allMessages.exists(m =>
      m.meldungstext.startsWith(s"Zeitscheiben 1..${windows.size} zu einem Scan gefaltet") &&
        m.meldungstext.contains("1998-12-31 23:59:59")))
    // and the single range is row-equivalent to the slice union
    val expected = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1992-01-01 00:00:00' " +
        "AND TIMESTAMP '1998-12-31 23:59:59'").head.getLong(0)
    assert(src.count() == expected)
  }

  test("fractional-second rows pass IDENTICALLY through catalog and JDBC timeslice paths (VERDICT r6 wrong #3)") {
    import graft.sources.Connections
    import spark.implicits._
    val rows = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-15 12:00:00")),
      // lives in the reference's inter-slice gap (23:59:59, 24:00:00) —
      // its serial loop silently drops this row; the half-open
      // normalization keeps it on BOTH paths
      (2, java.sql.Timestamp.valueOf("2024-01-31 23:59:59.5")),
      (3, java.sql.Timestamp.valueOf("2024-02-10 00:00:00")),
      // PAST the takeover end (bis = 2024-02-29 23:59:59): the month-
      // aligned end makes the trailing window degenerate, so the REAL
      // final slice (Feb) sits at an interior index — an uncapped
      // `.999999` extension would ingest this row on the JDBC path while
      // the fused catalog range excludes it (ADVICE r7); the cap at the
      // overall takeover end must drop it on BOTH paths
      (4, java.sql.Timestamp.valueOf("2024-02-29 23:59:59.5")))
    val df = rows.toDF("ID", "TS")
    df.createOrReplaceTempView("ts_gap_src")
    val dbDir = tmpDir("derby-ts") + "/db"
    val jdbc = Connections.Jdbc(s"jdbc:derby:$dbDir;create=true", "app", "app",
      driver = Some("org.apache.derby.jdbc.EmbeddedDriver"))
    Connections.jdbcWriteOptions(jdbc, "ts_gap_src")
      .foldLeft(df.write.format("jdbc"))((b, kv) => b.option(kv._1, kv._2))
      .mode("append").save()
    val macroCtx = Macros.Context(
      workflowId = 1,
      takeoverVon = LocalDateTime.of(2024, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(2024, 2, 29, 23, 59, 59))
    val spec = StepSpec(9, CommandType.Copy, TaskType.Sql,
      "SELECT ID, TS FROM ts_gap_src WHERE TS BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##",
      zieltabelle = Some("unused"), zeitscheibe = true)
    def ids(ctx: StepContext): Set[Int] =
      Steps.timeslicedSource(spec, ctx).select("ID").collect().map(_.getInt(0)).toSet
    val catalogIds = ids(StepContext(spark, new Warehouse(tmpDir("wh-ts-a")),
      new RunLedger(), macroCtx))
    val jdbcIds = ids(StepContext(spark, new Warehouse(tmpDir("wh-ts-b")),
      new RunLedger(), macroCtx, sourceSpec = Some(jdbc)))
    assert(catalogIds == jdbcIds, "both source paths must return the same row set")
    assert(catalogIds == Set(1, 2, 3),
      "the half-open reading keeps the gap row; the capped final bound drops the past-end row")
  }

  test("CSV export honors the 7 ETL_Paketschritt_Parameter options") {
    val (ctx, _, _) = freshCtx()
    val out = tmpDir("csvout") + "/export"
    val spec = StepSpec(4, CommandType.Transfer, TaskType.Csv,
      "SELECT r_regionkey, r_name, CAST(NULL AS STRING) AS missing, " +
        "TIMESTAMP_NTZ '1995-03-04 10:30:00' AS ts, CAST(1.5 AS DOUBLE) AS num " +
        "FROM region ORDER BY r_regionkey",
      zieltabelle = Some(out),
      csv = CsvParams(
        kopfzeile = true, trennzeichen = "|", zahlenformat = Some("0.00"),
        datumsformat = "dd.MM.yyyy HH:mm:ss", textqualifizierer = Some("'"),
        escapecharacter = "\\", leerwert = "NULL"))
    val rows = Steps.execute(spec, ctx).get
    assert(rows == 5)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    val content = files.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq
    val header = content.find(_.startsWith("r_regionkey")).get
    assert(header == "r_regionkey|r_name|missing|ts|num")
    val line0 = content.find(_.startsWith("0|")).get
    assert(line0.contains("|NULL|"), s"null marker: $line0")
    assert(line0.contains("04.03.1995 10:30:00"), s"date format: $line0")
    assert(line0.endsWith("|1.50"), s"number format: $line0")
  }

  test("ingest: file lifecycle, mapping rename, audit columns, idempotent re-run") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("ingest"))
    Files.createDirectories(base.resolve("Insert"))
    Files.writeString(base.resolve("Insert/a.csv"), "id,val\n1,x\n2,y\n")
    Files.writeString(base.resolve("Insert/b.csv"), "id,val\n3,z\n")
    Files.writeString(base.resolve("mapping.csv"), "from,to\nval,wert\n")
    val spec = StepSpec(5, CommandType.Transfer, TaskType.Sql,
      base.toString, zieltabelle = Some("ingested"))
    val rows = Steps.execute(spec, ctx).get
    assert(rows == 3)
    val t = wh.read(spark, "ingested")
    assert(t.count() == 3)
    assert(t.columns.contains("wert") && !t.columns.contains("val"))
    assert(t.filter("dateiname = 'a.csv'").count() == 2)
    // files consumed
    assert(!Files.exists(base.resolve("Insert/a.csv")))
    // idempotent retry: same file again must not duplicate
    Files.writeString(base.resolve("Insert/a.csv"), "id,val\n1,x\n2,y\n")
    Steps.execute(spec, ctx)
    assert(wh.read(spark, "ingested").filter("dateiname = 'a.csv'").count() == 2)
  }

  test("ingest JSONL: same lifecycle/mapping/audit as CSV over line-delimited JSON drops") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("ingest-jsonl"))
    Files.createDirectories(base.resolve("Insert"))
    Files.writeString(base.resolve("Insert/a.jsonl"),
      "{\"id\":1,\"val\":\"x\"}\n{\"id\":2,\"val\":\"y\"}\n")
    Files.writeString(base.resolve("Insert/b.jsonl"), "{\"id\":3,\"val\":\"z\"}\n")
    Files.writeString(base.resolve("mapping.csv"), "from,to\nval,wert\n")
    val spec = StepSpec(51, CommandType.Transfer, TaskType.Jsonl,
      base.toString, zieltabelle = Some("ingested_jl"))
    assert(Steps.execute(spec, ctx).get == 3)
    val t = wh.read(spark, "ingested_jl")
    assert(t.columns.contains("wert") && !t.columns.contains("val"))
    // inferred types land as strings: the file must not shape the table
    assert(t.schema("id").dataType == org.apache.spark.sql.types.StringType)
    assert(t.filter("dateiname = 'a.jsonl' AND id = '1' AND wert = 'x'").count() == 1)
    assert(!Files.exists(base.resolve("Insert/a.jsonl")), "files consumed")
    // idempotent retry: the same drop again must not duplicate
    Files.writeString(base.resolve("Insert/a.jsonl"),
      "{\"id\":1,\"val\":\"x\"}\n{\"id\":2,\"val\":\"y\"}\n")
    Steps.execute(spec, ctx)
    assert(wh.read(spark, "ingested_jl").filter("dateiname = 'a.jsonl'").count() == 2)
  }

  test("ingest JSONL: a drop missing a column fails LOUDLY and rolls back (r15, ADVICE r14: inference must not narrow the table)") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("ingest-jsonl-narrow"))
    Files.createDirectories(base.resolve("Insert"))
    Files.writeString(base.resolve("Insert/a.jsonl"),
      "{\"id\":1,\"val\":\"x\"}\n{\"id\":2,\"val\":\"y\"}\n")
    val spec = StepSpec(52, CommandType.Transfer, TaskType.Jsonl,
      base.toString, zieltabelle = Some("ingested_jn"))
    assert(Steps.execute(spec, ctx).get == 2)
    // `val` omitted on every line of the next drop — json inference
    // cannot see the column, so without the check the append would
    // silently narrow the table (CSV's header would have carried it)
    Files.writeString(base.resolve("Insert/c.jsonl"), "{\"id\":3}\n")
    val e = intercept[IllegalArgumentException] { Steps.execute(spec, ctx).get }
    assert(e.getMessage.contains("val"), e.getMessage)
    // rollback contract: no partial rows, file back in Insert for a fix
    assert(wh.read(spark, "ingested_jn").filter("dateiname = 'c.jsonl'").count() == 0)
    assert(Files.exists(base.resolve("Insert/c.jsonl")))
  }

  test("ingest rollback: a failing file is moved back and its rows removed (CommandExecuter.cs:1130-1283)") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("ingest2"))
    Files.createDirectories(base.resolve("Insert"))
    Files.writeString(base.resolve("Insert/good.csv"), "id\n1\n")
    Files.writeString(base.resolve("Insert/zbad.csv"), "id\n2\n")
    val failing: Steps.FileReader = (s, path) =>
      if (path.endsWith("zbad.csv")) throw new RuntimeException("decode error")
      else Steps.csvReader(s, path)
    val spec = StepSpec(6, CommandType.Transfer, TaskType.Sql,
      base.toString, zieltabelle = Some("ingested2"))
    assertThrows[RuntimeException] { Steps.ingest(spec, ctx, failing) }
    // good file landed, bad file rolled back into Insert
    assert(wh.read(spark, "ingested2").count() == 1)
    assert(Files.exists(base.resolve("Insert/zbad.csv")))
    assert(!Files.exists(base.resolve("Insert/good.csv")))
  }

  test("warehouse formats: the same COPY step writes ORC and JSON tables unchanged") {
    Seq("orc", "json").foreach { fmt =>
      val (ctx0, _, _) = freshCtx()
      val wh = new Warehouse(tmpDir(s"wh-$fmt"), format = fmt)
      val ctx = ctx0.copy(warehouse = wh)
      val spec = StepSpec(20, CommandType.Copy, TaskType.Sql,
        "SELECT r_regionkey, r_name FROM region", zieltabelle = Some("regions"))
      val rows = Steps.execute(spec, ctx).get
      assert(rows == 5)
      val back = wh.read(spark, "regions")
      assert(back.count() == 5)
      assert(back.columns.contains("nutzer"))
      // delete-rewrite works across formats too
      wh.deleteWhere(spark, "regions", "r_regionkey = 0")
      assert(wh.read(spark, "regions").count() == 4)
    }
  }

  test("SQL_TARGET executes DDL/DML text; EXEC keeps NYI parity") {
    val (ctx, ledger, _) = freshCtx()
    Steps.execute(StepSpec(7, CommandType.SqlTarget, TaskType.Sql,
      "CREATE OR REPLACE TEMP VIEW sql_target_probe AS SELECT 42 AS answer"), ctx)
    assert(spark.sql("SELECT answer FROM sql_target_probe").head.getInt(0) == 42)
    assertThrows[NotImplementedError] {
      Steps.execute(StepSpec(8, CommandType.Exec, TaskType.Sql, "x"), ctx)
    }
  }

  test("TRANSFER/EXCEL ingests a real .xlsx through the full lifecycle") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("xlsx-ingest"))
    Files.createDirectories(base.resolve("Insert"))
    graft.sources.Xlsx.write(base.resolve("Insert/data.xlsx").toString,
      header = Seq("id", "name", "seen"),
      rows = Seq(
        Seq(1, "first", LocalDateTime.of(2026, 5, 1, 8, 0, 0)),
        Seq(2, "second", LocalDateTime.of(2026, 5, 2, 9, 30, 0))))
    Files.writeString(base.resolve("mapping.csv"), "from,to\nname,bezeichnung\n")
    val spec = StepSpec(30, CommandType.Transfer, TaskType.Excel,
      base.toString, zieltabelle = Some("xlsx_target"))
    val rows = Steps.execute(spec, ctx).get
    assert(rows == 2)
    val t = wh.read(spark, "xlsx_target")
    assert(t.columns.contains("bezeichnung") && !t.columns.contains("name"))
    val r0 = t.filter("id = '1'").head()
    assert(r0.getAs[String]("bezeichnung") == "first")
    assert(r0.getAs[String]("seen") == "2026-05-01 08:00:00")
    assert(r0.getAs[String]("dateiname") == "data.xlsx")
    assert(!Files.exists(base.resolve("Insert/data.xlsx"))) // consumed
    // idempotent retry does not duplicate
    graft.sources.Xlsx.write(base.resolve("Insert/data.xlsx").toString,
      Seq("id", "name", "seen"), Seq(Seq(1, "first", LocalDateTime.of(2026, 5, 1, 8, 0, 0))))
    Steps.execute(spec, ctx)
    assert(wh.read(spark, "xlsx_target").filter("dateiname = 'data.xlsx'").count() == 1)
  }

  test("ingest handles filenames containing a single quote (ADVICE r2)") {
    val (ctx, _, wh) = freshCtx()
    val base = Paths.get(tmpDir("quote-ingest"))
    Files.createDirectories(base.resolve("Insert"))
    Files.writeString(base.resolve("Insert/it's.csv"), "id\n1\n")
    val spec = StepSpec(31, CommandType.Transfer, TaskType.Sql,
      base.toString, zieltabelle = Some("quoted"))
    assert(Steps.execute(spec, ctx).get == 1)
    // re-run the same file: the quoted delete predicate must parse and dedup
    Files.writeString(base.resolve("Insert/it's.csv"), "id\n1\n")
    Steps.execute(spec, ctx)
    assert(wh.read(spark, "quoted").count() == 1)
  }

  test("CSV export: einzeldatei option controls single-file vs directory output") {
    val (ctx, _, _) = freshCtx()
    val single = tmpDir("csv-single") + "/out"
    Steps.execute(StepSpec(32, CommandType.Transfer, TaskType.Csv,
      "SELECT l_orderkey FROM lineitem", zieltabelle = Some(single),
      csv = CsvParams(einzeldatei = true)), ctx)
    assert(new java.io.File(single).listFiles().count(_.getName.endsWith(".csv")) == 1)
    val multi = tmpDir("csv-multi") + "/out"
    // explicit REPARTITION(4): AQE coalesces implicit shuffles on this
    // tiny input, which would mask the coalesce(1)-vs-parts distinction
    Steps.execute(StepSpec(33, CommandType.Transfer, TaskType.Csv,
      "SELECT /*+ REPARTITION(4, l_orderkey) */ l_orderkey FROM lineitem",
      zieltabelle = Some(multi), csv = CsvParams()), ctx)
    assert(new java.io.File(multi).listFiles().count(_.getName.endsWith(".csv")) > 1,
      "default must write a directory of parts, not force one task")
  }

  test("Warehouse.compact: many small appended files collapse; contents unchanged") {
    import spark.implicits._
    val wh = new Warehouse(tmpDir("compact-wh"))
    // 12 appends of 3 rows = at least 12 part files (streaming/append shape)
    (0 until 12).foreach(i =>
      wh.append(Seq(i * 3, i * 3 + 1, i * 3 + 2).toDF("n").coalesce(1), "tiny"))
    val before = wh.read(spark, "tiny").collect().map(_.getInt(0)).toSet
    val (filesBefore, filesAfter) = wh.compact(spark, "tiny", targetRowsPerFile = 100)
    assert(filesBefore >= 12, s"expected >=12 small files, got $filesBefore")
    assert(filesAfter == 1, s"expected one compacted file, got $filesAfter")
    assert(wh.read(spark, "tiny").collect().map(_.getInt(0)).toSet == before)
    // compacting a missing table is a no-op, not an error
    assert(wh.compact(spark, "missing") == ((0, 0)))
  }

  test("SQL_TARGET: scalar probe of -1 fails the step and ledgers the error (@OutputParam1 contract)") {
    val (ctx, ledger, _) = freshCtx()
    // -1 through the scalar channel -> StepSignalledFailure + error row
    assertThrows[StepSignalledFailure] {
      Steps.execute(StepSpec(60, CommandType.SqlTarget, TaskType.Sql,
        "SELECT CASE WHEN 1 = 1 THEN -1 ELSE 0 END AS outcome"), ctx)
    }
    assert(ledger.allErrors.exists(_.meldungstext.contains("@OutputParam1")),
      "a signalled failure must write a ledger error row")
    // 0 and other values pass
    Steps.execute(StepSpec(61, CommandType.SqlTarget, TaskType.Sql,
      "SELECT 0 AS outcome"), ctx)
    Steps.execute(StepSpec(62, CommandType.SqlTarget, TaskType.Sql,
      "SELECT 42 AS outcome"), ctx)
    // an empty probe, a NULL, and a multi-column data probe all pass:
    // only the reference's single-integer channel carries the signal
    Steps.execute(StepSpec(63, CommandType.SqlTarget, TaskType.Sql,
      "SELECT -1 AS a WHERE 1 = 0"), ctx)
    Steps.execute(StepSpec(64, CommandType.SqlTarget, TaskType.Sql,
      "SELECT CAST(NULL AS INT) AS outcome"), ctx)
    Steps.execute(StepSpec(65, CommandType.SqlTarget, TaskType.Sql,
      "SELECT -1 AS a, -1 AS b"), ctx)
    // decimal -1 (a SUM() probe's natural type) also signals
    assertThrows[StepSignalledFailure] {
      Steps.execute(StepSpec(66, CommandType.SqlTarget, TaskType.Sql,
        "SELECT CAST(-1 AS DECIMAL(10,2)) AS outcome"), ctx)
    }
    // a MULTI-row single-column data SELECT never signals, whatever its
    // arbitrary first row is — only a true scalar carries the channel
    Steps.execute(StepSpec(67, CommandType.SqlTarget, TaskType.Sql,
      "SELECT -1 AS a FROM range(3)"), ctx)
  }

  test("Warehouse.upsert: replaces matched keys, refuses duplicate keys in one batch") {
    import spark.implicits._
    val wh = new Warehouse(tmpDir("upsert-wh"))
    wh.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    wh.upsert(spark, "t", Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val out = wh.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // two versions of one key in a batch have no defined winner
    intercept[IllegalArgumentException] {
      wh.upsert(spark, "t", Seq((5L, "x"), (5L, "y")).toDF("k", "v"), Seq("k"))
    }
    // idempotent on retry: replaying the SAME batch leaves the state
    // unchanged — a step retried after a crash must not duplicate
    wh.upsert(spark, "t", Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(wh.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet == out)
  }

  test("SQL_TARGET with a SELECT Befehl does not materialize the result on the driver (ADVICE r2)") {
    val (ctx, _, _) = freshCtx()
    // 500M rows — collecting this would OOM the driver; probing one row is instant
    val t0 = System.nanoTime()
    Steps.execute(StepSpec(34, CommandType.SqlTarget, TaskType.Sql,
      "SELECT id, id * 2 AS twice FROM range(500000000)"), ctx)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"SELECT Befehl took ${secs}s — looks like a driver collect")
  }

  test("TEST step sleeps and logs") {
    val (ctx, ledger, _) = freshCtx()
    Steps.execute(StepSpec(9, CommandType.Test, TaskType.Sql, "0.05"), ctx)
    assert(ledger.allMessages.exists(_.meldungstext.contains("TEST step 9")))
  }

  test("Warehouse recovers a swap torn between renames; the next write must not strand the prior rows (r10 review)") {
    val (_, _, wh) = freshCtx()
    wh.append(spark.sql("SELECT 1L AS id"), "torn_a")
    // crash window: target renamed aside, new copy not yet moved in
    val p = Paths.get(s"${wh.dir}/torn_a")
    Files.move(p, Paths.get(s"${wh.dir}/torn_a__old"))
    assert(wh.exists(spark, "torn_a"), "exists() must complete the torn swap from __old")
    assert(wh.read(spark, "torn_a").count() == 1)
    // with a COMPLETE side dir present, the newer copy wins over __old
    wh.append(spark.sql("SELECT 1L AS id"), "torn_b")
    val pb = Paths.get(s"${wh.dir}/torn_b")
    Files.move(pb, Paths.get(s"${wh.dir}/torn_b__old"))
    wh.append(spark.sql("SELECT 2L AS id UNION ALL SELECT 3L"), "torn_b__rewrite_tmp")
    Files.move(Paths.get(s"${wh.dir}/torn_b__rewrite_tmp"), Paths.get(s"${wh.dir}/torn_b__rewrite"))
    assert(wh.read(spark, "torn_b").count() == 2,
      "the complete (_SUCCESS-marked) side dir must win over __old")
  }

  test("concurrent reads racing torn-swap recovery all succeed (ADVICE r10: losing the renameTo race is not failure)") {
    val (_, _, wh) = freshCtx()
    // repeat the race a few times: each round re-tears the table, then
    // 16 threads call exists() simultaneously — pre-fix, every loser of
    // the renameTo race threw IllegalStateException
    (1 to 5).foreach { round =>
      wh.append(spark.sql(s"SELECT ${round}L AS id"), "torn_c")
      Files.move(Paths.get(s"${wh.dir}/torn_c"), Paths.get(s"${wh.dir}/torn_c__old"))
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val futures = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = { start.await(); wh.exists(spark, "torn_c") }
        })
      }
      start.countDown()
      futures.foreach(f => assert(f.get(30, java.util.concurrent.TimeUnit.SECONDS),
        s"round $round: every racer must see the recovered table"))
      pool.shutdown()
      val recovered = wh.read(spark, "torn_c")
      assert(recovered.count() == 1 && recovered.head.getLong(0) == round.toLong)
      // clean up for the next round's fresh tear
      val d = new java.io.File(s"${wh.dir}/torn_c")
      def rm(x: java.io.File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
      rm(d)
    }
  }

  test("isQueryShaped: CTE, parenthesized, and comment-prefixed probes are queries; DDL/DML are not (r10 review)") {
    assert(Steps.isQueryShaped("SELECT 1"))
    assert(Steps.isQueryShaped("  with c as (select -1 n) select n from c"))
    assert(Steps.isQueryShaped("(SELECT 1)"))
    assert(Steps.isQueryShaped("-- probe\nSELECT 1"))
    assert(Steps.isQueryShaped("/* hdr */ -- x\n WITH c AS (SELECT 1) SELECT * FROM c"))
    assert(!Steps.isQueryShaped("DELETE FROM t"))
    assert(!Steps.isQueryShaped("-- note\nUPDATE t SET x = 1"))
    assert(!Steps.isQueryShaped("/* unclosed"))
  }

  test("isQueryShaped: CTE-DML is a statement, not a query (ADVICE r10)") {
    // valid T-SQL / Postgres: a CTE list whose terminal statement is DML
    assert(!Steps.isQueryShaped("WITH x AS (SELECT 1 n) INSERT INTO t SELECT n FROM x"))
    assert(!Steps.isQueryShaped(
      "with a as (select 1), b as (select 2) delete from t where id in (select * from a)"))
    assert(!Steps.isQueryShaped("WITH x AS (SELECT 1) UPDATE t SET v = 0"))
    assert(!Steps.isQueryShaped("WITH s AS (SELECT 1 k) MERGE INTO t USING s ON t.k = s.k"))
    // ...while CTE queries stay queries, even with DML keywords in
    // strings, quoted identifiers, or nested subqueries
    assert(Steps.isQueryShaped("WITH x AS (SELECT 'INSERT' AS s) SELECT * FROM x"))
    assert(Steps.isQueryShaped("WITH \"delete\" AS (SELECT 1) SELECT * FROM \"delete\""))
    assert(Steps.isQueryShaped("WITH [update] AS (SELECT 1 n) SELECT * FROM [update]"))
    assert(Steps.isQueryShaped(
      "WITH x (n) AS (SELECT o_orderkey FROM orders WHERE o_orderkey NOT IN " +
        "(SELECT l_orderkey FROM lineitem)) SELECT count(*) FROM x"))
    assert(Steps.isQueryShaped("WITH x AS (SELECT 'it''s an INSERT' v) SELECT v FROM x"))
  }

  test("alignToDestination raises on a value the cast would silently null (ADVICE r10)") {
    val (ctx, _, wh) = freshCtx()
    wh.append(spark.sql("SELECT CAST(1 AS BIGINT) AS id, CAST(2.5 AS DOUBLE) AS betrag"),
      "typed_guard")
    val bad = spark.sql("SELECT CAST(2 AS BIGINT) AS id, 'abc' AS betrag")
    val aligned = Steps.alignToDestination(bad, wh.read(spark, "typed_guard").schema, ctx)
    val e = intercept[Exception](aligned.collect())
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("COPY type coercion failed"),
      s"unconvertible value must fail the step loudly, got: $messages")
    // convertible values still align and append cleanly
    val ok = spark.sql("SELECT CAST(3 AS BIGINT) AS id, '7.25' AS betrag")
    wh.append(Steps.alignToDestination(ok, wh.read(spark, "typed_guard").schema, ctx),
      "typed_guard")
    assert(wh.read(spark, "typed_guard")
      .agg(org.apache.spark.sql.functions.sum("betrag")).head.getDouble(0) == 9.75)
  }

  test("Zahlenformat integer formats export without a decimal point (r10 review: '0' gave scale 1)") {
    val (ctx, _, _) = freshCtx()
    val out = tmpDir("csvint") + "/export"
    val spec = StepSpec(41, CommandType.Transfer, TaskType.Csv,
      "SELECT CAST(5.0 AS DOUBLE) AS num",
      zieltabelle = Some(out),
      csv = CsvParams(kopfzeile = false, zahlenformat = Some("#,##0")))
    Steps.execute(spec, ctx).get
    val content = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq
    assert(content == Seq("5"), s"integer format must render 5, got $content")
  }

  test("alignToDestination casts a present source column to the destination type (r10 review: mixed-type appends brick the table)") {
    val (ctx, _, wh) = freshCtx()
    // destination: id BIGINT, betrag DOUBLE
    wh.append(spark.sql("SELECT CAST(1 AS BIGINT) AS id, CAST(2.5 AS DOUBLE) AS betrag"), "typed_dst")
    // source delivers betrag as STRING (the CSV-view shape)
    val src = spark.sql("SELECT CAST(2 AS BIGINT) AS id, '7.25' AS betrag")
    val aligned = Steps.alignToDestination(src, wh.read(spark, "typed_dst").schema, ctx)
    assert(aligned.schema("betrag").dataType == org.apache.spark.sql.types.DoubleType,
      "present source columns must be cast to the destination type")
    wh.append(aligned, "typed_dst")
    // the table stays readable and numeric after the append
    assert(wh.read(spark, "typed_dst").agg(org.apache.spark.sql.functions.sum("betrag"))
      .head.getDouble(0) == 9.75)
  }

  test("ingest recovers files stranded in TMP by a crashed run (r10 review: silent data loss)") {
    val (ctx, ledger, wh) = freshCtx()
    val base = Paths.get(tmpDir("ingest3"))
    Files.createDirectories(base.resolve("Insert"))
    Files.createDirectories(base.resolve("TMP"))
    // simulate a hard crash: the file sits in TMP, not Insert
    Files.writeString(base.resolve("TMP/crashed.csv"), "id\n1\n2\n")
    val spec = StepSpec(42, CommandType.Transfer, TaskType.Sql,
      base.toString, zieltabelle = Some("ingested3"))
    val rows = Steps.execute(spec, ctx).get
    assert(rows == 2, "the stranded file must be recovered and ingested")
    assert(wh.read(spark, "ingested3").filter("dateiname = 'crashed.csv'").count() == 2)
    assert(!Files.exists(base.resolve("TMP/crashed.csv")))
    assert(ledger.allMessages.exists(_.meldungstext.contains("recovering stranded")))
  }

  test("timesliced COPY substitutes takeover macros spelled with interior whitespace (r10 review)") {
    val (ctx0, _, wh) = freshCtx()
    val ctx = ctx0.copy(macroCtx = ctx0.macroCtx.copy(
      takeoverVon = LocalDateTime.of(1996, 1, 1, 0, 0),
      takeoverBis = LocalDateTime.of(1996, 6, 30, 23, 59, 59)))
    def run(befehl: String, dst: String): Long = {
      val spec = StepSpec(43, CommandType.Copy, TaskType.Sql, befehl,
        zieltabelle = Some(dst), zeitscheibe = true)
      Steps.execute(spec, ctx).get
    }
    val tight = run("SELECT l_orderkey, l_shipdate FROM lineitem " +
      "WHERE l_shipdate BETWEEN ##Uebernahme_von## AND ##Uebernahme_bis##", "ts_tight")
    val spaced = run("SELECT l_orderkey, l_shipdate FROM lineitem " +
      "WHERE l_shipdate BETWEEN ## Uebernahme_von ## AND ## Uebernahme_bis ##", "ts_spaced")
    assert(tight > 0 && spaced == tight,
      s"whitespace macro spelling must slice identically: $spaced vs $tight")
  }
}

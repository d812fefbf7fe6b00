package servicebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, LocalDateTime}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

import graft.{Service, Sessions, SparkEntry}

/** Drives one workload through the engine's public service API:
  * `Service.loadConfig` on the generated config snapshot, then
  * `Service.Engine` `start` / `tick` on a synthetic schedule clock (one
  * minute of schedule time per tick), then `shutdown`. The ledger keeps
  * the real clock.
  *
  * `servicebench.ServiceBench key=value ...` with keys
  *   run        run directory (inputs from gen.py, outputs land here)
  *   workload   etl_load | service_dag | curation
  *   timed      ticks in the timed window
  *   warmup     ticks run before the timed window (the first is cold)
  *   trace      1 registers the Spark listeners and lists the warehouse
  *              after every tick (the per-layer run), 0 does not
  *   batches    input batches the generator wrote per tick kind
  *
  * Writes `result.json` into the run directory; the Python side checks
  * outputs and derives the metrics.
  */
object ServiceBench {

  private def nowMicros(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val run = new File(opt("run")).getAbsolutePath
    val workload = opt("workload")
    val timedTicks = opt("timed").toInt
    val warmup = opt("warmup").toInt
    val traced = opt("trace") == "1"
    val batches = opt("batches").toInt
    implicit val ec: ExecutionContext = ExecutionContext.global

    val out = new JMap[String, Object]()
    val spans = new Spans
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

    // -- set-up, counted from JVM start: session, catalog registration,
    // config snapshot, Engine.start
    val cpu0 = cpuStat()
    val setup = spans.open("setup", None, None, jvmStart)
    val spark = spans.timed("service.session", Some(setup))(Sessions.local())
    val cfg = spans.timed("service.load_config", Some(setup))(
      Service.loadConfig(spark, s"$run/config"))
    val schedules = cfg.workflows.filter(_.istAktiv)
      .map(w => w.etlWorkflowId -> w.etlZeitplaeneId).toMap
    val engine = new Service.Engine(spark, s"$run/data", s"$run/warehouse", cfg, schedules)
    spans.timed("service.start", Some(setup))(engine.start())
    val setupEnd = spans.close(setup)
    out.put("setup", jmap("start_us" -> Long.box(jvmStart), "end_us" -> Long.box(setupEnd),
      "steal_share" -> Double.box(stealShare(cpu0, cpuStat())),
      "session_us" -> Long.box(spans.last("service.session")),
      "load_config_us" -> Long.box(spans.last("service.load_config")),
      "start_call_us" -> Long.box(spans.last("service.start"))))

    val listeners = if (traced) Some(new Listeners(spark)) else None

    // -- ticks: warm-up, then the timed window
    val prep = new TickInputs(run, workload, batches)
    val start = LocalDateTime.of(2026, 1, 5, 0, 0, 0)
    val ticks = new JList[Object]()
    val gcBean = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMillis = gcBean.map(_.getCollectionTime).sum
    var timedMicros = 0L
    var k = 0
    var gcAtWindow = 0L
    var windowStart = 0L
    while (k < warmup + timedTicks) {
      if (k == warmup) { gcAtWindow = gcMillis; windowStart = nowMicros() }
      val batch = k % batches
      spans.timed("bench.prepare", None)(prep.before(k, batch))
      val now = start.plusMinutes(k.toLong)
      val cpu0 = cpuStat()
      val proc0 = processCpuNanos()
      val tick = spans.open("service.tick", None, None)
      val started = engine.tick(now)
      val t1 = spans.close(tick)
      val cpu1 = cpuStat()
      val proc1 = processCpuNanos()
      val t0k = spans.startOf(tick)
      if (k >= warmup) timedMicros += t1 - t0k
      val row = jmap("tick" -> Int.box(k), "schedule_time" -> now.toString,
        "start_us" -> Long.box(t0k), "end_us" -> Long.box(t1), "batch" -> Int.box(batch),
        "timed" -> Boolean.box(k >= warmup), "steal_share" -> Double.box(stealShare(cpu0, cpu1)),
        "process_cpu_us" -> Long.box((proc1 - proc0) / 1000),
        "started" -> new JList[Object](started.map(i => Int.box(i): Object).asJava))
      if (traced) row.put("warehouse_files", Long.box(partFiles(new File(s"$run/warehouse"))))
      ticks.add(row)
      k += 1
    }
    val windowEnd = nowMicros()
    out.put("ticks", ticks)
    out.put("window", jmap("start_us" -> Long.box(windowStart), "end_us" -> Long.box(windowEnd),
      "tick_us" -> Long.box(timedMicros), "gc_ms" -> Long.box(gcMillis - gcAtWindow)))

    // -- retained heap after a full collection. Spark's ContextCleaner
    // frees broadcast and shuffle blocks on its own thread once their
    // references are collected, so collect a few times and keep the
    // smallest reading.
    val mem = ManagementFactory.getMemoryMXBean
    val heap = (1 to 5).map { _ => System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }.min
    out.put("retained_heap_bytes", Long.box(heap))
    val jit = ManagementFactory.getCompilationMXBean
    out.put("jit_ms", Long.box(if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else -1L))
    out.put("ledger_rows", jmap(
      "runs" -> Int.box(engine.ledger.current.size),
      "run_events" -> Int.box(engine.ledger.events.size),
      "messages" -> Int.box(engine.ledger.allMessages.size),
      "queries" -> Int.box(engine.ledger.allQueries.size),
      "errors" -> Int.box(engine.ledger.allErrors.size)))

    // -- the monitoring path (traced run only)
    if (traced) {
      spans.timed("report.views", None) {
        val latest = engine.ledger.latest(spark)
        graft.report.Reports.timeline(latest).collect()
        graft.report.Reports.lastRunPerWorkflow(latest).collect()
        graft.report.Reports.errorDrilldown(engine.ledger.errorsDf(spark), latest).collect()
      }
    }
    val plans = new JList[Object]()
    engine.ledger.allPlans.foreach(p => plans.add(jmap(
      "id" -> Long.box(p.id), "workflow" -> Int.box(p.etlWorkflowId),
      "planned" -> p.geplanterStart.toString, "executed" -> Boolean.box(p.ausgefuehrt))))
    out.put("plans_before_shutdown", plans)
    spans.timed("ledger.persist", None)(engine.shutdown(Some(s"$run/ledger")))

    listeners.foreach(l => { l.flush(); out.put("spark", l.toJson) })
    out.put("spans", spans.toJson)
    out.put("oracle_q103", SparkEntry.oracleSql("q103_curation_workflow"))
    out.put("jvm", jmap(
      "args" -> new JList[Object](ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(a => a: Object).asJava),
      "version" -> System.getProperty("java.version"),
      "max_heap" -> Long.box(Runtime.getRuntime.maxMemory)))
    spark.stop()
    Json.write(new File(s"$run/result.json"), out)
  }

  private[servicebench] def jmap(kv: (String, Object)*): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** CPU time this JVM has used, all threads (ns). */
  private def processCpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** The machine-wide `cpu` line of /proc/stat (jiffies), empty if unreadable. */
  private def cpuStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Array.empty }

  /** Share of CPU time the hypervisor stole between two readings (the
    * 8th field), or -1 when /proc/stat is unavailable. */
  private def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val total = (0 until 8).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }

  /** Parquet part files under the warehouse (stats manifests included). */
  private def partFiles(d: File): Long = {
    val cs = d.listFiles()
    if (cs == null) 0L
    else cs.map(c => if (c.isDirectory) partFiles(c)
      else if (c.getName.endsWith(".parquet")) 1L else 0L).sum
  }
}

/** Per-tick inputs the benchmark delivers before the engine ticks:
  * drop-folder files (etl_load), and a fresh curation stage area plus one
  * bloom arrival batch (etl_load and curation). Copies only; the batches
  * come from gen.py.
  */
final class TickInputs(run: String, workload: String, batches: Int) {
  private def clear(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
  private def copyInto(src: Path, dstDir: Path, name: String): Unit = {
    Files.createDirectories(dstDir)
    Files.copy(src, dstDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }
  private val reset = Seq("cur_clean", "cur_keep", "cur_cleaned", "cur_manifest",
    "bl_hist", "bl_seen", "bl_bloom", "bl_admitted")

  private def drops(tick: Int, batch: Int): Unit = {
    val b = Paths.get(run, "drops", s"b$batch")
    val csv = Paths.get(run, "drop", "csv")
    if (tick == 0) {
      Files.createDirectories(csv)
      Files.write(csv.resolve("mapping.csv"),
        "quelle,ziel\nBestellNr,bestell_nr\nKundenNr,kunden_nr\nBetrag,betrag\nDatum,datum\n".getBytes)
    }
    copyInto(b.resolve("bestellungen.csv"), csv.resolve("Insert"), "bestellungen.csv")
    copyInto(b.resolve("ereignisse.jsonl"), Paths.get(run, "drop", "jsonl", "Insert"), "ereignisse.jsonl")
  }

  // The stage steps append, so every epoch starts from empty stage
  // tables and stream state and does the same work.
  private def curation(tick: Int, batch: Int): Unit = {
    val wh = Paths.get(run, "warehouse")
    reset.foreach { t => clear(wh.resolve(t)); clear(wh.resolve(t + "__stats")) }
    clear(Paths.get(run, "stream", "ckpt"))
    val in = Paths.get(run, "stream", "in")
    clear(in)
    copyInto(Paths.get(run, "arrivals", s"b$batch", "part-0.parquet"), in, s"arrival-$tick.parquet")
  }

  def before(tick: Int, batch: Int): Unit = workload match {
    case "etl_load" => drops(tick, batch); curation(tick, batch)
    case "curation" => curation(tick, batch)
    case _ => ()
  }
}

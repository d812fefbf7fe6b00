package servicebench

import java.io.File
import java.time.Instant
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import ServiceBench.jmap

/** Spans around the public calls the benchmark makes: name, start, end,
  * parent span, and workflow run id where one applies. Kept in memory
  * and written out when the run ends. Times are epoch microseconds.
  */
final class Spans {
  private final case class Span(id: Int, name: String, parent: Option[Int],
      wfRun: Option[Long], start: Long, var end: Long = -1L)
  private val all = mutable.ArrayBuffer.empty[Span]
  private val lastDur = mutable.Map.empty[String, Long]

  private def now(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def open(name: String, parent: Option[Int], wfRun: Option[Long], start: Long = -1L): Int =
    synchronized {
      val s = Span(all.size, name, parent, wfRun, if (start < 0) now() else start)
      all += s
      s.id
    }

  def close(id: Int): Long = synchronized {
    val s = all(id)
    s.end = now()
    lastDur(s.name) = s.end - s.start
    s.end
  }

  def startOf(id: Int): Long = synchronized(all(id).start)
  def last(name: String): Long = synchronized(lastDur.getOrElse(name, -1L))

  def timed[A](name: String, parent: Option[Int])(f: => A): A = {
    val id = open(name, parent, None)
    try f finally close(id)
  }

  def toJson: JList[Object] = synchronized {
    val l = new JList[Object]()
    all.foreach(s => l.add(jmap("id" -> Int.box(s.id), "name" -> s.name,
      "parent" -> s.parent.map(p => Int.box(p): Object).orNull,
      "wf_run" -> s.wfRun.map(r => Long.box(r): Object).orNull,
      "start_us" -> Long.box(s.start), "end_us" -> Long.box(s.end))))
    l
  }
}

/** Spark's public listeners, registered from the benchmark: job
  * intervals, per-task metrics and streaming progress. Nothing inside
  * the engine is instrumented. Streaming progress arrives as
  * `StreamingQueryListener` events on the context's listener bus
  * (`onOtherEvent`), so queries the engine starts on cloned sessions
  * count too; a listener on `spark.streams` would see only this
  * session's queries.
  */
final class Listeners(spark: SparkSession) {
  private val jobs = mutable.Map.empty[Int, (Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Array[Long]]
  private val progress = mutable.ArrayBuffer.empty[JMap[String, Object]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = (e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val s = jobs.get(e.jobId).map(_._1).getOrElse(e.time)
      jobs(e.jobId) = (s, e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progressed(p.progress)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += Array(e.taskInfo.finishTime, m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      }
    }
  }
  private def progressed(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val commit = p.stateOperators.map(_.commitTimeMs).sum
    val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    synchronized {
      progress += jmap("time" -> p.timestamp, "batch" -> Long.box(p.batchId),
        "input_rows" -> Long.box(p.numInputRows), "trigger_ms" -> Long.box(trigger),
        "state_commit_ms" -> Long.box(commit))
    }
  }
  spark.sparkContext.addSparkListener(sparkListener)

  /** Drain the async listener bus before reading. */
  def flush(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  def toJson: JMap[String, Object] = synchronized {
    val j = new JList[Object]()
    jobs.toSeq.sortBy(_._1).foreach { case (id, (s, e)) =>
      j.add(jmap("id" -> Int.box(id), "start_ms" -> Long.box(s), "end_ms" -> Long.box(e))) }
    val t = new JList[Object]()
    tasks.foreach(a => t.add(new JList[Object](java.util.Arrays.asList(a.map(Long.box): _*))))
    val p = new JList[Object]()
    progress.foreach(p.add)
    jmap("jobs" -> j, "tasks" -> t, "progress" -> p,
      "task_fields" -> "finish_ms,run_ms,input_bytes,shuffle_write_bytes,spill_bytes,bytes_written")
  }
}

object Json {
  def write(f: File, v: Object): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(f, v)
}

package graft.util

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Job-description labels for multi-action lifecycle bodies (guide §1.5):
  * the streaming/workflow operators run a dozen Spark jobs per step or
  * micro-batch, and with every job inheriting the stream's call site the
  * UI (and the GateProbe listener) cannot say which phase the wall went
  * to. `setJobDescription` is thread-local, so labeling inside a
  * foreachBatch body or a workflow step labels exactly that phase's jobs.
  */
object Jobs {
  def labeled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  private val GroupKey = "spark.jobGroup.id"
  private val DrainGroup = "graft-trace-drain"

  /** Run `body` with its jobs in job group `group` (this thread only);
    * the thread's previous group, if any, is restored afterwards.
    */
  def grouped[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, group)
    try body finally sc.setLocalProperty(GroupKey, prev)
  }

  /** One job as the listener bus reported it; `end` is -1 until it ends.
    * `stages` is the job's stage anatomy, `name:numTasks` per stage: the
    * leaf stage's name is the operator that submitted the job (broadcast
    * build, shuffle map, write, collect), which a stream-level call site
    * hides.
    */
  final case class Job(id: Int, start: Long, end: Long, desc: String, site: String,
      stages: String)

  /** The engine's one job/task listener: the jobs started after it was
    * created (only those in job group `group` when one is given) and the
    * task count, executor run time and shuffle bytes of their stages.
    *
    * The listener bus is asynchronous, so read it after [[drain]]: that
    * runs a one-task sentinel job in a job group of its own and waits for
    * the sentinel's start. The DAG scheduler posts every earlier job-end
    * and task-end to the FIFO bus before the sentinel's job-start, so
    * after `drain` the counts are exact for every job that has returned.
    */
  final class Trace private (spark: SparkSession, group: Option[String]) {
    private val sentinel = s"$DrainGroup-${java.util.UUID.randomUUID()}"
    private val drains = new AtomicInteger
    private val pending = new ConcurrentHashMap[String, CountDownLatch]
    private val byId = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val nTasks = new AtomicLong
    private val runMs = new AtomicLong
    private val shufWrite = new AtomicLong
    private val shufRead = new AtomicLong
    // short call site per running SQL execution: AQE stage, broadcast
    // and result jobs are submitted from Spark's own threads, where the
    // job's own site is a thread-pool frame
    private val sqlSites = new ConcurrentHashMap[Long, String]

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val g = prop(GroupKey)
        // every trace's sentinels stay out of every trace's counts
        if (g.exists(_.startsWith(DrainGroup)))
          g.flatMap(k => Option(pending.get(k))).foreach(_.countDown())
        else if (group.forall(g.contains)) {
          e.stageIds.foreach(stages.add)
          val anatomy = e.stageInfos.map(s => s"${s.name.takeWhile(_ != '(').trim}:${s.numTasks}")
          // Spark 4 leaves `callSite.short` unset on most jobs; a job of a
          // SQL execution takes the execution's site, any other job its
          // result stage's name (created last, highest id), the same site
          val site = prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id.toLong)))
            .orElse(prop("callSite.short"))
            .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
          byId.synchronized {
            byId(e.jobId) = Job(e.jobId, e.time, -1L, prop("spark.job.description").getOrElse(""),
              site, anatomy.mkString("+"))
          }
        }
      }

      override def onJobEnd(e: SparkListenerJobEnd): Unit = byId.synchronized {
        byId.get(e.jobId).foreach(j => byId(e.jobId) = j.copy(end = e.time))
      }

      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId, shortSite(s.details).getOrElse(s.description)); ()
        case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId); ()
        case _ => ()
      }

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stages.contains(e.stageId)) {
          nTasks.incrementAndGet()
          runMs.addAndGet(m.executorRunTime)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    /** Wait until the bus has delivered every event posted before now. */
    def drain(): this.type = {
      val g = s"$sentinel-${drains.incrementAndGet()}"
      val arrived = new CountDownLatch(1)
      pending.put(g, arrived)
      try {
        grouped(spark, g)(spark.sparkContext.parallelize(Seq(0), 1).count())
        require(arrived.await(60, TimeUnit.SECONDS), "drain: the sentinel job never reported")
      } finally pending.remove(g)
      this
    }

    /** Forget everything recorded so far; [[drain]] first, or events of
      * jobs that already returned can still land after the reset.
      */
    def reset(): Unit = {
      byId.synchronized(byId.clear())
      stages.clear()
      Seq(nTasks, runMs, shufWrite, shufRead).foreach(_.set(0L))
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)

    /** Recorded jobs in start order. */
    def jobs: Vector[Job] = byId.synchronized(byId.values.toVector).sortBy(_.start)
    def tasks: Long = nTasks.get
    def taskMs: Long = runMs.get
    def shuffleWriteBytes: Long = shufWrite.get
    def shuffleReadBytes: Long = shufRead.get

    /** Milliseconds covered by at least one ended job (jobs can overlap). */
    def coveredMs: Long = {
      var covered = 0L
      var curS = -1L
      var curE = -1L
      jobs.filter(_.end >= 0).foreach { j =>
        val (s, e) = (j.start, j.end)
        if (curE < 0) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { covered += curE - curS; curS = s; curE = e }
      }
      if (curE >= 0) covered + curE - curS else covered
    }
  }

  /** Spark's short call site (`collect at Foo.scala:12`) from the long
    * form an SQL execution records: its first frame is the last Spark
    * method, its second the first user frame. The execution's
    * description is the short site only when no job description is set.
    */
  private def shortSite(longForm: String): Option[String] =
    longForm.split("\n") match {
      case Array(sparkFrame, userFrame, _*) =>
        val method = sparkFrame.takeWhile(_ != '(').split('.').last
        val at = userFrame.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
        if (method.nonEmpty && at.nonEmpty) Some(s"$method at $at") else None
      case _ => None
    }

  object Trace {
    /** Add a trace to `spark`'s listener bus; `close` removes it. A new
      * listener also receives the events still queued on the bus, so the
      * trace drains and resets once: earlier jobs stay out.
      */
    def apply(spark: SparkSession, group: Option[String] = None): Trace = {
      val t = new Trace(spark, group)
      t.drain().reset()
      t
    }
  }
}

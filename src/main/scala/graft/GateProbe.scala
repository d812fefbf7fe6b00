package graft

import graft.util.Jobs

/** Per-gate forensic probe (r15 optimization round): run ONE registered
  * query end to end with a job listener and print where the wall went —
  * per-job wall keyed by call site, plus the driver-side gap (wall not
  * covered by any running job: planning, footer probes, file moves,
  * checkpoint bookkeeping). The bench medians say WHICH gates are
  * expensive; this says WHY, without the Spark UI (disabled in the
  * sandbox).
  *
  * Usage: GATE_PROBE=q130_neardup_pruned_streaming[,q96_...] \
  *   java ... graft.GateProbe   (env SPARK_GRAFT_SF_DIR, default sf0.1;
  *   REPS via GATE_PROBE_REPS, default 2 — rep 1 is warm-up, the last
  *   rep is the reported one). GATE_PROBE_PLANS=<dir> also writes each
  *   gate's `explain("formatted")`, taken before its last rep executes,
  *   to `<dir>/<gate>.txt` (the plan evidence in plans/rNN). Building the
  *   DataFrame of a lifecycle gate runs its workflow, so the dumped plan
  *   is the gate's RESULT read.
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val raw = sys.env.getOrElse("GATE_PROBE", "q130_neardup_pruned_streaming")
    val compact = raw == "ALL"
    val names =
      if (compact) SparkEntry.queries.keys.toArray.sorted
      else raw.split(',').map(_.trim).filter(_.nonEmpty)
    val reps = sys.env.get("GATE_PROBE_REPS").flatMap(_.toIntOption).getOrElse(2)
    val plans = sys.env.get("GATE_PROBE_PLANS").map(java.nio.file.Paths.get(_))
    plans.foreach(java.nio.file.Files.createDirectories(_))
    val spark = Sessions.local()
    // contention-robust structural metrics ride along: bytes don't
    // inflate under a busy box the way wall does
    val trace = Jobs.Trace(spark)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        // settle the previous rep's events first, or a warm-up rep's late
        // job or task end lands in the reported rep
        trace.drain().reset()
        spark.catalog.clearCache()
        graft.operators.BookCache.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = System.nanoTime()
        if (rep == reps) plans.foreach { dir =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val out = dir.resolve(s"$name.txt")
          java.nio.file.Files.writeString(out, txt)
          println(s"wrote $out (${txt.length} chars)")
        }
        // the plan dump stays out of the wall
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val wallMs = (built - t0 + System.nanoTime() - t1) / 1e6
        spark.catalog.clearCache()
        graft.operators.BookCache.clear()
        // sweep only after the gate's last rep (q20 memoizes its
        // warehouse per session+dir and re-reads it on later reps)
        if (rep == reps) {
          graft.util.TempDirs.sweep()
          report(name, rep, wallMs, trace.drain(), compact)
        }
      }
    }
    trace.close()
    spark.stop()
  }

  private def report(name: String, rep: Int, wallMs: Double, trace: Jobs.Trace,
      compact: Boolean): Unit = {
    val js = trace.jobs
    val covered = trace.coveredMs
    if (compact) {
      println(f"GATE $name%-42s wall=${wallMs / 1000}%6.2f jobs=${js.size}%3d " +
        f"covered=${covered / 1e3}%6.2f gap=${(wallMs - covered) / 1e3}%6.2f " +
        f"tasks=${trace.tasks}%4d taskSec=${trace.taskMs / 1e3}%7.2f " +
        f"shufW=${trace.shuffleWriteBytes / 1048576.0}%8.2fMiB " +
        f"shufR=${trace.shuffleReadBytes / 1048576.0}%8.2fMiB")
      return
    }
    val done = js.filter(_.end > 0)
    println(f"== $name rep$rep wall=${wallMs / 1000}%.2fs jobs=${js.size} " +
      f"job-covered=${covered / 1e3}%.2fs driver-gap=${(wallMs - covered) / 1e3}%.2fs " +
      f"tasks=${trace.tasks} taskSec=${trace.taskMs / 1e3}%.2f " +
      f"shufW=${trace.shuffleWriteBytes / 1048576.0}%.2fMiB " +
      f"shufR=${trace.shuffleReadBytes / 1048576.0}%.2fMiB")
    val detail = sys.env.contains("GATE_PROBE_SITES")
    val bySite = done.groupBy(j =>
      if (j.desc.startsWith("nd-admit") || j.desc.startsWith("phase:"))
        (if (detail) j.desc.linesIterator.next() + " @ " + j.site
         else j.desc.linesIterator.next())
      else j.site)
      .map { case (k, v) => (k, v.map(j => j.end - j.start).sum, v.size) }
      .toSeq.sortBy(-_._2)
    bySite.take(30).foreach { case (k, ms, n) =>
      println(f"   ${ms / 1e3}%7.2fs  n=$n%-4d $k")
    }
    // full per-job dump (GATE_PROBE_JOBS=1): id, duration, desc,
    // stage anatomy — the job-level forensics the grouped view hides
    if (sys.env.contains("GATE_PROBE_JOBS")) done.foreach { j =>
      println(f"   job ${j.id}%3d ${(j.end - j.start) / 1e3}%6.2fs " +
        f"[${j.desc.linesIterator.toSeq.headOption.getOrElse("")}] ${j.stages}")
    }
    // driver-gap attribution: the widest gaps between consecutive
    // jobs, labeled by the job that FOLLOWS the gap (its planning/
    // listing/footer work is what filled it)
    val gaps = done.sliding(2).collect { case Seq(a, b)
      if b.start > a.end => (b.start - a.end, b.site) }.toSeq
    println("   -- widest driver gaps (ms before job at site) --")
    gaps.sortBy(-_._1).take(12).foreach { case (ms, s) =>
      println(f"   gap ${ms}%5d ms -> $s")
    }
  }
}

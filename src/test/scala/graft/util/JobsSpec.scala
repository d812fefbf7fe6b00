package graft.util

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkSupport

/** [[Jobs.Trace]] reads the async listener bus exactly after `drain`,
  * with no sleep: each check repeats 20 times in a row, so a drain that
  * returned before the bus delivered would show up as a miscount.
  */
class JobsSpec extends AnyFunSuite with SparkSupport {

  private val Repeats = 20

  private def traced[A](group: Option[String])(body: Jobs.Trace => A): A = {
    val trace = Jobs.Trace(spark, group)
    try body(trace) finally trace.close()
  }

  test("a trace counts exactly the jobs of a labelled body, and its tasks") {
    val sc = spark.sparkContext
    sc.parallelize(1 to 10, 3).count()
    traced(None) { trace =>
      assert(trace.drain().jobs.isEmpty && trace.tasks == 0L, "a job before the trace leaked in")
      (1 to Repeats).foreach { round =>
        trace.reset()
        val n = 1 + round % 4
        Jobs.labeled(spark, s"round $round") {
          (1 to n).foreach(_ => sc.parallelize(1 to 10, 2).count())
        }
        val jobs = trace.drain().jobs
        assert(jobs.size == n, s"round $round: ${jobs.map(_.desc)}")
        assert(jobs.forall(j => j.desc == s"round $round" && j.end >= j.start))
        assert(jobs.forall(_.site.startsWith("count at JobsSpec.scala:")), jobs.map(_.site))
        assert(trace.tasks == 2L * n)
        assert(trace.coveredMs >= 0L)
      }
    }
  }

  test("a groupBy writes shuffle bytes, a narrow count writes none") {
    val sc = spark.sparkContext
    traced(None) { trace =>
      (1 to Repeats).foreach { round =>
        trace.reset()
        sc.parallelize(1 to 100, 4).count()
        assert(trace.drain().shuffleWriteBytes == 0L, s"round $round")
        assert(trace.tasks == 4L && trace.shuffleReadBytes == 0L)
        trace.reset()
        spark.range(1000).groupBy(col("id") % 10).count().collect()
        assert(trace.drain().shuffleWriteBytes > 0L, s"round $round")
        assert(trace.shuffleReadBytes > 0L)
      }
    }
  }

  test("jobs Spark submits from its own threads take the query's call site") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    traced(None) { trace =>
      (1 to Repeats).foreach { round =>
        trace.reset()
        // AQE runs the shuffle stage and the result stage as jobs of its own,
        // submitted from a Spark thread pool; a label does not hide the site
        spark.range(1000).groupBy(col("id") % 10).count().collect()
        Jobs.labeled(spark, s"round $round") {
          spark.range(1000).groupBy(col("id") % 7).count().collect()
        }
        val jobs = trace.drain().jobs
        assert(jobs.size >= 4, s"round $round: ${jobs.map(_.site)}")
        assert(jobs.forall(_.site.startsWith("collect at JobsSpec.scala:")), jobs.map(_.site))
      }
    }
  }

  test("jobs outside the trace's group are not counted, nor are drain sentinels") {
    val sc = spark.sparkContext
    traced(Some("jobs-spec-in")) { trace =>
      (1 to Repeats).foreach { round =>
        trace.reset()
        sc.parallelize(1 to 10, 3).count()
        Jobs.grouped(spark, "jobs-spec-out")(sc.parallelize(1 to 10, 5).count())
        Jobs.grouped(spark, "jobs-spec-in") {
          sc.parallelize(1 to 10, 2).count()
          // a nested drain restores the group it ran in
          trace.drain()
          assert(sc.getLocalProperty("spark.jobGroup.id") == "jobs-spec-in")
        }
        val other = new Thread(() => { sc.parallelize(1 to 10, 7).count(); () })
        other.start(); other.join()
        assert(trace.drain().jobs.size == 1, s"round $round")
        assert(trace.tasks == 2L)
      }
    }
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** [[Harness]]'s job-group census and query-name resolution. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val name = "q1_agg"
  lazy val fn = SparkEntry.queries(name)

  /** `f` with a fresh [[Harness.JobGroups]], removed afterwards. */
  def withGroups[A](f: Harness.JobGroups => A): A = {
    val groups = new Harness.JobGroups(spark.sparkContext)
    try f(groups) finally groups.close()
  }

  test("census counts of a run equal what a plain listener sees of it after a drain") {
    assert(spark.streams.active.isEmpty, "a running stream would add jobs")
    fn(spark, TestSpark.sf).count() // staging and codegen happen untimed
    val jobs, stages, tasks, taskMs = new AtomicLong
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
      }
    }
    withGroups { groups =>
      spark.sparkContext.addSparkListener(plain)
      val run = try Harness.measure(groups, "spec-plain")(fn(spark, TestSpark.sf))
      finally {
        GraftBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(plain)
      }
      assert(run.counts.jobs > 0)
      assert(run.counts === Harness.Counts(
        jobs.get, stages.get, tasks.get, taskMs.get))
      assert(run.conSeconds <= run.seconds)
    }
  }

  test("a job run concurrently in another job group is not counted; two runs count the same") {
    fn(spark, TestSpark.sf).count()
    withGroups { groups =>
      val solo = Harness.measure(groups, "spec-solo")(fn(spark, TestSpark.sf))
      val again = Harness.measure(groups, "spec-again")(fn(spark, TestSpark.sf))
      assert(again.counts.copy(taskMs = 0) === solo.counts.copy(taskMs = 0))

      // another thread keeps running jobs in its own group for the whole
      // of the measured run
      val started = new CountDownLatch(1)
      val stop = new AtomicBoolean(false)
      val other = new Thread(() => groups.run("spec-other") {
        while (!stop.get) {
          spark.range(0L, 200000L, 1L, 4).selectExpr("sum(id)").collect()
          started.countDown()
        }
      })
      other.start()
      val busy = try {
        assert(started.await(120, TimeUnit.SECONDS), "the other group ran no job")
        Harness.measure(groups, "spec-busy")(fn(spark, TestSpark.sf))
      } finally { stop.set(true); other.join() }
      assert(groups("spec-other").jobs > 0)
      assert(busy.counts.copy(taskMs = 0) === solo.counts.copy(taskMs = 0))
    }
  }

  test("resolve rejects an unknown name and lists the valid ones") {
    assert(Harness.resolve(s" $name ,q10_rollup").map(_._1) ===
      Seq(name, "q10_rollup"))
    assert(Harness.resolve("all").map(_._1) === SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](Harness.resolve(s"$name,no_such_query"))
    assert(e.getMessage.contains("unknown query no_such_query"))
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains))
  }
}

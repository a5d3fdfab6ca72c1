package graft

import org.apache.spark.sql.SparkSession

/** One-pass census over the whole catalog: per query, steady wall (2nd
  * run), AQE job/stage/task counts and summed executor task time — the
  * data that separates job-barrier-bound queries (optimize: fewer
  * exchanges/checkpoints) from compute-bound ones (optimize: the
  * operator). Bench methodology (warmup catalog at smallest fixture,
  * footer caching untimed, shuffle.partitions = cpus).
  *
  *   sbt "runMain graft.JobCensus /root/testdata/sf0.1" > census.txt
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          nStages.incrementAndGet()
          nTasks.addAndGet(s.stageInfo.numTasks.toLong)
          taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        }
      })
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    qs.foreach { case (name, fn) =>
      try fn(spark, warmDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    try Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    catch { case _: Throwable => () }
    // cold pass (stages sfDir's staged tables, untimed here)
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] cold $name failed: ${e.getMessage}")
      }
    }
    println(f"${"query"}%-32s ${"wall"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskSec"}%8s")
    qs.foreach { case (name, fn) =>
      Seq(nJobs, nStages, nTasks, taskMs).foreach(_.set(0L))
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(120)
      println(f"$name%-32s $dt%7.3f ${nJobs.get}%5d ${nStages.get}%6d " +
        f"${nTasks.get}%6d ${taskMs.get / 1000.0}%8.2f" +
        (if (ok) "" else "  FAILED"))
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Time a handful of registered queries standalone — the fast A/B loop for
  * optimization work (the full Bench is ~11 min; this is seconds).
  * Methodology mirrors Bench: local[$SPARK_GRAFT_CPUS] (default 32),
  * shuffle.partitions = cpus, one untimed warmup run of each query at the
  * smallest fixture (janino/JIT), then N timed runs at the target fixture
  * with per-run seconds printed (min = steady-state, like Bench's
  * min-of-passes).
  *
  *   sbt "runMain graft.MicroBench q34_pagerank,x7q_incr_pagerank 3 /root/testdata/sf0.1"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MicroBench <q1,q2,...> [runs=3] [sfDir]")
    val names = args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    // untimed warmup at the smallest fixture (codegen/JIT, not data)
    fns.foreach { case (name, fn) =>
      try fn(spark, warmDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    // footer caching for the benched fixture stays untimed (Bench parity)
    try Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    catch { case _: Throwable => () }
    try Bench.calibrate(spark) catch { case _: Throwable => () } // JIT the kernel
    // stage/task accounting: jobs+stages+tasks and summed task wall per
    // timed run — decomposes "scheduling overhead" vs "executor compute"
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          nStages.incrementAndGet()
          nTasks.addAndGet(s.stageInfo.numTasks.toLong)
          taskMs.addAndGet(
            s.stageInfo.taskMetrics.executorRunTime)
          stageLog.add(f"${s.stageInfo.taskMetrics.executorRunTime / 1000.0}%.2fs" +
            s" x${s.stageInfo.numTasks} " +
            s.stageInfo.rddInfos.sortBy(_.id).map(_.name).mkString(">").take(200))
        }
      })
    fns.foreach { case (name, fn) =>
      val cal0 = Bench.calibrate(spark)
      var last = ""
      var lastCon = 0.0
      val times = (1 to runs).map { _ =>
        Seq(nJobs, nStages, nTasks, taskMs).foreach(_.set(0L))
        stageLog.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tCon = (System.nanoTime() - t0) / 1e9
        df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        lastCon = tCon
        Thread.sleep(150) // let the listener bus drain (private API)
        last = f"con=$lastCon%.3f jobs=${nJobs.get} stages=${nStages.get} " +
          s"tasks=${nTasks.get} taskSec=${taskMs.get / 1000.0}"
        dt
      }
      val cal1 = Bench.calibrate(spark)
      println(f"[micro] $name%-28s min=${times.min}%.3f  cal=[$cal0%.2f,$cal1%.2f]  last[$last]  runs=" +
        times.map(t => f"$t%.3f").mkString(","))
      if (sys.env.contains("MICRO_STAGES")) {
        import scala.jdk.CollectionConverters._
        stageLog.asScala.toSeq.sortBy(l => -l.takeWhile(_ != 's').toDouble)
          .take(10).foreach(l => println(s"  [stage] $l"))
      }
    }
    spark.stop()
  }
}

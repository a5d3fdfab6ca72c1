package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters of the Spark work done under one job group. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  /** [start, end] epoch-ms interval of every job of the group. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of `[t0, t1]` during which at least one job ran. */
  def jobCoveredMs(t0: Long, t1: Long): Long = {
    val clipped = jobSpans.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered, end = 0L
    var start = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end || start == Long.MinValue) {
        if (start != Long.MinValue) covered += end - start
        start = a; end = b
      } else end = math.max(end, b)
    }
    if (start != Long.MinValue) covered += end - start
    covered
  }
}

/** A span the benchmark recorded around one call into a layer. Its Spark
  * jobs are the ones run under `group`; its wall clock is epoch ms so it
  * lines up with the listener's job start and end stamps. */
final case class Span(layer: String, name: String, group: String,
    t0Ms: Long, t1Ms: Long, wallNs: Long)

/** The traced run's recorder. The benchmark wraps each call it makes into
  * a layer in [[span]], which runs the call under a job group of its own;
  * the listener attributes every job, stage and task to that group. Spans
  * and counters stay in memory until the run ends; [[drain]] then waits
  * for the listener bus to deliver every event before the counters are
  * read. */
final class Trace(sc: SparkContext) extends SparkListener {
  // SparkContext's own local-property keys (package-private constants)
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val InterruptKey = "spark.job.interruptOnCancel"
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var listenerNs = 0L
  private var seq = 0L

  sc.addSparkListener(this)

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally listenerNs += System.nanoTime() - t0
  }

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElseUpdate(group, new GroupStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(GroupKey))).getOrElse("")
    synchronized {
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      stats(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized {
      jobGroup.remove(e.jobId).foreach { case (g, t0) =>
        stats(g).jobSpans += ((t0, e.time))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    synchronized {
      stats(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    synchronized {
      val s = stats(stageGroup.getOrElse(e.stageId, ""))
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `f` as one span of `layer`, its Spark jobs under a fresh job
    * group; the thread's previous job group is restored afterwards (a
    * streaming query cancels its batch's jobs through its own group). */
  def span[A](layer: String, name: String)(f: => A): A = {
    val group = synchronized { seq += 1; s"bench-$seq-$layer" }
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    val prevInterrupt =
      sc.getLocalProperty(InterruptKey)
    sc.setJobGroup(group, s"$layer $name", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val wall = System.nanoTime() - n0
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(GroupKey, prevGroup)
      sc.setLocalProperty(DescKey, prevDesc)
      sc.setLocalProperty(InterruptKey,
        prevInterrupt)
      synchronized { spans += Span(layer, name, group, t0, t1, wall) }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def spansOf(layer: String): Seq[Span] = synchronized {
    spans.filter(_.layer == layer).toSeq
  }

  /** Write one JSON line per span (one per query phase, one per batch):
    * its wall and self time and the Spark work of its job group. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toSeq).map { s =>
      val g = stats(s.group)
      val jobMs = g.jobCoveredMs(s.t0Ms, s.t1Ms)
      f"""{"layer":"${s.layer}","name":"${s.name}","wall_ms":${s.wallNs / 1e6}%.3f,""" +
        f""""self_ms":${s.wallNs / 1e6 - jobMs}%.3f,"job_ms":$jobMs,"jobs":${g.jobs},""" +
        s""""stages":${g.stages},"tasks":${g.tasks},"task_ms":${g.runMs},""" +
        s""""cpu_ms":${g.cpuNs / 1000000},"gc_ms":${g.gcMs},"input_bytes":${g.inputBytes},""" +
        s""""shuffle_read_bytes":${g.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${g.shuffleWriteBytes},"spill_bytes":${g.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

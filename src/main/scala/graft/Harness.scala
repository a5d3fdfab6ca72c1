package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The one session setup of every driver main, and the tool driver over
  * the registered queries. [[Bench]] and [[Verify]] (the driver contract)
  * build their session with [[session]]; the tools are three modes of
  * [[main]], each taking the fixture as a positional argument:
  *
  *   sbt "runMain graft.Harness census q34_pagerank,x7q_incr_pagerank <sf0.1 dir> 3"
  *   sbt "runMain graft.Harness census all <sf0.1 dir>" > census.txt
  *   sbt "runMain graft.Harness plan q7_asof_join <sf0.001 dir>"
  *   sbt "runMain graft.Harness plan all <sf0.001 dir> plans/r19 after"
  *   sbt "runMain graft.Harness audit <sf0.1 dir>"
  *
  * - `census` times queries standalone, the fast A/B loop for
  *   optimization work, with Bench's methodology: an untimed warm pass at
  *   the smallest fixture (codegen/JIT), untimed footer caching and one
  *   untimed cold run at the target fixture (staging), then `runs` timed
  *   `count()` runs. Each run's jobs, stages, tasks and executor run time
  *   are counted under its own job group by [[JobGroups]], which
  *   separates job-barrier-bound queries (fewer exchanges and
  *   checkpoints) from compute-bound ones (the operator). One line per
  *   query: min and per-run seconds, construction seconds and counts of
  *   the last run, and the calibration kernel before and after.
  * - `plan` executes each query (`collect()`, so AQE finalizes join
  *   strategies and partition counts) and prints three sections: the
  *   formatted plan, the finalized adaptive plan and the post-execution
  *   operator metrics. Given `outDir suffix`, it writes them to
  *   `<outDir>/<name>_<suffix>.txt` instead, the per-query evidence
  *   files of an optimization round.
  * - `audit` is one pass over the catalog: per query, PLANS.md's
  *   node-count row from the initial `executedPlan` (shapes, not runtime
  *   partition counts; counts are substring occurrences, so `Exchange`
  *   includes `BroadcastExchange`), then the query is collected and its
  *   finalized plan goes through the unpartitioned-window check
  *   ([[WindowAudit]]) and the estimate-collapse check
  *   ([[CollapseAudit]]). It prints the table, then one verdict line per
  *   query, and exits 1 if any query is flagged or fails.
  */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, no UI, UTC and log level WARN ([[TaskBinaryAudit]] reads
    * the scheduler's WARNs). Idempotent: a second call returns the
    * running session.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up fixture for `sfDir`: `SPARK_GRAFT_WARM_DIR` if set, else
    * the smallest `sf*` sibling of `sfDir` (or `sfDir` itself), so a
    * relocated testdata layout needs no code change.
    */
  def warmDir(sfDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val parent = new java.io.File(sfDir).getAbsoluteFile.getParentFile
      Option(parent).flatMap(p => Option(p.listFiles)).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("sf"))
        .flatMap(f => scala.util.Try(f.getName.drop(2).toDouble).toOption
          .map(_ -> f.getPath))
        .sortBy(_._1).headOption.map(_._2).getOrElse(sfDir)
    })

  type Query = (SparkSession, String) => DataFrame

  /** `all` (every registered query, sorted by name) or a comma-separated
    * list of names, in the order given; an unknown name throws, listing
    * the valid ones.
    */
  def resolve(spec: String): Seq[(String, Query)] =
    if (spec == "all") SparkEntry.queries.toSeq.sortBy(_._1)
    else spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { n =>
      n -> SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(
        s"unknown query $n; valid: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    }

  /** Run an untimed step whose failure must not stop the run: the
    * failure is reported as `[bench] <phase> failed: <msg>` on stderr.
    */
  def warm[A](phase: String)(f: => A): Option[A] =
    try Some(f) catch {
      case e: Throwable =>
        System.err.println(s"[bench] $phase failed: ${e.getMessage}")
        None
    }

  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long)

  /** The session's job-group listener: every job is counted under the
    * job group of the thread that submitted it, and its stages' tasks
    * and executor run time under the same group. The group is a
    * thread-local property, so work another thread runs in another group
    * stays apart. Reading a group's counts first drains the listener
    * bus, so they hold every event posted before the read.
    */
  final class JobGroups(sc: SparkContext) extends SparkListener {
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val counts =
      mutable.HashMap.empty[String, Counts].withDefaultValue(Counts(0, 0, 0, 0))
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
          val c = counts(g)
          counts(g) = c.copy(jobs = c.jobs + 1)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        stageGroup.get(s.stageId).foreach { g =>
          val c = counts(g)
          counts(g) = c.copy(stages = c.stages + 1,
            tasks = c.tasks + s.numTasks,
            taskMs = c.taskMs + s.taskMetrics.executorRunTime)
        }
      }

    /** Run `f` with the calling thread's jobs under `group`. */
    def run[A](group: String)(f: => A): A = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
    }

    def apply(group: String): Counts = {
      GraftBridge.drainListenerBus(sc)
      synchronized(counts(group))
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** One timed run: construction and `count()` wall seconds, and the
    * Spark work of both. */
  final case class Run(seconds: Double, conSeconds: Double, counts: Counts)

  def measure(groups: JobGroups, group: String)(build: => DataFrame): Run = {
    val t0 = System.nanoTime()
    val con = groups.run(group) {
      val df = build
      val con = (System.nanoTime() - t0) / 1e9
      df.count()
      con
    }
    Run((System.nanoTime() - t0) / 1e9, con, groups(group))
  }

  def census(spark: SparkSession, qs: Seq[(String, Query)], sfDir: String,
      runs: Int): Unit = {
    val wd = warmDir(sfDir)
    qs.foreach { case (name, fn) => warm(s"warmup $name")(fn(spark, wd).count()) }
    warm("footer caching")(Tables.names.foreach(t => Tables.load(spark, sfDir, t).count()))
    def cal(): Double = warm("calibration")(Bench.calibrate(spark)).getOrElse(-1.0)
    cal() // the kernel's own codegen/JIT
    val groups = new JobGroups(spark.sparkContext)
    var cal0 = cal()
    qs.foreach { case (name, fn) =>
      warm(s"cold $name")(fn(spark, sfDir).count())
      val result =
        try {
          val rs = (1 to runs).map(i =>
            measure(groups, s"census-$name-$i")(fn(spark, sfDir)))
          val last = rs.last
          val c = last.counts
          f"min=${rs.map(_.seconds).min}%.3f con=${last.conSeconds}%.3f " +
            s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
            f"taskSec=${c.taskMs / 1000.0}%.2f runs=" +
            rs.map(r => f"${r.seconds}%.3f").mkString(",")
        } catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      val cal1 = cal()
      println(f"[census] $name%-28s $result cal=[$cal0%.2f,$cal1%.2f]")
      cal0 = cal1
    }
    groups.close()
  }

  /** The formatted plan, the finalized adaptive plan and the operator
    * metrics of one executed query. */
  def planReport(name: String, sfDir: String, df: DataFrame): String = {
    df.collect() // finalize AQE (count() would execute a different QueryExecution)
    val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val metrics = new StringBuilder
    // walk the adaptive plan, final stages included, and print the
    // interesting counters per node
    def walk(p: SparkPlan, depth: Int): Unit = {
      val m = p.metrics.collect {
        case (k, v) if v.value > 0 &&
          (k.contains("time") || k.contains("duration") ||
            k == "numOutputRows" || k.contains("Bytes") ||
            k.contains("spill")) =>
          s"$k=${v.value}"
      }
      if (m.nonEmpty)
        metrics.append("  " * depth).append(p.nodeName).append(": ")
          .append(m.mkString(" ")).append("\n")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    s"== explain(formatted): $name @ $sfDir ==\n" + formatted +
      "\n\n== finalized adaptive plan (post-execution) ==\n" +
      df.queryExecution.executedPlan +
      "\n\n== operator metrics (post-execution) ==\n" + metrics
  }

  /** PLANS.md's node-count row of one plan string. */
  def planRow(name: String, p: String): String = {
    def c(pat: String) = pat.r.findAllIn(p).size
    val notes = Seq(
      if (p.contains("TakeOrderedAndProject")) "top-k" else "",
      if (p.contains("WindowGroupLimit")) "rank-pushdown" else "",
      if (p.contains("AsOfJoinExec")) "custom-exec" else "",
      if ("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined) "scan-pushdown" else "")
      .filter(_.nonEmpty).mkString(" ")
    s"| $name | ${c("Exchange")} | ${c("CartesianProduct")} | " +
      s"${c("BroadcastNestedLoopJoin")} | ${c("SortMergeJoin")} | " +
      s"${c("BroadcastHashJoin")} | ${c("HashAggregate")} | $notes |"
  }

  /** The audit pass; returns the number of flagged or failed queries. */
  def audit(spark: SparkSession, sfDir: String): Int = {
    println("| query | Exchange | Cartesian | BNLJ | SMJ | BHJ | HashAgg | notes |")
    println("|---|---|---|---|---|---|---|---|")
    val verdicts = resolve("all").map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        println(planRow(name, df.queryExecution.executedPlan.toString))
        df.collect()
        val plan = df.queryExecution.executedPlan
        val gw = WindowAudit.globalWindows(plan)
        val window =
          if (gw.isEmpty) "ok"
          else WindowAudit.justified.get(name).fold(
            s"FLAGGED ${gw.mkString("; ")}")(why => s"allowed ($why)")
        val spans = CollapseAudit.flaggedSpans(plan.toString)
        val collapse =
          if (spans.isEmpty) "ok"
          else if (CollapseAudit.boundedByDesign(name))
            "allowed (bounded by design, see scaladoc)"
          else s"FLAGGED raw-explode broadcast:\n${spans.head}"
        val flagged = (gw.nonEmpty && !WindowAudit.justified.contains(name)) ||
          (spans.nonEmpty && !CollapseAudit.boundedByDesign(name))
        flagged -> s"$name: window $window; collapse $collapse"
      } catch { case e: Throwable => true -> s"$name: error: ${e.getMessage}" }
    }
    println()
    verdicts.foreach(v => println(v._2))
    verdicts.count(_._1)
  }

  private val Usage = "usage: Harness census <q,q|all> <sfDir> [runs=3]" +
    " | plan <q,q|all> <sfDir> [outDir suffix] | audit <sfDir>"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Int = args.toList match {
      case "census" :: qs :: sfDir :: runs if runs.size <= 1 =>
        val named = resolve(qs)
        val n = runs.headOption.fold(3)(_.toInt)
        require(n > 0, Usage)
        spark => { census(spark, named, sfDir, n); 0 }
      case "plan" :: qs :: sfDir :: out if out.isEmpty || out.size == 2 =>
        val named = resolve(qs)
        spark => {
          named.foreach { case (name, fn) =>
            val body = planReport(name, sfDir, fn(spark, sfDir))
            out match {
              case Seq(dir, suffix) =>
                val path = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
                java.nio.file.Files.createDirectories(path.getParent)
                java.nio.file.Files.writeString(path, body)
                System.err.println(s"[plan] wrote $path")
              case _ => println(body)
            }
          }
          0
        }
      case "audit" :: sfDir :: Nil => spark => audit(spark, sfDir)
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = session()
    val flagged = try mode(spark) finally spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

import graft.{SparkEntry, Staged, Tables}
import graft.operators._

/** The `catalog` workload: one client runs `SparkEntry.queries` entries
  * pass after pass and collects each full result, as a user receives it.
  * The first pass at the timed fixture is the cold pass (it runs the
  * `Staged` producer builds); every later pass is a steady one. Every
  * result's row count and digest is checked against the goldens. */
final class CatalogBench(spark: SparkSession, trace: Option[Trace]) {
  import CatalogBench._

  private def run(name: String, dir: String, golden: Option[Golden],
      pass: Int): (Timing, Option[DataFrame]) = {
    val fn = SparkEntry.queries(name)
    def traced[A](layer: String)(f: => A): A =
      trace.fold(f)(_.span(layer, s"$pass/$name")(f))
    val c0 = System.nanoTime()
    try {
      val df = traced("SparkEntry.construct")(fn(spark, dir))
      val c1 = System.nanoTime()
      val rows = traced("SparkEntry.execute")(df.collect())
      val c2 = System.nanoTime()
      val ok = golden.forall(g => g.check(rows, df.columns.toSeq))
      if (!ok) System.err.println(s"[perfbench] $name: wrong result " +
        s"(${rows.length} rows, digest ${digest(rows, df.columns.toSeq)})")
      (Timing(name, c1 - c0, c2 - c1, ok), Some(df))
    } catch {
      // a failed query counts as a failed operation of the run
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        (Timing(name, System.nanoTime() - c0, 0L, ok = false), None)
    }
  }

  /** MB of cached blocks; the `Staged` entries are the only cached data. */
  private def blockMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum /
      (1024.0 * 1024.0)

  /** Runs `names`, in this order, pass after pass; see the class comment. */
  def catalog(names: Seq[String], warmDir: String, dir: String,
      goldens: Map[String, Golden], seconds: Int): Outcome = {
    require(names.forall(goldens.contains),
      s"no golden for ${names.filterNot(goldens.contains).mkString(", ")}")
    // untimed warm-up at the smallest fixture: JIT and codegen
    val warmMs = names.map(n => run(n, warmDir, None, -1)._1.ms)
    val warmBlockMb = blockMb()
    val r0 = System.nanoTime()
    Tables.names.foreach(t => Tables.load(spark, dir, t))
    val resolveMs = (System.nanoTime() - r0) / 1e6
    val setupS = Main.sinceStart()
    def pass(i: Int): Seq[(Timing, Option[DataFrame])] =
      names.map(n => run(n, dir, Some(goldens(n)), i))
    // the timed window is the cold pass plus steady passes until `seconds`
    // have passed since it began, and at least one steady pass; with more
    // than one, a query's steady time is its fastest pass, as graft.Bench
    // takes it
    val deadline = System.nanoTime() + seconds * 1000000000L
    val cold = pass(0)
    val steady = mutable.ArrayBuffer.empty[Seq[(Timing, Option[DataFrame])]]
    while (steady.isEmpty || System.nanoTime() < deadline)
      steady += pass(steady.size + 1)
    val all = (cold +: steady.toSeq).flatten.map(_._1)
    val failed = all.count(!_.ok)
    val coldMs = cold.map(_._1.ms)
    val steadyMs = names.indices.map(i => steady.map(_(i)._1.ms).min)
    val catalogS = steadyMs.sum / 1e3
    names.zipWithIndex.foreach { case (n, i) =>
      System.err.println(f"[perfbench] query $n%-28s warm ${warmMs(i)}%9.1f  cold ${cold(i)._1.ms}%9.1f ms" +
        steady.map(p => f"${p(i)._1.ms}%8.1f").mkString("  steady ", " ", " ms"))
    }
    val layers = trace.fold(Map.empty[String, Double])(t =>
      layerMetrics(t, dir, steady.size, resolveMs, warmBlockMb, steady.toSeq))
    Outcome(all.size, failed, setupS, Map(
      "op_ms_p50" -> pct(steadyMs, 50),
      "lag_ms_p50" -> pct(coldMs, 50),
      "throughput" -> names.size / catalogS),
      Map("queries" -> names.size.toDouble, "steady_passes" -> steady.size.toDouble,
        "catalog_s" -> catalogS, "catalog_cold_s" -> coldMs.sum / 1e3,
        "query_ms_p90" -> pct(steadyMs, 90), "cold_query_ms_p90" -> pct(coldMs, 90)),
      layers)
  }

  private def layerMetrics(t: Trace, dir: String, passes: Int,
      resolveMs: Double, warmBlockMb: Double,
      steady: Seq[Seq[(Timing, Option[DataFrame])]]): Map[String, Double] = {
    t.drain()
    val isSteady = (s: Span) => !s.name.startsWith("-") && !s.name.startsWith("0/")
    val spans = (t.spansOf("SparkEntry.construct") ++ t.spansOf("SparkEntry.execute"))
      .filter(isSteady)
    def query(s: Span) = s.name.substring(s.name.indexOf('/') + 1)
    def sum(ss: Seq[Span])(f: (Span, GroupStats) => Double): Double =
      ss.map(s => f(s, t.stats(s.group))).sum / passes
    val phases = steady.flatten.flatMap(_._2).map(_.queryExecution.tracker.phases)
    def phase(p: String) = phases.flatMap(_.get(p)).map(_.durationMs).sum / 1e3 / passes
    val mb = 1024.0 * 1024.0
    val whole = Map(
      "SparkEntry.construct_s" -> steady.flatten.map(_._1.constructNs).sum / 1e9 / passes,
      "SparkEntry.execute_s" -> steady.flatten.map(_._1.executeNs).sum / 1e9 / passes,
      "SparkEntry.analysis_s" -> phase("analysis"),
      "SparkEntry.optimization_s" -> phase("optimization"),
      "SparkEntry.planning_s" -> phase("planning"),
      "SparkEntry.jobs" -> sum(spans)((_, g) => g.jobs),
      "SparkEntry.stages" -> sum(spans)((_, g) => g.stages),
      "SparkEntry.tasks" -> sum(spans)((_, g) => g.tasks),
      "SparkEntry.driver_gap_s" -> sum(spans)((s, g) =>
        s.wallNs / 1e9 - g.jobCoveredMs(s.t0Ms, s.t1Ms) / 1e3),
      "SparkEntry.task_s" -> sum(spans)((_, g) => g.runMs / 1e3),
      "SparkEntry.task_cpu_s" -> sum(spans)((_, g) => g.cpuNs / 1e9),
      "SparkEntry.gc_s" -> sum(spans)((_, g) => g.gcMs / 1e3),
      "SparkEntry.input_mb" -> sum(spans)((_, g) => g.inputBytes / mb),
      "SparkEntry.shuffle_read_mb" -> sum(spans)((_, g) => g.shuffleReadBytes / mb),
      "SparkEntry.shuffle_write_mb" -> sum(spans)((_, g) => g.shuffleWriteBytes / mb),
      "SparkEntry.spill_mb" -> sum(spans)((_, g) => g.spillBytes / mb),
      "self.SparkEntry_s" -> sum(spans)((s, g) =>
        s.wallNs / 1e9 - g.jobCoveredMs(s.t0Ms, s.t1Ms) / 1e3),
      "self.spark_jobs_s" -> sum(spans)((s, g) => g.jobCoveredMs(s.t0Ms, s.t1Ms) / 1e3),
      "Staged.build_s" -> Staged.timings.filter(_._1.endsWith(":" + dir)).values.sum,
      "Staged.entries" -> Staged.timings.keys.count(_.endsWith(":" + dir)).toDouble,
      "Staged.block_mb" -> (blockMb() - warmBlockMb),
      "Tables.resolve_ms" -> resolveMs)
    val perModule = Modules.flatMap { case (module, keys) =>
      val mine = spans.filter(s => keys.contains(query(s)))
      val wall = steady.flatten.map(_._1).filter(q => keys.contains(q.name))
      Seq(s"$module.wall_s" -> wall.map(_.ms).sum / 1e3 / passes,
        s"$module.jobs" -> sum(mine)((_, g) => g.jobs),
        s"$module.task_s" -> sum(mine)((_, g) => g.runMs / 1e3),
        s"$module.input_mb" -> sum(mine)((_, g) => g.inputBytes / mb))
    }
    whole ++ perModule
  }
}

object CatalogBench {
  private final case class Timing(name: String, constructNs: Long,
      executeNs: Long, ok: Boolean) {
    def ms: Double = (constructNs + executeNs) / 1e6
  }

  /** The ten operator modules, each with its own `queries` map. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.queries.keySet, "Cdc" -> Cdc.queries.keySet,
    "Text" -> Text.queries.keySet, "Vectors" -> Vectors.queries.keySet,
    "Curation" -> Curation.queries.keySet, "Graph" -> Graph.queries.keySet,
    "Mixing" -> Mixing.queries.keySet, "Scrub" -> Scrub.queries.keySet,
    "Partitioning" -> Partitioning.queries.keySet, "Lake" -> Lake.queries.keySet)

  /** Rows-only queries: the oracle gate checks their row count only. */
  val RowsOnly: Set[String] = Set("q9b_approx_distinct", "x3e_cosine_ivf")

  /** A recorded result: its row count and, unless rows-only, its digest. */
  final case class Golden(rows: Long, digest: Option[String]) {
    def check(got: Array[Row], cols: Seq[String]): Boolean =
      got.length == rows && digest.forall(_ == CatalogBench.digest(got, cols))
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case other => other.toString
  }

  /** Run each query once at `dir` and write its row count and digest. */
  def record(spark: SparkSession, names: Seq[String], dir: String,
      out: java.nio.file.Path): Unit = {
    val lines = names.sorted.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val rows = df.collect()
      val d = if (RowsOnly(n)) "null" else "\"" + digest(rows, df.columns.toSeq) + "\""
      s"""  "$n": {"rows": ${rows.length}, "digest": $d}"""
    }
    java.nio.file.Files.writeString(out, lines.mkString("{\n", ",\n", "\n}\n"))
  }

  /** Order-insensitive digest: columns by name, rows sorted. */
  def digest(rows: Array[Row], cols: Seq[String]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }
}

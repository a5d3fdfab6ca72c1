package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one workload run measured. `attempted` counts operations (a query
  * or a micro-batch); `failed` those that failed or returned a wrong
  * result — a wrong final replica fails every batch of the run. */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
    endToEnd: Map[String, Double], info: Map[String, Double],
    layers: Map[String, Double])

/** Entry point of one benchmark run:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --bench <benchmark dir> --work <scratch dir> --traces <span dir>`, or
  * `--selftest 1`.
  * Prints one `PERFBENCH_RESULT <json>` line on stdout. */
object Main {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started: the run's set-up time so far. */
  def sinceStart(): Double = (System.currentTimeMillis() - startMs) / 1e3

  private val mapper = new ObjectMapper()

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not hang on a leftover non-daemon
    // thread, and a finished one must not wait for Spark's
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val bench = Paths.get(opts("bench")).toAbsolutePath
    if (opts.get("selftest").contains("1")) {
      val spark = session(work)
      try SelfTest.run(spark, work)
      finally spark.stop()
      return
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val spec: JsonNode = mapper.readTree(bench.resolve("workloads.json").toFile)
      .get("workloads")
      .get(workload)
    require(spec != null, s"unknown workload $workload")
    val spark = session(work)
    System.err.println(f"[perfbench] session up at ${sinceStart()}%.1f s")
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val out = workload match {
      case "cdc_catchup" =>
        new CdcBench(spark, work, trace).catchup(seed, seconds, CdcBench.CatchupSpec(
          spec.get("snapshot_keys").asInt, spec.get("warm_files").asInt,
          spec.get("backlog_files_per_second").asDouble,
          spec.get("events_per_file").asInt, spec.get("insert_share").asDouble,
          spec.get("delete_share").asDouble, spec.get("duplicate_share").asDouble,
          spec.get("zipf_s").asDouble))
      case "catalog" =>
        val fixtures = bench.resolve("fixtures")
        val names = spec.get("queries").elements.asScala.map(_.asText).toSeq
        val sf = spec.get("sf").asText
        val goldenFile = bench.resolve(s"goldens/$sf.json")
        if (opts.get("record").contains("1")) {
          CatalogBench.record(spark, names, fixtures.resolve(sf).toString, goldenFile)
          spark.stop()
          return
        }
        val goldens = Goldens.load(goldenFile)
        new CatalogBench(spark, trace).catalog(names,
          fixtures.resolve(spec.get("warm_sf").asText).toString,
          fixtures.resolve(sf).toString, goldens, seconds)
    }
    trace.foreach(_.write(Paths.get(opts("traces")).resolve(s"$workload-seed$seed.jsonl")))
    val layers = trace.fold(out.layers) { t =>
      out.layers ++ out.endToEnd.map { case (k, v) => s"trace.$k" -> v } +
        ("trace.listener_ms" -> t.listenerNs / 1e6)
    }
    spark.stop()
    System.err.println(f"[perfbench] stopped at ${sinceStart()}%.1f s")
    System.err.println(s"[perfbench] $workload info ${json(out.info)}")
    println("PERFBENCH_RESULT " +
      s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""setup_s":${out.setupS},"end_to_end":${json(out.endToEnd)},""" +
      s""""per_layer":${json(layers)}}""")
  }
}

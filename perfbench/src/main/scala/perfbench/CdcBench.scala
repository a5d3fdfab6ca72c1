package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Schemas
import graft.operators.Cdc
import graft.sources.{CdcSources, LakeFormat}
import graft.streaming.LakeSink

/** The `cdc_catchup` workload: a replica fed by `LakeSink.applyBatch` from
  * a JSON-lines Debezium envelope stream, exactly as `LakeSink.cdcApply`
  * wires it. Closed loop: set-up loads a snapshot through the sink and
  * writes a backlog; the timed part drains the backlog one file per batch
  * under `Trigger.AvailableNow`. The run ends by comparing the replica's
  * live rows with the generator's model and with `Cdc.snapshot` over the
  * same envelope files. */
final class CdcBench(spark: SparkSession, work: Path, trace: Option[Trace]) {
  import CdcBench._

  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Per batch id: the nanoTime `applyBatch` returned at, its wall time
    * and, traced, the commit version it produced. */
  private val returned = mutable.HashMap.empty[Long, Long]
  private val applyNs = mutable.HashMap.empty[Long, Long]
  private val versionOf = mutable.HashMap.empty[Long, Long]

  /** Drains `in` into the table at `root`, one file per batch, under
    * `Trigger.AvailableNow`. */
  private def stream(in: Path, root: String, appId: String, ck: Path,
      tracer: Option[Trace]): StreamingQuery = {
    spark.readStream.schema(Schemas.envelopeType)
      .option("maxFilesPerTrigger", 1L).json(in.toString)
      .writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
        val t0 = System.nanoTime()
        tracer match {
          case None => LakeSink.applyBatch(batch.toDF, root, appId, id)
          case Some(t) =>
            t.span("LakeSink", s"$appId/$id") {
              LakeSink.applyBatch(batch.toDF, root, appId, id)
            }
        }
        val t1 = System.nanoTime()
        returned.synchronized { returned(id) = t1; applyNs(id) = t1 - t0 }
        tracer.foreach { t =>
          val st = t.span("LakeFormat", "state")(LakeFormat.state(spark, root))
          returned.synchronized { versionOf(id) = st.version }
        }
      }.option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow()).start()
  }

  private def progress(q: StreamingQuery) = {
    val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
    System.err.println("[perfbench] batches (events/ms): " +
      ps.map(p => s"${p.numInputRows}/${p.batchDuration}").mkString(" "))
    ps
  }

  private def checkpointFiles(ck: Path): Map[String, Long] = {
    // the file source's own log: one JSON line per admitted source file,
    // with the batch that admitted it (compacted logs keep the same lines)
    val log = ck.resolve("sources/0")
    Files.list(log).iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map { line =>
        val path = PathRe.findFirstMatchIn(line).get.group(1)
        path.substring(path.lastIndexOf('/') + 1) ->
          BatchRe.findFirstMatchIn(line).get.group(1).toLong
      }.toMap
  }

  /** The replica's live rows against the model and against the batch
    * fold `Cdc.snapshot` over the same envelope files. */
  private def check(root: String, glob: String, gen: Gen): Boolean = {
    def rows(df: DataFrame): Seq[(Long, Img)] =
      df.select(col("id"), col("first_name"), col("last_name"), col("email"))
        .collect().toSeq
        .map(r => r.getLong(0) -> Img(r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_._1)
    val lake = rows(LakeFormat.snapshot(spark, root).filter(col("live")))
    val batch = rows(Cdc.snapshot(CdcSources.jsonChangelog(spark, glob)))
    val model = gen.liveRows
    def report(what: String, a: Seq[(Long, Img)]): Boolean = {
      val ok = a == model
      if (!ok) System.err.println(
        s"[perfbench] $what differs from the model: ${a.size} vs ${model.size} " +
          s"rows, first difference ${a.diff(model).take(3)} / ${model.diff(a).take(3)}")
      ok
    }
    report("lake snapshot", lake) & report("Cdc.snapshot", batch)
  }

  private def layerMetrics(root: String, appId: String, events: Long,
      prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      t: Trace): Map[String, Double] = {
    t.drain()
    val applies = t.spansOf("LakeSink")
    val stats = applies.map(s => s -> t.stats(s.group))
    def perBatch(f: (Span, GroupStats) => Double): Double =
      mean(stats.map { case (s, g) => f(s, g) })
    val hist = LakeFormat.history(spark, root).collect().toSeq
      .filter(_.getAs[String]("txns").contains(appId + "="))
    val st = LakeFormat.state(spark, root)
    val added = hist.map(_.getAs[Long]("added_bytes")).sum.toDouble
    val live = st.files.map(_.bytes).sum.toDouble
    val byVersion = returned.synchronized {
      versionOf.toSeq.map { case (id, v) => v -> applyNs(id) / 1e6 }
    }
    val (ckpt, plain) =
      byVersion.partition(_._1 % LakeFormat.AutoCheckpointInterval == 0)
    val states = t.spansOf("LakeFormat")
    val jobMs = stats.map { case (s, g) => g.jobCoveredMs(s.t0Ms, s.t1Ms) }.sum
    Map(
      "microbatch.overhead_ms_p50" -> pct(prog.map(p =>
        (p.batchDuration - p.durationMs.get("addBatch").longValue).toDouble), 50),
      "LakeSink.apply_ms_p50" -> pct(applies.map(_.wallNs / 1e6), 50),
      "LakeSink.apply_ms_p90" -> pct(applies.map(_.wallNs / 1e6), 90),
      "LakeSink.jobs_per_batch" -> perBatch((_, g) => g.jobs.toDouble),
      "LakeSink.tasks_per_batch" -> perBatch((_, g) => g.tasks.toDouble),
      "LakeSink.driver_ms_per_batch" -> perBatch((s, g) =>
        s.wallNs / 1e6 - g.jobCoveredMs(s.t0Ms, s.t1Ms)),
      "LakeSink.task_cpu_ms_per_batch" -> perBatch((_, g) => g.cpuNs / 1e6),
      "LakeSink.gc_ms_per_batch" -> perBatch((_, g) => g.gcMs.toDouble),
      "LakeFormat.state_ms" -> pct(states.map(_.wallNs / 1e6), 50),
      "LakeFormat.checkpoint_batch_ms" -> pct(ckpt.map(_._2), 50),
      "LakeFormat.plain_batch_ms" -> pct(plain.map(_._2), 50),
      "LakeFormat.files_removed_per_batch" ->
        mean(hist.map(_.getAs[Long]("removed_files").toDouble)),
      "LakeFormat.bytes_added_per_batch" -> mean(hist.map(_.getAs[Long]("added_bytes").toDouble)),
      "LakeFormat.rows_written_per_event" ->
        hist.map(_.getAs[Long]("added_rows")).sum.toDouble / events,
      "LakeFormat.write_amp" -> (if (live > 0) added / live else 0.0),
      "LakeFormat.files_live" -> st.files.size.toDouble,
      "LakeFormat.log_versions" -> (st.version + 1).toDouble,
      "self.microbatch_s" -> (prog.map(_.batchDuration).sum / 1e3 -
        applies.map(_.wallNs).sum / 1e9 - states.map(_.wallNs).sum / 1e9),
      "self.LakeSink_s" -> (applies.map(_.wallNs / 1e6).sum - jobMs) / 1e3,
      "self.LakeFormat_s" -> states.map(s =>
        s.wallNs / 1e6 - t.stats(s.group).jobCoveredMs(s.t0Ms, s.t1Ms)).sum / 1e3,
      "self.spark_jobs_s" -> (jobMs + states.map(s =>
        t.stats(s.group).jobCoveredMs(s.t0Ms, s.t1Ms)).sum) / 1e3)
  }

  /** Closed loop: snapshot load in set-up, then drain the backlog. */
  def catchup(seed: Long, seconds: Int, spec: CatchupSpec): Outcome = {
    val snapDir = dir("catchup/snap")
    val in = dir("catchup/backlog")
    val root = work.resolve("catchup/lake").toString
    val gen = new Gen(seed, Mix(spec.insert, spec.delete, spec.duplicate),
      Zipf(spec.zipf))
    // the snapshot goes through the same sink, in one call
    val ts = System.currentTimeMillis()
    Gen.writeFile(snapDir, "part-000000.json", gen.snapshot(spec.keys, ts))
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeSink.applyBatch(spark.read.schema(Schemas.envelopeType)
      .json(snapDir.toString), root, "snapshot", 0L)
    System.err.println(f"[perfbench] snapshot loaded at ${Main.sinceStart()}%.1f s")
    // untimed JIT warm-up of the whole path (file source, micro-batch
    // planning, foreachBatch, sink) into the same table, under a checkpoint
    // and appId of its own. Its commits also move the timed ones across
    // version 20, where LakeFormat writes its first checkpoint.
    val warmDir = dir("catchup/warm")
    (0 until spec.warmFiles).foreach(i => Gen.writeFile(warmDir, f"part-$i%06d.json",
      Seq.fill(spec.eventsPerFile)(gen.next(System.currentTimeMillis()))))
    stream(warmDir, root, "warm", work.resolve("catchup/warm-ck"), None)
      .awaitTermination()
    returned.clear(); applyNs.clear(); versionOf.clear()
    System.err.println(f"[perfbench] warm-up done at ${Main.sinceStart()}%.1f s")
    val files = math.round(spec.filesPerSecond * seconds).toInt
    (0 until files).foreach(i => Gen.writeFile(in, f"part-$i%06d.json",
      Seq.fill(spec.eventsPerFile)(gen.next(System.currentTimeMillis()))))
    val events = files.toLong * spec.eventsPerFile
    val tableBytes = LakeFormat.state(spark, root).files.map(_.bytes).sum
    val setupS = Main.sinceStart()
    val start = System.nanoTime()
    val q = stream(in, root, "catchup", work.resolve("catchup/ck"), trace)
    q.awaitTermination()
    val end = System.nanoTime()
    val prog = progress(q)
    val batchOf = checkpointFiles(work.resolve("catchup/ck"))
    val lags = (0 until files).flatMap { i =>
      Seq.fill(spec.eventsPerFile)(
        (returned(batchOf(f"part-$i%06d.json")) - start) / 1e6)
    }
    System.err.println(f"[perfbench] drained at ${Main.sinceStart()}%.1f s")
    val ok = check(root, s"${work.resolve("catchup")}/{snap,warm,backlog}/part-*.json", gen)
    System.err.println(f"[perfbench] checked at ${Main.sinceStart()}%.1f s")
    val layers = trace.fold(Map.empty[String, Double])(t =>
      layerMetrics(root, "catchup", events, prog, t))
    Outcome(prog.size, if (ok) 0L else prog.size.toLong, setupS, Map(
      "op_ms_p50" -> pct(prog.map(_.batchDuration.toDouble), 50),
      "lag_ms_p50" -> pct(lags, 50),
      "throughput" -> events / ((end - start) / 1e9)),
      Map("events" -> events.toDouble, "batches" -> prog.size.toDouble,
        "keys" -> gen.keysCreated.toDouble,
        "batch_ms_p90" -> pct(prog.map(_.batchDuration.toDouble), 90),
        "lag_ms_p90" -> pct(lags, 90),
        "backlog_file_bytes" -> Files.size(in.resolve("part-000000.json")).toDouble,
        "table_bytes_at_start" -> tableBytes.toDouble,
        "duplicates" -> gen.duplicates.toDouble,
        "recreates" -> gen.recreates.toDouble),
      layers)
  }
}

object CdcBench {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  final case class CatchupSpec(keys: Int, warmFiles: Int, filesPerSecond: Double,
      eventsPerFile: Int, insert: Double, delete: Double, duplicate: Double,
      zipf: Double)
}

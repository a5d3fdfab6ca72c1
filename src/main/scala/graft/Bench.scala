package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Fixed host-speed probe: a deterministic codegen + shuffle kernel with
   * ZERO dependence on fixture data (pure `range` source), so its wall time
   * measures only machine state — CPU clocks, JIT quality, concurrent load.
   * This host drifts up to ~1.4x across hours on identical code
   * (BASELINE.md r6); emitting the kernel's seconds as `calibration` in the
   * bench JSON lets any reader — and tools/perfdiff.py — normalize a run by
   * its own host speed instead of re-litigating drift forensically.
   * Work is fixed (row count and partition count hardcoded, NOT derived
   * from the session's parallelism) so the value is comparable across runs
   * and configs; ~1.5 s on this host's recorded-baseline state. */
  private val CalRows = 256L * 1000 * 1000
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val groups = spark.range(0L, CalRows, 1L, 32)
      .selectExpr("xxhash64(id) AS h")
      .selectExpr(
        "pmod(h, 4096) AS k",
        "sin(pmod(h, 9973) / 9973.0d) + sqrt(abs(pmod(h, 97))) AS v")
      .groupBy("k").sum("v").count()
    require(groups == 4096L, s"calibration kernel produced $groups groups")
    (System.nanoTime() - t0) / 1e9
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // task-binary budget guard: capture the DAGScheduler's large-binary
    // WARNs, attribute them to the query being timed, and fail the bench
    // on an unjustified or over-budget closure (TaskBinaryAudit)
    TaskBinaryAudit.install()
    // untimed warmup: run the WHOLE catalog once at the smallest fixture
    // so janino compilation + JVM JIT of every query's generated code
    // happen before the timed passes. Generated code depends on plan
    // shape, not data volume, so the timed cold pass at sfDir then
    // measures DATA-PROPORTIONAL work — the staging producer passes and
    // query execution — instead of compiler time (measured: compiler/JIT
    // was ~half the first-pass total at sf0.1, and by far its most
    // machine-state-sensitive part; see BASELINE.md r6). Staging is keyed
    // per (table, sfDir), so every sfDir staged table is still built —
    // and timed — inside the first timed pass; nothing data-sized leaves
    // the measurement window.
    // Warmup fixture: the smallest sf* sibling of sfDir (or an explicit
    // SPARK_GRAFT_WARM_DIR override, Harness.warmDir); the chosen mode is
    // logged so every bench record is self-describing about what its cold
    // pass means.
    val warmDir = Harness.warmDir(sfDir)
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory) {
      System.err.println(s"[bench] warmup=catalog dir=$warmDir")
      // the warmup pass doubles as the unpartitioned-window audit: a query
      // with a NEW global window (outside WindowAudit.justified) FAILS the
      // bench loudly — the known-benign tiny-table warnings can no longer
      // hide an offender. `df.count()` executes its own aggregate's
      // QueryExecution, so the audit reads df's planned (not executed)
      // adaptive plan, the same plan ContractSpec checks at sf0.001
      val winViolations = scala.collection.mutable.ArrayBuffer.empty[String]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        Harness.warm(s"warmup $name") {
          TaskBinaryAudit.setQuery(name)
          val df = fn(spark, warmDir)
          df.count()
          WindowAudit.violation(name, df).foreach(winViolations += _)
        }
      }
      require(winViolations.isEmpty,
        "unpartitioned-window audit failed:\n" + winViolations.mkString("\n"))
    } else {
      System.err.println("[bench] warmup=kernel-only (no smaller fixture)")
      // benching the smallest fixture itself (or it's absent): fall back
      // to warming just the heavy codegen kernels on tiny slices — running
      // the catalog at sfDir would stage sfDir's tables untimed and hide
      // the producer passes from cold_total
      Harness.warm("kernel warmup") {
        SparkEntry.entry(spark).count()
        val e64 = graft.Tables.embeddings(spark, sfDir).limit(64)
        operators.Vectors.cosineTopK(e64, e64, 2).count()
        operators.Vectors.x3dTopKAgg(spark, sfDir).limit(1).count()
        operators.Text.shingles(
          graft.Tables.documents(spark, sfDir).limit(32)).count()
      }
    }
    // footer caching for the benched fixture itself stays untimed too
    Harness.warm("footer caching") {
      graft.Tables.names.foreach(t => graft.Tables.load(spark, sfDir, t).count())
    }
    // Staged intermediates (graft.Staged) are keyed and shared across
    // queries, so checkpoint-block footprint is bounded by the handful of
    // distinct staged tables — no per-query unpersist sweep needed (and
    // sweeping would sever the shared checkpoints).
    // Calibration kernel INTERLEAVED through each pass (one sample before
    // every block of CalEvery queries): the host drifts mid-run (r7's
    // recorded passes were [0.554, 1.047] — a ~2× degradation invisible
    // to pass-boundary-only sampling, which made perfdiff normalize a
    // clean run into a fictitious regression). The per-segment series
    // lets tools/perfdiff.py normalize each query by the host speed at
    // the moment it actually ran. Every kernel run is guarded: a
    // calibration failure records -1 for that sample and must never
    // abort the benchmark (perfdiff falls back to raw comparison).
    val CalEvery = 25
    def safeCal(): Double =
      Harness.warm("calibration")(calibrate(spark)).getOrElse(-1.0)
    def pass(): (Seq[(String, Double)], Seq[Double]) = {
      val cals = scala.collection.mutable.ArrayBuffer.empty[Double]
      val times = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((name, fn), i) =>
          if (i % CalEvery == 0) { TaskBinaryAudit.setQuery(s"(cal)"); cals += safeCal() }
          TaskBinaryAudit.setQuery(name)
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
          }
          // -1 marks a failed query so a regression can't hide as a fast time
          name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      (times, cals.toSeq)
    }
    // Two timed passes; per-query time is the min (steady-state plan cost —
    // single-JVM GC/JIT pauses land on a different query each run and would
    // otherwise dominate the total; spread measured at ±5 s over n=3
    // before this, see BASELINE.md). A failed query stays -1 in both.
    // `cold_total` keeps the first-pass sum (includes one-time staging of
    // the shared changelog/shingle/pair tables) so nothing is hidden.
    // One untimed kernel run first (its own codegen/JIT compile).
    safeCal()
    val (p1, cals1) = pass()
    val (p2raw, cals2) = pass()
    val p2 = p2raw.toMap
    def minPos(xs: Seq[Double]): Double =
      xs.filter(_ > 0) match { case e if e.isEmpty => -1.0; case e => e.min }
    val cal1 = minPos(cals1)
    val cal2 = minPos(cals2)
    val cal = minPos(Seq(cal1, cal2))
    val results = p1.map { case (k, v1) =>
      val v2 = p2.getOrElse(k, -1.0)
      k -> (if (v1 < 0 || v2 < 0) -1.0 else math.min(v1, v2))
    }
    // Locale.ROOT: %.3f under a comma-decimal locale would emit "0,123"
    // and break the driver's JSON parse
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val cold = p1.map(_._2).sum
    // The harness keeps only a bounded tail of this process's output, so
    // the contract line must stay short: per-query detail is limited to the
    // slowest 25 (failures map to MaxValue here AND are explicitly
    // prepended to the headline below, so they always surface); the full
    // per-query map goes to BENCH_FULL.json alongside the repo docs.
    val slowest = results.sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }
      .takeRight(25).sortBy(_._1)
    val failed = results.filter(_._2 < 0).sortBy(_._1)
    val headline = (failed ++ slowest).distinct
    // cold - steady ≈ staging: attribute it per staged table so a staging
    // regression names its culprit (BENCH_FULL only — the stdout contract
    // line stays short). Keys are "name:<dir>" — keep only THIS run's
    // sfDir, else a JVM that previously staged another fixture (e.g. the
    // sf0.001 warmup changelog) pollutes the attribution for the sf being
    // benched.
    val staging = qmap(Staged.timings.toSeq
      .filter(_._1.endsWith(":" + sfDir)).sortBy(_._1))
    // pass-1 per-query times (BENCH_FULL only): when cold_total spikes,
    // this names the query that ate it — staging attribution covers the
    // staged producer passes but not a first-execution anomaly inside a
    // query (one 370 s cold run in r7 was undiagnosable without this)
    val coldQ = qmap(p1.sortBy(_._1))
    // calibration_series: per-pass kernel samples in run order (one per
    // CalEvery-query segment); calibration_passes keeps the per-pass min
    // for continuity with earlier rounds' records. pass2_queries lets
    // perfdiff normalize each pass's raw time by its own segment sample.
    def arr(xs: Seq[Double]): String = xs.map(r3).mkString("[", ",", "]")
    val series = s"[${arr(cals1)},${arr(cals2)}]"
    // task-binary gate: every large-closure WARN captured this run must
    // be justified AND under budget — loudly failing beats tail noise
    val tbViolations = TaskBinaryAudit.violations
    // observed sizes to stderr BEFORE the gate, so a failed run is
    // diagnosable without the JSON it never wrote
    System.err.println("[bench] task_binary_kib=" +
      TaskBinaryAudit.observed.toSeq.sortBy(_._1)
        .map { case (q, k) => f"$q:$k%.0f" }.mkString(","))
    require(tbViolations.isEmpty,
      "task-binary audit failed:\n" + tbViolations.mkString("\n"))
    val taskBinary = qmap(TaskBinaryAudit.observed.toSeq.sortBy(_._1))
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":${qmap(results)},"cold_total":${r3(cold)},"cold_queries":$coldQ,"pass2_queries":${qmap(p2raw.sortBy(_._1))},"staging":$staging,"task_binary_kib":$taskBinary,"calibration":${r3(cal)},"calibration_passes":[${r3(cal1)},${r3(cal2)}],"calibration_series":$series,"calibration_every":$CalEvery,"sf":"$sfDir"}"""
    // Default sink is the GITIGNORED driver-run file: the committed
    // BENCH_FULL.json is the builder's deliberate record (the one
    // BASELINE.md describes) and an automated driver run must not
    // silently clobber it in the working tree. Recording a new committed
    // baseline is an explicit act: SPARK_GRAFT_BENCH_OUT=BENCH_FULL.json.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_FULL_driver.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable =>
      // non-fatal, but a silent failure would leave a STALE file that
      // tools/perfdiff.py diffs against without warning
      System.err.println(s"[bench] $outPath write failed: $e")
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":${qmap(headline)},"cold_total":${r3(cold)},"calibration":${r3(cal)},"calibration_series":$series,"sf":"$sfDir"}""")
    spark.stop()
  }
}

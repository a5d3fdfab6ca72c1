package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFormat

/** Round-15 hardening of [[graft.sources.LakeFormat]]: the lossy-cast
  * pruning hole, size-gated merge broadcast, selective (partition/
  * size-aware) OPTIMIZE, change-feed lineage cuts at long ranges,
  * create-time schema for zero-file tables, and deterministic change-feed
  * tie-breaks — each a scale- or correctness-margin item from the r14
  * review, each pinned here so it can't regress.
  */
class LakeHardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String = {
    val p = Files.createTempDirectory("lake_hard")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("pruning keeps files under lossy literal widenings (long vs double beyond 2^53)") {
    // x = 2^53 + 1: in the DOUBLE domain (where the engine evaluates a
    // long-vs-double comparison after coercion) it rounds to 2^53 and
    // MATCHES the literal 9007199254740992d — exact-BigDecimal stats
    // comparison says otherwise, so pruning through the cast would
    // silently drop the matching row
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("x"))
    LakeFormat.append(Seq((1L, 1L, true, 9007199254740993L))
      .toDF("id", "lsn", "live", "x"), root)
    val s = LakeFormat.scan(spark, root, col("x") === lit(9007199254740992.0))
    assert(s.keptFiles === 1L, "file pruned through a lossy long→double cast")
    assert(s.df.count() === 1L)
    // int vs float literal at 2^24 + 1: whatever domain the analyzer
    // coerces the comparison into, the pruned scan must agree with the
    // unpruned filter row-for-row
    val r2 = freshRoot()
    LakeFormat.create(spark, r2, Seq("id"), statsCols = Seq("y"))
    LakeFormat.append(Seq((1L, 1L, true, 16777217))
      .toDF("id", "lsn", "live", "y"), r2)
    val p2 = col("y") === lit(16777216.0f)
    assert(LakeFormat.scan(spark, r2, p2).df.count() ===
      LakeFormat.snapshot(spark, r2).filter(p2).count())
    // genuinely lossless widenings still prune: int stats vs long literal
    val r3 = freshRoot()
    LakeFormat.create(spark, r3, Seq("id"), statsCols = Seq("z"))
    LakeFormat.append(Seq((1L, 1L, true, 5), (2L, 1L, true, 9))
      .toDF("id", "lsn", "live", "z").coalesce(1), r3)
    LakeFormat.append(Seq((3L, 1L, true, 100), (4L, 1L, true, 200))
      .toDF("id", "lsn", "live", "z").coalesce(1), r3)
    val s3 = LakeFormat.scan(spark, r3, col("z") === lit(150L))
    assert(s3.keptFiles === 1L, "lossless int→long must still prune")
    assert(s3.df.count() === 0L)
  }

  test("merge key-probe broadcast is size-gated; a gated merge folds identically") {
    // hint present under the limit, absent above it — read off the
    // optimized logical plan's join hints, which is what the planner
    // consumes (AQE may still broadcast from observed size; the bug was
    // the unconditional HINT, which bypasses size checks entirely)
    def hinted(limit: Long): Boolean = {
      val left = spark.range(100).toDF("id")
      val keys = spark.range(10).toDF("id")
      val j = left.join(LakeFormat.gatedBroadcast(keys, rows = 10L, limit),
        Seq("id"), "left_semi")
      j.queryExecution.optimizedPlan.collect {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join
            if jn.hint.leftHint.exists(_.strategy.isDefined) ||
              jn.hint.rightHint.exists(_.strategy.isDefined) => jn
      }.nonEmpty
    }
    assert(hinted(limit = 100L), "small key set must carry the broadcast hint")
    assert(!hinted(limit = 5L), "over-limit key set must drop the hint")
    // semantics are unchanged either side of the gate: the same update
    // batch merged with limit 0 (never broadcast) and the default limit
    // produces identical live state
    def build(limit: Long): Seq[(Long, String)] = {
      val root = freshRoot()
      LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
      LakeFormat.merge(spark.range(200).select(col("id"), lit(1L).as("lsn"),
        lit(true).as("live"), concat(lit("v"), col("id")).as("v")), root,
        broadcastKeyLimit = limit)
      LakeFormat.merge(spark.range(50).select((col("id") * 3).as("id"),
        lit(2L).as("lsn"), (col("id") % 7 =!= 0L).as("live"),
        concat(lit("u"), col("id")).as("v")), root, broadcastKeyLimit = limit)
      LakeFormat.snapshot(spark, root).filter(col("live"))
        .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    }
    assert(build(0L) === build(LakeFormat.DefaultBroadcastKeyLimit))
  }

  test("a single-key merge into a one-file table runs at most five jobs and never reads its written files back") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(spark.range(100).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), col("id").cast("string").as("v")).coalesce(1),
      root)
    assert(LakeFormat.state(spark, root).files.size === 1)
    // record every job THIS thread's job group launches during a merge
    // (suites share the session concurrently — group-filter the bus),
    // and which stages wrote output
    val group = s"merge-budget-${java.util.UUID.randomUUID}"
    val jobs = collection.mutable.Map.empty[Int, (Seq[Int], Seq[String])]
    val writers = collection.mutable.Set.empty[Int]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.synchronized {
            jobs(js.jobId) = (js.stageIds, js.stageInfos.map(_.name))
          }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null && m.outputMetrics.bytesWritten > 0L)
          writers.synchronized { writers += sc.stageInfo.stageId }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "merge job budget")
      LakeFormat.merge(spark.range(30).select(col("id"), lit(2L).as("lsn"),
        lit(true).as("live"), lit("u").as("v")), root)
    } finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    val got = jobs.synchronized(jobs.toMap)
    val wrote = writers.synchronized(writers.toSet)
    val shown = got.toSeq.sortBy(_._1).map { case (id, (_, names)) =>
      s"$id:${names.mkString("+")}" }.mkString(", ")
    // materialize (+ observed key range and count), key broadcast,
    // probe, fold shuffle, write
    assert(got.nonEmpty, "the merge must have run jobs in its group")
    assert(got.size <= 5, s"merge ran ${got.size} jobs: $shown")
    val writeJobs = got.collect { case (id, (st, _)) if st.exists(wrote) => id }
    assert(writeJobs.size === 1, s"expected one write job: $shown")
    // the file stats come from the write tasks: nothing runs after the
    // write, so nothing reads the new files back
    assert(got.keys.forall(_ <= writeJobs.head),
      s"a job ran after the write: $shown")
    assert(LakeFormat.snapshot(spark, root).filter(col("v") === "u").count() === 30L)
  }

  test("selective OPTIMIZE rewrites only the fragmented partition; other entries untouched") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"),
      partitionCols = Seq("day"))
    // day=1 and day=2 land well-sized in one append; day=0 is fragmented
    // by 6 tiny appends
    LakeFormat.append(spark.range(200).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), (col("id") % 2 + 1).as("day")).repartition(col("day")),
      root)
    (0 until 6).foreach(i => LakeFormat.append(
      Seq((1000L + i, 1L, true, 0L)).toDF("id", "lsn", "live", "day"), root))
    val before = LakeFormat.state(spark, root)
    val beforeDay0 = before.files.filter(_.path.startsWith("data/day=0/"))
    val beforeRest = before.files.filterNot(_.path.startsWith("data/day=0/"))
    assert(beforeDay0.size === 6)
    LakeFormat.optimize(spark, root, Seq(col("id")), targetFiles = 1,
      select = LakeFormat.inPartition("day", "0"))
    val after = LakeFormat.state(spark, root)
    val afterDay0 = after.files.filter(_.path.startsWith("data/day=0/"))
    val afterRest = after.files.filterNot(_.path.startsWith("data/day=0/"))
    assert(afterDay0.size === 1, s"day=0 not compacted: ${afterDay0.size}")
    // untouched partitions keep their EXACT AddFile entries (same path,
    // same stats, same bytes) — no remove/add lines were written for them
    assert(afterRest.toSet === beforeRest.toSet)
    assert(LakeFormat.snapshot(spark, root).count() === 206L)
    // stats pruning still engages after the partial rewrite
    val sc = LakeFormat.scan(spark, root, col("day") === lit(0L))
    assert(sc.keptFiles === 1L && sc.df.count() === 6L)
  }

  test("smallFiles bin-packs only under-sized files; the big file is untouched") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(spark.range(50000).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), (col("id") * 7).as("m")).coalesce(1), root)
    (0 until 5).foreach(i => LakeFormat.append(
      Seq((100000L + i, 1L, true, 0L)).toDF("id", "lsn", "live", "m"), root))
    val before = LakeFormat.state(spark, root)
    val big = before.files.maxBy(_.bytes)
    assert(big.bytes > 0L, "writeData must record on-disk sizes")
    val threshold = big.bytes // everything strictly smaller compacts
    LakeFormat.optimize(spark, root, Seq(col("id")), targetFiles = 1,
      select = LakeFormat.smallFiles(threshold))
    val after = LakeFormat.state(spark, root)
    assert(after.files.contains(big), "the well-sized file must be untouched")
    assert(after.files.size === 2, s"expected big + 1 packed: ${after.files.size}")
    assert(LakeFormat.snapshot(spark, root).count() === 50005L)
  }

  test("change feed over 60 commits: bounded plan depth, every create present") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    (1 to 60).foreach(i => LakeFormat.append(
      Seq((i.toLong, i.toLong, true, i.toLong)).toDF("id", "lsn", "live", "m"), root))
    val feed = LakeFormat.changeFeed(spark, root, 1L, 60L)
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      if (p.children.isEmpty) 1
      else 1 + p.children.map(c =>
        depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max
    val d = depth(feed.queryExecution.logical)
    // one lineage-cut group is ≤ ChangeFeedLineageCut commits of
    // join+window subtrees; everything past the first group is a
    // LogicalRDD leaf — so depth is bounded by ONE group's construction,
    // not the commit count (60 un-cut commits would stack 60 subtrees)
    assert(d < 60, s"plan depth $d grew with the commit range")
    val got = feed.select("_commit_version", "_change_type", "id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.length === 60)
    assert(got.forall { case (v, t, id) => t == "c" && v == id })
  }

  test("create-time schema: zero-file tables analyze payload predicates and serve typed empties") {
    val root = freshRoot()
    val schema = StructType.fromDDL(
      "id BIGINT, lsn BIGINT, live BOOLEAN, v STRING, score DOUBLE")
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"),
      schema = Some(schema))
    // payload predicate on the EMPTY table: analyzable, empty result —
    // without the declared schema this threw AnalysisException (the
    // fabricated keyCols-only schema had no `v`)
    val sc = LakeFormat.scan(spark, root, col("v") === lit("x"))
    assert(sc.df.count() === 0L && sc.keptFiles === 0L)
    assert(LakeFormat.snapshot(spark, root).schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    // once data lands, vintage schemas take over as before
    LakeFormat.append(Seq((1L, 1L, true, "a", 0.5))
      .toDF("id", "lsn", "live", "v", "score"), root)
    assert(LakeFormat.scan(spark, root, col("v") === lit("a")).df.count() === 1L)
  }

  test("change-feed fold is deterministic under duplicate-order opposite-live rows") {
    // malformed input: one commit carries two rows of one key with the
    // SAME lsn and opposite live flags — the fold's full-content hash
    // tie-break must pick the same winner on every evaluation (flipping
    // winners would flip the c/d classification between runs)
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(Seq((1L, 5L, true, "x"), (1L, 5L, false, "x"))
      .toDF("id", "lsn", "live", "v").coalesce(1), root)
    def run(): Seq[(Long, String, Long)] =
      LakeFormat.changeFeed(spark, root, 1L, 1L)
        .select("_commit_version", "_change_type", "id")
        .as[(Long, String, Long)].collect().sortBy(_._3).toSeq
    val a = run(); val b = run()
    assert(a === b, s"nondeterministic fold: $a vs $b")
  }

  test("pre-commit-line logs still replay (backward compatibility)") {
    // a log written by the previous format (no leading commit action)
    // must keep reading: hand-write a v1 commit without one
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(rows1(), root) // v1, new format
    val logDir = new java.io.File(root, "_log")
    val v1 = new java.io.File(logDir, f"${1L}%020d.json")
    val lines = java.nio.file.Files.readAllLines(v1.toPath)
    val stripped = new java.util.ArrayList[String]()
    lines.forEach(l => if (!l.contains("\"commit\"")) stripped.add(l))
    java.nio.file.Files.write(v1.toPath, stripped)
    // drop the local FS's checksum sidecar — the hand-rewrite above
    // invalidates it (real old-format logs carry matching checksums)
    new java.io.File(logDir, s".${v1.getName}.crc").delete()
    assert(LakeFormat.snapshot(spark, root).count() === 2L)
    assert(LakeFormat.changeFeed(spark, root, 1L, 1L).count() === 2L)
  }

  private def rows1() =
    Seq((1L, 1L, true, "a"), (2L, 1L, true, "b")).toDF("id", "lsn", "live", "v")

  test("predicate DELETE removes rows physically, touches only matching files, keeps history") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // two disjoint-range files: only one holds matching rows
    LakeFormat.append(spark.range(100).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), (col("id") % 7).as("m")).coalesce(1), root)
    LakeFormat.append(spark.range(100, 200).select(col("id"),
      lit(1L).as("lsn"), lit(true).as("live"), (col("id") % 7).as("m"))
      .coalesce(1), root)
    val before = LakeFormat.state(spark, root)
    val v = LakeFormat.delete(spark, root, col("id") < 50L)
    val after = LakeFormat.state(spark, root)
    // physical: no matching row remains ANYWHERE in the current version
    assert(LakeFormat.snapshot(spark, root).filter(col("id") < 50L).count() === 0L)
    assert(LakeFormat.snapshot(spark, root).count() === 150L)
    // only the matching file rewrote; the 100-199 file is byte-identical
    val keptUntouched = before.files.filter(a =>
      a.stats("id").min.exists(_.toLong >= 100))
    assert(keptUntouched.forall(after.files.contains))
    // history intact: the pre-delete version still serves the rows
    assert(LakeFormat.readAsOf(spark, root, v - 1)
      .filter(col("id") < 50L).count() === 50L)
    // a no-match delete commits nothing
    assert(LakeFormat.delete(spark, root, col("id") < 0L) === v)
  }

  test("predicate DELETE keeps NULL-predicate rows (SQL semantics) — in touched files too") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // ONE file holding TRUE, FALSE, and NULL predicate outcomes together:
    // the rewrite path must keep the NULL rows — `!pred` alone turns
    // NULL into NULL and drops them from the rewritten file while
    // untouched files would keep theirs (silent, inconsistent data loss)
    LakeFormat.append(Seq(
      (1L, 1L, true, Some(10L)),  // x > 5 TRUE  → deleted
      (2L, 1L, true, None),       // x > 5 NULL  → kept
      (3L, 1L, true, Some(1L)),   // x > 5 FALSE → kept
      (4L, 1L, true, None)        // x > 5 NULL  → kept
    ).toDF("id", "lsn", "live", "x").coalesce(1), root)
    // a second file with NULL-only rows: stats-pruned or confirm-missed,
    // it stays untouched — the touched file must agree with it
    LakeFormat.append(Seq((5L, 1L, true, Option.empty[Long]))
      .toDF("id", "lsn", "live", "x").coalesce(1), root)
    LakeFormat.delete(spark, root, col("x") > 5L)
    val left = LakeFormat.snapshot(spark, root)
      .select("id").as[Long].collect().toSet
    assert(left === Set(2L, 3L, 4L, 5L),
      "only pred=TRUE rows may leave; NULL-pred rows stay everywhere")
  }

  test("predicate UPDATE re-evaluates matching rows only; stats stay prune-correct after") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id", "m"))
    LakeFormat.append(spark.range(100).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), col("id").as("m")).coalesce(1), root)
    LakeFormat.append(spark.range(100, 200).select(col("id"),
      lit(1L).as("lsn"), lit(true).as("live"), col("id").as("m"))
      .coalesce(1), root)
    val before = LakeFormat.state(spark, root)
    LakeFormat.update(spark, root, col("id").between(10L, 19L),
      Map("m" -> (col("m") + 10000L)))
    val got = LakeFormat.snapshot(spark, root)
      .filter(col("id").between(5L, 24L)).select("id", "m")
      .as[(Long, Long)].collect().toMap
    (5L to 24L).foreach { i =>
      assert(got(i) === (if (i >= 10 && i <= 19) i + 10000L else i))
    }
    // untouched file byte-identical; the rewritten file's recomputed
    // stats make the updated VALUES prunable (m now reaches 10019)
    val after = LakeFormat.state(spark, root)
    assert(before.files.filter(a => a.stats("id").min.exists(_.toLong >= 100))
      .forall(after.files.contains))
    val sc = LakeFormat.scan(spark, root, col("m") >= 10000L)
    assert(sc.keptFiles === 1L && sc.df.count() === 10L)
    // unknown assignment column refuses
    intercept[IllegalArgumentException](LakeFormat.update(spark, root,
      col("id") === 1L, Map("zz" -> lit(1))))
  }

  test("DML conflict detection: pred-disjoint concurrent adds rebase, possibly-matching adds abort") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(spark.range(100).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), col("id").as("m")).coalesce(1), root)
    // concurrent append of ids ≥ 1000 — provably outside `id < 50` by
    // stats — lands mid-delete: the delete must REBASE, both effects land
    val v = withConcurrent {
      LakeFormat.append(spark.range(1000, 1010).select(col("id"),
        lit(1L).as("lsn"), lit(true).as("live"), col("id").as("m")), root)
    } {
      LakeFormat.delete(spark, root, col("id") < 50L)
    }
    assert(v === 3L)
    assert(LakeFormat.snapshot(spark, root).count() === 60L) // 50 + 10
    // a concurrent add that MAY hold matching rows aborts the delete —
    // rebasing would silently miss those rows
    intercept[java.util.ConcurrentModificationException] {
      withConcurrent {
        LakeFormat.append(spark.range(50, 60).select(col("id"),
          lit(1L).as("lsn"), lit(true).as("live"), col("id").as("m")), root)
      } {
        LakeFormat.delete(spark, root, col("id") < 70L)
      }
    }
    // the re-run sees the new tip and deletes EVERYTHING under 70,
    // including the mid-window rows
    LakeFormat.delete(spark, root, col("id") < 70L)
    assert(LakeFormat.snapshot(spark, root).filter(col("id") < 70L).count() === 0L)
  }

  // deterministic concurrent-commit interleave: the hook fires inside the
  // conflict-detection window (after read/stage, before the claim) and
  // must reset itself first — the concurrent commit it issues would
  // otherwise recurse into the hook
  private def withConcurrent[T](body: => Unit)(f: => T): T = {
    LakeFormat.beforeCommitHook = () => {
      LakeFormat.beforeCommitHook = () => ()
      body
    }
    try f finally LakeFormat.beforeCommitHook = () => ()
  }

  test("MERGE with an evolved schema: new column lands, old rows read back null, change feed compares it") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a"), (2L, 1L, true, "b"))
      .toDF("id", "lsn", "live", "v"), root) // v1, old vintage
    // v2 merges a batch CARRYING A NEW COLUMN: the fold unions vintages
    // by name, the rewrite records the widened DDL, untouched keys keep
    // null for the new column
    LakeFormat.merge(Seq((1L, 2L, true, "a2", 42L))
      .toDF("id", "lsn", "live", "v", "extra"), root)
    val snap = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v", "extra").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(snap === Seq((1L, "a2", Some(42L)), (2L, "b", None)))
    // the change feed diffs the evolved rewrite against the pre-image:
    // id=1 changed (v AND the new column), id=2 carried along → silent
    val feed = LakeFormat.changeFeed(spark, root, 2L, 2L)
      .select("_change_type", "id").as[(String, Long)].collect().toSeq
    assert(feed === Seq(("u", 1L)))
    // stats pruning engages on the evolved column once a later append
    // records stats for it — and scans on it analyze across vintages
    assert(LakeFormat.scan(spark, root, col("extra") === lit(42L)).df
      .count() === 1L)
  }

  test("merge rebases over a concurrent key-disjoint commit instead of aborting") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a"), (2L, 1L, true, "b"))
      .toDF("id", "lsn", "live", "v"), root) // v1
    // concurrent append of keys 100.. lands INSIDE this merge's window:
    // provably outside the updates' [1,2] range → the merge must rebase
    val v = withConcurrent {
      LakeFormat.append(Seq((100L, 1L, true, "far"))
        .toDF("id", "lsn", "live", "v"), root) // v2
    } {
      LakeFormat.merge(Seq((1L, 2L, true, "a2"))
        .toDF("id", "lsn", "live", "v"), root)
    }
    assert(v === 3L, "merge must land at the REBASED tip, not abort")
    val live = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(live === Map(1L -> "a2", 2L -> "b", 100L -> "far"))
  }

  test("merge aborts on a concurrent overlapping commit; the re-run lands clean") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a")).toDF("id", "lsn", "live", "v"), root)
    intercept[java.util.ConcurrentModificationException] {
      withConcurrent {
        // overlapping key range: the merge's fold could have needed it
        LakeFormat.append(Seq((1L, 3L, true, "mid"))
          .toDF("id", "lsn", "live", "v"), root)
      } {
        LakeFormat.merge(Seq((1L, 2L, true, "stale"))
          .toDF("id", "lsn", "live", "v"), root)
      }
    }
    // the aborted merge leaked nothing; a re-run folds against the NEW
    // tip — the mid-window row (lsn 3) beats the re-run's lsn 2
    LakeFormat.merge(Seq((1L, 2L, true, "stale"))
      .toDF("id", "lsn", "live", "v"), root)
    val live = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(live === Map(1L -> "mid"))
  }

  test("merge aborts when a concurrent replay of its own exactly-once batch landed") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    val batch = Seq((50L, 1L, true, "x")).toDF("id", "lsn", "live", "v")
    intercept[java.util.ConcurrentModificationException] {
      withConcurrent {
        LakeFormat.merge(batch, root, txn = Some(("app", 7L)))
      } {
        LakeFormat.merge(batch, root, txn = Some(("app", 7L)))
      }
    }
    // the re-run no-ops through the read-time marker gate — applied ONCE
    val tip = LakeFormat.merge(batch, root, txn = Some(("app", 7L)))
    assert(tip === LakeFormat.state(spark, root).version)
    assert(LakeFormat.snapshot(spark, root).count() === 1L)
  }

  test("optimize rebases over concurrent ingest; aborts only when a picked file was rewritten") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    (0 until 4).foreach(i => LakeFormat.append(
      Seq((i.toLong, 1L, true, s"v$i")).toDF("id", "lsn", "live", "v"), root))
    // concurrent append mid-compaction: none of the picked files moved →
    // the rewrite rebases, and the mid-window file survives untouched
    val v = withConcurrent {
      LakeFormat.append(Seq((99L, 1L, true, "mid"))
        .toDF("id", "lsn", "live", "v"), root)
    } {
      LakeFormat.optimize(spark, root, Seq(col("id")), targetFiles = 1)
    }
    assert(v === 6L)
    assert(LakeFormat.snapshot(spark, root).count() === 5L)
    // 1 compacted + the mid-window file (optimize picked the PRE-append
    // file set, so the concurrent file is not compacted away)
    assert(LakeFormat.state(spark, root).files.size === 2)
    // a concurrent MERGE that rewrites a picked file must abort the
    // rewrite — committing it would resurrect the superseded row
    intercept[java.util.ConcurrentModificationException] {
      withConcurrent {
        LakeFormat.merge(Seq((0L, 9L, true, "newer"))
          .toDF("id", "lsn", "live", "v"), root)
      } {
        LakeFormat.optimize(spark, root, Seq(col("id")), targetFiles = 1)
      }
    }
    val live = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(live(0L) === "newer", "the aborted rewrite must not resurrect v0")
  }
}

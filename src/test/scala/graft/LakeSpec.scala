package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFormat

/** Composite-key envelope fixture (tenant, id). Top-level so Spark can
  * derive an Encoder. */
case class KSrc(lsn: Long)
case class KRow(tenant: String, id: Long, v: String)
case class KEvent(before: Option[KRow], after: Option[KRow],
    source: KSrc, op: String)

/** Protocol guarantees of [[graft.sources.LakeFormat]] — ACID commits over
  * immutable files, optimistic concurrency, merge semantics, time travel,
  * stats pruning, checkpoint replay, vacuum safety. These are the
  * properties the oracle-checked lake_* catalog queries rely on but can't
  * themselves witness (races, crashes, pruning ratios).
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String = {
    val p = Files.createTempDirectory("lake_spec")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def rows(xs: (Long, Long, Boolean, String)*) =
    xs.toSeq.toDF("id", "lsn", "live", "v")

  test("create + append + snapshot round trip; double create throws") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    intercept[IllegalArgumentException](
      LakeFormat.create(spark, root, Seq("id")))
    val v = LakeFormat.append(rows((1L, 1L, true, "a"), (2L, 1L, true, "b")), root)
    assert(v === 1L)
    val got = LakeFormat.snapshot(spark, root)
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(1L -> "a", 2L -> "b"))
  }

  test("merge upserts, deletes tombstone, stale lsn loses, replay is idempotent") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(rows((1L, 10L, true, "a"), (2L, 10L, true, "b")), root)
    // upsert id=1, delete id=2, insert id=3
    val wave2 = rows((1L, 20L, true, "a2"), (2L, 20L, false, null.asInstanceOf[String]),
      (3L, 20L, true, "c"))
    LakeFormat.merge(wave2, root)
    def live() = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(live() === Seq(1L -> "a2", 3L -> "c"))
    // the tombstone is STORED (blocks resurrection), not just filtered
    val stored = LakeFormat.snapshot(spark, root)
      .select("id", "live").as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(stored === Seq(1L -> true, 2L -> false, 3L -> true))
    // a stale event (lsn 15 < stored 20) must lose to both the upsert and
    // the tombstone — no resurrection, no rollback
    LakeFormat.merge(rows((1L, 15L, true, "stale"), (2L, 15L, true, "ghost")), root)
    assert(live() === Seq(1L -> "a2", 3L -> "c"))
    // replaying wave2 verbatim is a no-op on the served state
    LakeFormat.merge(wave2, root)
    assert(live() === Seq(1L -> "a2", 3L -> "c"))
  }

  test("concurrent blind appends all land at distinct versions, no lost rows") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        LakeFormat.append(
          Seq((i.toLong, 1L, true, s"t$i")).toDF("id", "lsn", "live", "v"), root)
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val st = LakeFormat.state(spark, root)
    assert(st.version === 4L) // versions 1..4 all claimed, densely
    assert(LakeFormat.snapshot(spark, root).count() === 4L)
  }

  test("merge aborts with ConcurrentModificationException when the tip moves; re-run succeeds") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(rows((1L, 1L, true, "a")), root)
    // simulate a racer: claim the next log slot between this merge's
    // read (state at v1) and its commit — the merge below must abort,
    // and the data files it staged must not leak into the snapshot
    val st = LakeFormat.state(spark, root)
    val racer = rows((9L, 1L, true, "racer"))
    LakeFormat.append(racer, root) // tip is now v2
    val before = LakeFormat.snapshot(spark, root).count()
    // a merge planned against v1 would now mis-ground its rewrite; the
    // public API re-reads the tip, so drive the race by interleaving two
    // real merges: thread A reads, thread B commits, A commits second.
    // Deterministic interleave: run B's full merge inside A's window via
    // a planned-then-committed replica of merge's internals is private —
    // so assert the OBSERVABLE contract instead: two threads merging
    // concurrently → at least one succeeds; any loser throws CME and a
    // re-run lands. State afterwards contains both key sets.
    assert(st.version === 1L && before === 2L)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ts = Seq(
      rows((1L, 5L, true, "a5")),
      rows((2L, 5L, true, "b5"))).zipWithIndex.map { case (df, i) =>
      new Thread(() => {
        try { LakeFormat.merge(df, root); results.add(s"ok$i") }
        catch { case _: ConcurrentModificationException =>
          results.add(s"cme$i")
          LakeFormat.merge(df, root); results.add(s"retry$i")
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val r = results.asScala.toSeq
    assert(r.count(_.startsWith("ok")) + r.count(_.startsWith("retry")) === 2)
    val live = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(live(1L) === "a5" && live(2L) === "b5" && live(9L) === "racer")
  }

  test("time travel reads every historical version; beyond-tip throws") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(rows((1L, 1L, true, "v1")), root)
    LakeFormat.merge(rows((1L, 2L, true, "v2")), root)
    LakeFormat.merge(rows((1L, 3L, false, null.asInstanceOf[String])), root)
    def at(v: Long) = LakeFormat.readAsOf(spark, root, v)
      .filter(col("live")).select("v").as[String].collect().toSeq
    assert(at(1) === Seq("v1"))
    assert(at(2) === Seq("v2"))
    assert(at(3) === Seq.empty) // tombstoned
    assert(LakeFormat.readAsOf(spark, root, 0).count() === 0L) // pre-data
    intercept[IllegalArgumentException](LakeFormat.readAsOf(spark, root, 4))
  }

  test("scan prunes files by log stats and misses no rows") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // range layout: 8 near-disjoint files over id 0..7999
    LakeFormat.append(
      spark.range(8000).select(col("id"), lit(1L).as("lsn"),
        lit(true).as("live"), (col("id") % 97).as("v"))
        .repartitionByRange(8, col("id")), root)
    val sc = LakeFormat.scan(spark, root, col("id") < lit(1000L))
    assert(sc.totalFiles === 8L)
    assert(sc.keptFiles < sc.totalFiles, s"no pruning: ${sc.keptFiles}/${sc.totalFiles}")
    assert(sc.df.count() === 1000L)
    // compound predicates: AND narrows, OR keeps the union
    val both = LakeFormat.scan(spark, root,
      col("id") >= lit(2000L) && col("id") < lit(3000L))
    assert(both.keptFiles <= 2L && both.df.count() === 1000L)
    val disj = LakeFormat.scan(spark, root,
      col("id") < lit(500L) || col("id") >= lit(7500L))
    assert(disj.keptFiles < disj.totalFiles && disj.df.count() === 1000L)
    // un-prunable predicate keeps everything (conservative, never wrong)
    val full = LakeFormat.scan(spark, root, (col("id") % 2) === lit(0L))
    assert(full.keptFiles === full.totalFiles && full.df.count() === 4000L)
  }

  test("checkpoint accelerates replay without changing any read") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    (1 to 5).foreach(i => LakeFormat.merge(rows((i.toLong, i.toLong, true, s"r$i")), root))
    def rowsNow() = LakeFormat.snapshot(spark, root).collect().map(_.toString)
      .sorted.toSeq
    val before = LakeFormat.snapshot(spark, root).filter(col("live")).count()
    val rows5 = rowsNow()
    val cv = LakeFormat.checkpoint(spark, root)
    assert(cv === 5L)
    // the checkpoint is one JSON action file in _log, published by the
    // log's own claim: a second checkpoint at the version loses the
    // rename and leaves the first file's bytes
    val ck = new java.io.File(root, f"_log/$cv%020d.checkpoint.json").toPath
    val bytes = Files.readAllBytes(ck)
    assert(LakeFormat.checkpoint(spark, root) === cv)
    assert(Files.readAllBytes(ck).sameElements(bytes))
    // a crash between the temp write and the rename leaves a partial
    // `.tmp-*` file, which no read lists
    Files.write(new java.io.File(root, "_log/.tmp-partial").toPath,
      bytes.take(bytes.length / 2))
    assert(rowsNow() === rows5)
    assert(LakeFormat.state(spark, root).version === cv)
    // post-checkpoint commits replay as the JSON tail on top of it
    LakeFormat.merge(rows((6L, 6L, true, "r6")), root)
    assert(LakeFormat.snapshot(spark, root).filter(col("live")).count() === before + 1)
    // time travel to a pre-checkpoint version still replays the raw log
    assert(LakeFormat.readAsOf(spark, root, 2L).filter(col("live")).count() === 2L)
  }

  test("vacuum reclaims only out-of-retention files; retained time travel survives; torn staging is swept") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(rows((1L, 1L, true, "v1")), root)  // v1
    LakeFormat.merge(rows((1L, 2L, true, "v2")), root)  // v2 rewrites v1's file
    LakeFormat.merge(rows((1L, 3L, true, "v3")), root)  // v3 rewrites v2's
    // a crashed writer's staging dir: data written, commit never claimed
    val torn = new java.io.File(root, "_tmp-deadbeef")
    assert(torn.mkdirs())
    val deleted = LakeFormat.vacuum(spark, root, keepVersions = 2, olderThanMs = 0L)
    assert(!torn.exists(), "torn staging dir must be swept")
    assert(deleted.nonEmpty, "v1's rewritten file is out of retention")
    // retained reads are intact...
    assert(LakeFormat.readAsOf(spark, root, 2L).select("v").as[String].collect()
      .toSeq === Seq("v2"))
    assert(LakeFormat.snapshot(spark, root).select("v").as[String].collect()
      .toSeq === Seq("v3"))
    // ...and the in-flight-writer guard refuses young files even when
    // unreferenced: nothing young is ever deleted with the default guard.
    // An unclaimed log temp file (a crash before a commit's or a
    // checkpoint's rename) is swept once old, kept while young.
    LakeFormat.merge(rows((1L, 4L, true, "v4")), root)
    val oldTmp = new java.io.File(root, "_log/.tmp-x")
    val youngTmp = new java.io.File(root, "_log/.tmp-y")
    Seq(oldTmp, youngTmp).foreach(t => Files.write(t.toPath, "{".getBytes))
    assert(oldTmp.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000))
    assert(LakeFormat.vacuum(spark, root, keepVersions = 1).isEmpty)
    assert(!oldTmp.exists(), "an old _log/.tmp-* must be swept")
    assert(youngTmp.exists(), "a young _log/.tmp-* must be kept")
  }

  test("txn marker makes merge exactly-once: replayed batches no-op, even from a checkpoint") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    val b1 = rows((1L, 1L, true, "a"), (2L, 1L, true, "b"))
    val b2 = rows((1L, 2L, true, "a2"))
    def live() = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    val v1 = LakeFormat.merge(b1, root, txn = Some(("app", 1L)))
    // immediate replay: version unchanged, state unchanged
    assert(LakeFormat.merge(b1, root, txn = Some(("app", 1L))) === v1)
    assert(LakeFormat.state(spark, root).version === v1)
    // txn survives the checkpoint: replay AFTER checkpointing must still
    // no-op (the checkpoint carries a txn line per app, like a commit)
    LakeFormat.checkpoint(spark, root)
    assert(LakeFormat.merge(b1, root, txn = Some(("app", 1L))) === v1)
    val v2 = LakeFormat.merge(b2, root, txn = Some(("app", 2L)))
    assert(v2 === v1 + 1)
    // a LATE replay of batch 1 (marker below the high-water mark) no-ops
    // instead of resurrecting the pre-update row
    assert(LakeFormat.merge(b1, root, txn = Some(("app", 1L))) === v2)
    assert(live() === Seq(1L -> "a2", 2L -> "b"))
    // a DIFFERENT app id is not gated by this app's marker
    LakeFormat.merge(rows((3L, 1L, true, "c")), root, txn = Some(("other", 1L)))
    assert(live() === Seq(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("streaming cdcApply lands envelope batches in the lake exactly like the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    case class Raw(id: Long, lsn: Long, op: String, fn: String)
    val mem = MemoryStream[(Long, Long, String, String)]
    def toEnvelope(df: org.apache.spark.sql.DataFrame) = {
      val img = struct(col("_1").as("id"), col("_4").as("first_name"),
        lit("ln").as("last_name"), lit("em").as("email"))
      df.select(
        when(col("_3") === "d", img).as("before"),
        when(col("_3") =!= "d", img).as("after"),
        struct(col("_2").as("lsn")).as("source"),
        col("_3").as("op"))
    }
    val ck = Files.createTempDirectory("lake_ck").toString
    val q = streaming.LakeSink.cdcApply(toEnvelope(mem.toDF), root, "stream")
      .option("checkpointLocation", ck).start()
    mem.addData((1L, 1L, "c", "a"), (2L, 2L, "c", "b"))
    q.processAllAvailable()
    mem.addData((1L, 3L, "u", "a2"), (2L, 4L, "d", "b"))
    q.processAllAvailable(); q.stop()
    val live = LakeFormat.snapshot(spark, root).filter(col("live"))
      .select("id", "first_name").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(live === Seq(1L -> "a2"))
    // the tombstone for id=2 is stored, not lost
    assert(LakeFormat.snapshot(spark, root).filter(!col("live")).count() === 1L)
  }

  test("optimize compacts small files and z-order prunes on BOTH dimensions") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("x", "y"))
    // 16 appends of 512 rows each: many small files, interleaved ranges
    // (every file spans the full x/y domain — nothing prunes)
    (0 until 16).foreach { i =>
      val ids = spark.range(512).select((col("id") * 16 + i).as("id"))
      LakeFormat.append(
        ids.select(col("id"), lit(1L).as("lsn"), lit(true).as("live"),
          // hash-scattered coordinates: every appended file spans the full
          // x/y domain, so nothing can prune until optimize clusters them
          pmod(xxhash64(col("id")), lit(64L)).as("x"),
          pmod(xxhash64(col("id") + 1000000L), lit(128L)).as("y")),
        root)
    }
    val before = LakeFormat.state(spark, root)
    assert(before.files.size >= 16)
    val preX = LakeFormat.scan(spark, root, col("x") < lit(8L))
    assert(preX.keptFiles === preX.totalFiles) // interleaved: no pruning
    val nX = preX.df.count()
    val nY = LakeFormat.scan(spark, root, col("y") < lit(16L)).df.count()
    // compact into 8 z-ordered files
    LakeFormat.optimize(spark, root,
      Seq(graft.operators.Partitioning.zValue(col("x"), col("y"), bits = 8)),
      targetFiles = 8)
    val after = LakeFormat.state(spark, root)
    assert(after.files.size <= 8)
    assert(LakeFormat.snapshot(spark, root).count() === 16L * 512)
    val sx = LakeFormat.scan(spark, root, col("x") < lit(8L))
    val sy = LakeFormat.scan(spark, root, col("y") < lit(16L))
    assert(sx.keptFiles < sx.totalFiles, s"x-prune: ${sx.keptFiles}/${sx.totalFiles}")
    assert(sy.keptFiles < sy.totalFiles, s"y-prune: ${sy.keptFiles}/${sy.totalFiles}")
    assert(sx.df.count() === nX && sy.df.count() === nY)
  }

  test("pruning stays conservative at the edges: NaN stats, narrowing casts, evolved columns") {
    // NaN lands in a double stats column (Spark's max orders NaN above
    // everything): the table must stay readable and the file kept
    val r1 = freshRoot()
    LakeFormat.create(spark, r1, Seq("id"), statsCols = Seq("x"))
    LakeFormat.append(Seq((1L, 1L, true, Double.NaN), (2L, 1L, true, 0.5))
      .toDF("id", "lsn", "live", "x"), r1)
    val s1 = LakeFormat.scan(spark, r1, col("x") <= lit(1.0))
    assert(s1.df.count() === 1L) // readable; an all-NaN file may prune (sound)
    // Spark orders NaN above every numeric — the NaN row must survive a
    // high-bound probe, so the stats ranking mirrors the engine's order
    assert(LakeFormat.scan(spark, r1, col("x") > lit(10.0)).df.count() === 1L)
    // a VALUE-CHANGING cast must not prune: x=5.9 has stats [5.9, 5.9]
    // but matches cast(x as int) = 5 — the file must be kept
    val r2 = freshRoot()
    LakeFormat.create(spark, r2, Seq("id"), statsCols = Seq("x"))
    LakeFormat.append(Seq((1L, 1L, true, 5.9)).toDF("id", "lsn", "live", "x"), r2)
    val s2 = LakeFormat.scan(spark, r2, col("x").cast("int") === lit(5))
    assert(s2.keptFiles === 1L && s2.df.count() === 1L)
    // a predicate on a schema-evolved column resolves regardless of which
    // vintage sorts last, including through a checkpointed log
    val r3 = freshRoot()
    LakeFormat.create(spark, r3, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(rows((1L, 1L, true, "old")), r3)
    LakeFormat.append(
      Seq((2L, 1L, true, "new", 42L)).toDF("id", "lsn", "live", "v", "extra"), r3)
    LakeFormat.checkpoint(spark, r3)
    val s3 = LakeFormat.scan(spark, r3, col("extra") === lit(42L))
    assert(s3.df.count() === 1L)
  }

  test("change feed classifies c/u/d per commit, drops carried-along rows, and OPTIMIZE is silent") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // v1: blind append → all creates
    LakeFormat.append(rows((1L, 1L, true, "a"), (2L, 1L, true, "b"),
      (3L, 1L, true, "c")).coalesce(1), root)
    // v2: update id=1, delete id=2, insert id=4; id=3 is carried along the
    // file rewrite UNCHANGED (same single file holds all keys) → no row
    LakeFormat.merge(rows((1L, 2L, true, "a2"),
      (2L, 2L, false, null.asInstanceOf[String]), (4L, 2L, true, "dd")), root)
    // v3: OPTIMIZE rewrites everything with identical data → empty slice
    LakeFormat.optimize(spark, root, Seq(col("id")), targetFiles = 1)
    // v4: idempotent replay of v2's batch → folded state unchanged → empty
    LakeFormat.merge(rows((1L, 2L, true, "a2")), root)
    val feed = LakeFormat.changeFeed(spark, root, 1L, 4L)
      .select("_commit_version", "_change_type", "id", "v")
      .as[(Long, String, Long, Option[String])].collect().sortBy(r => (r._1, r._3))
    assert(feed.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq ===
      Seq(("c", 1L), ("c", 2L), ("c", 3L)))
    assert(feed.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)).toSeq ===
      Seq(("u", 1L, Some("a2")), ("d", 2L, Some("b")), ("c", 4L, Some("dd"))))
    assert(feed.count(_._1 >= 3L) === 0) // optimize + replay: silent
    // feeding past the tip or from v0 refuses loudly
    intercept[IllegalArgumentException](LakeFormat.changeFeed(spark, root, 0L, 2L))
    intercept[IllegalArgumentException](LakeFormat.changeFeed(spark, root, 1L, 99L))
  }

  test("change feed survives duplicate-key appends and live/order-free append-only tables") {
    // duplicate keys stacked by blind appends: the diff folds each side to
    // the newest row per key, so an OPTIMIZE rewrite of the duplicate set
    // is SILENT (an unfolded join would multiply the dups into bogus 'u's)
    val r1 = freshRoot()
    LakeFormat.create(spark, r1, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(rows((1L, 1L, true, "a")).coalesce(1), r1)
    LakeFormat.append(rows((1L, 2L, true, "b")).coalesce(1), r1) // same key again
    LakeFormat.optimize(spark, r1, Seq(col("id")), targetFiles = 1)
    val f1 = LakeFormat.changeFeed(spark, r1, 1L, 3L)
      .select("_commit_version", "_change_type", "id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(f1.toSeq === Seq((1L, "c", 1L), (2L, "c", 1L))) // optimize (v3): nothing
    // an append-only table with NO live/order columns feeds as all-creates
    val r2 = freshRoot()
    LakeFormat.create(spark, r2, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(spark.range(4).select(col("id"), (col("id") * 10).as("m")), r2)
    LakeFormat.optimize(spark, r2, Seq(col("id")), targetFiles = 1)
    val f2 = LakeFormat.changeFeed(spark, r2, 1L, 2L)
    assert(f2.filter(col("_change_type") === "c").count() === 4L)
    assert(f2.filter(col("_commit_version") === 2L).count() === 0L) // optimize silent
    // an all-txn range returns an EMPTY feed with the table's real schema
    val r3 = freshRoot()
    LakeFormat.create(spark, r3, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(rows((1L, 1L, true, "a")), r3, txn = Some(("app", 1L)))
    LakeFormat.merge(rows((1L, 1L, true, "a")), r3, txn = Some(("app", 1L))) // replayed: txn-only? no — gated, no commit
    val v = LakeFormat.merge(spark.emptyDataset[(Long, Long, Boolean, String)]
      .toDF("id", "lsn", "live", "v"), r3, txn = Some(("app", 2L))) // txn-only commit
    val f3 = LakeFormat.changeFeed(spark, r3, v, v)
    assert(f3.count() === 0L && f3.columns.contains("v")
      && f3.columns.contains("_change_type"))
  }

  test("hive-partitioned tables: nested layout, typed read-back, partition pruning, partition-local merge, nested vacuum") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"),
      partitionCols = Seq("day"))
    LakeFormat.append(
      spark.range(300).select(col("id"), lit(1L).as("lsn"),
        lit(true).as("live"), (col("id") % 3).as("day"),
        (col("id") * 2).as("m")).repartition(col("day")), root)
    val st = LakeFormat.state(spark, root)
    assert(st.files.nonEmpty
      && st.files.forall(_.path.matches("data/day=\\d+/[^/]+\\.parquet")))
    // read-back keeps the WRITTEN type (path re-inference would narrow
    // the long partition values to int)
    val snap = LakeFormat.snapshot(spark, root)
    assert(snap.schema("day").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(snap.count() === 300L)
    // partition pruning rides the singleton min=max stats
    val sc = LakeFormat.scan(spark, root, col("day") === lit(1L))
    assert(sc.keptFiles < sc.totalFiles, s"${sc.keptFiles}/${sc.totalFiles}")
    assert(sc.df.count() === 100L)
    // merge rewrites only the touched partition's files
    val pre = st.files.map(_.path).toSet
    LakeFormat.merge(Seq((0L, 2L, true, 0L, 99L))
      .toDF("id", "lsn", "live", "day", "m"), root)
    val post = LakeFormat.state(spark, root).files.map(_.path).toSet
    val removed = pre -- post
    assert(removed.nonEmpty && removed.forall(_.startsWith("data/day=0/")),
      s"rewrote outside the touched partition: $removed")
    assert((pre & post).exists(_.startsWith("data/day=1/"))
      && (pre & post).exists(_.startsWith("data/day=2/")))
    // vacuum walks the nested layout and reclaims exactly the rewrite
    val del = LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L)
    assert(del.toSet === removed)
    val after = LakeFormat.snapshot(spark, root).filter(col("live"))
    assert(after.count() === 300L)
    assert(after.filter(col("id") === 0L).select("m").as[Long].head() === 99L)
  }

  test("write-time file stats equal the read-back aggregation over the committed files") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL("id BIGINT, lsn BIGINT, live BOOLEAN, " +
      "i INT, s STRING, d DOUBLE, dt DATE, ts TIMESTAMP, dec DECIMAL(12,3), " +
      "nothing STRING, day INT, region STRING")
    val statsCols = Seq("id", "i", "s", "d", "dt", "ts", "dec", "nothing")
    val data = (0 until 60).map { n =>
      def orNull[T](v: T): Any = if (n % 7 == 3) null else v
      Row(n.toLong, 1L, true, orNull(n * 37 % 23 - 11),
        orNull(Seq("b", "Ä", "a", "\uD83D\uDE00", "")(n % 5) + n),
        if (n % 11 == 5) Double.NaN else orNull(n * 1.25 - 30.0),
        orNull(java.sql.Date.valueOf(s"2024-0${n % 9 + 1}-1${n % 10}")),
        orNull(java.sql.Timestamp.valueOf(s"2024-03-${10 + n % 19} 0${n % 10}:15:30.123456")),
        orNull(new java.math.BigDecimal(s"${n * 13 - 400}.${n % 10}05")),
        null, n % 4, if (n % 13 == 0) null else Seq("x", "y")(n / 4 % 2))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
    // the oracle: the aggregation the committed files read back to
    def checkStats(root: String): Unit = {
      val st = LakeFormat.state(spark, root)
      val present = (statsCols ++ st.meta.partitionCols).distinct
      val aggs = count(lit(1)).as("__rows") +: present.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
      val byFile = spark.read.schema(schema)
        .option("basePath", new java.io.File(root, "data").toString)
        .parquet(st.files.map(a => new java.io.File(root, a.path).toString): _*)
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(aggs.head, aggs.tail: _*).collect()
      assert(byFile.length === st.files.size)
      st.files.foreach { a =>
        val r = byFile.find(_.getAs[String]("__f").endsWith("/" + a.path)).get
        assert(a.rows === r.getAs[Long]("__rows"), a.path)
        present.foreach { c =>
          assert(a.stats(c) === LakeFormat.ColStats(
            schema(c).dataType.simpleString,
            Option(r.getAs[String](s"__min_$c")),
            Option(r.getAs[String](s"__max_$c")),
            r.getAs[Long](s"__nulls_$c")), s"${a.path} $c")
        }
      }
    }
    val flat = freshRoot()
    LakeFormat.create(spark, flat, Seq("id"), statsCols = statsCols)
    LakeFormat.append(df.drop("day", "region"), flat)
    LakeFormat.merge(df.drop("day", "region").filter(col("id") < 10)
      .withColumn("lsn", lit(2L)).withColumn("s", lit("merged")), flat)
    assert(LakeFormat.state(spark, flat).files.size >= 3)
    checkStats(flat)
    // ONE task writes every (day, region) directory: its part-file name
    // repeats across them, and a NULL region lands in the default dir
    val parted = freshRoot()
    LakeFormat.create(spark, parted, Seq("id"), statsCols = statsCols,
      partitionCols = Seq("day", "region"))
    LakeFormat.append(df.coalesce(1), parted)
    val files = LakeFormat.state(spark, parted).files
    assert(files.size === 12, files.map(_.path))
    assert(files.count(_.stats("region").nulls > 0L) === 4)
    checkStats(parted)
  }

  test("pruning handles IN-lists and null-count probes") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("x"))
    // file A: x ∈ [0,9], no nulls; file B: x ∈ [100,107] with 2 nulls;
    // file C: all-null x (min/max absent, nulls = rows)
    LakeFormat.append(spark.range(10).select(col("id"), lit(1L).as("lsn"),
      lit(true).as("live"), col("id").as("x")).coalesce(1), root)
    LakeFormat.append(spark.range(10).select((col("id") + 10).as("id"),
      lit(1L).as("lsn"), lit(true).as("live"),
      when(col("id") < 8, col("id") + 100).as("x")).coalesce(1), root)
    LakeFormat.append(spark.range(5).select((col("id") + 20).as("id"),
      lit(1L).as("lsn"), lit(true).as("live"),
      lit(null).cast("long").as("x")).coalesce(1), root)
    def probe(p: org.apache.spark.sql.Column) = LakeFormat.scan(spark, root, p)
    val in = probe(col("x").isin(3L, 5L))
    assert(in.keptFiles === 1L && in.df.count() === 2L)
    val farIn = probe(col("x").isin(50L, 60L)) // inside no file's range
    assert(farIn.keptFiles === 0L && farIn.df.count() === 0L)
    val isn = probe(col("x").isNull)
    assert(isn.keptFiles === 2L && isn.df.count() === 7L) // B's 2 + C's 5
    val nn = probe(col("x").isNotNull)
    assert(nn.keptFiles === 2L && nn.df.count() === 18L) // A's 10 + B's 8
    val ns = probe(col("x") <=> lit(105L))
    assert(ns.keptFiles === 1L && ns.df.count() === 1L)
    val nsNull = probe(col("x") <=> lit(null).cast("long"))
    assert(nsNull.keptFiles === 2L && nsNull.df.count() === 7L)
  }

  test("additive schema evolution: a new column appends and reads back widened") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.append(rows((1L, 1L, true, "old")), root)
    LakeFormat.append(
      Seq((2L, 1L, true, "new", 42L)).toDF("id", "lsn", "live", "v", "extra"), root)
    val snap = LakeFormat.snapshot(spark, root)
    assert(snap.columns.contains("extra"))
    val got = snap.select("id", "extra").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(1L -> None, 2L -> Some(42L)))
  }

  test("merge widens a column from int to long across commits; the untouched int-era file reads back as long") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // int32-era rows, one file per key
    Seq(1L, 2L).foreach(k => LakeFormat.merge(
      Seq((k, 10L, true, k.toInt * 100)).toDF("id", "lsn", "live", "loyalty"),
      root))
    // upstream ALTER COLUMN TYPE BIGINT: key 2 updates and key 3 inserts
    // with values beyond int32, so a mis-widened merge would overflow
    LakeFormat.merge(Seq((2L, 20L, true, 5000000000L), (3L, 21L, true, 6000000000L))
      .toDF("id", "lsn", "live", "loyalty"), root)
    // key 1's file was not rewritten: it still holds the int vintage
    val key1File = LakeFormat.state(spark, root).files
      .filter(_.stats("id").min.contains("1"))
    assert(key1File.map(a => StructType.fromDDL(a.schemaDdl)("loyalty").dataType)
      === Seq(IntegerType))
    val snap = LakeFormat.snapshot(spark, root)
    assert(snap.schema("loyalty").dataType === LongType)
    assert(snap.select("id", "loyalty").as[(Long, Long)].collect().sortBy(_._1)
      .toSeq === Seq(1L -> 100L, 2L -> 5000000000L, 3L -> 6000000000L))
  }

  test("merge evolves the schema across additive DDL: older rows read null, a batch without the column keeps stored values") {
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 10L, true, "ann"), (2L, 11L, true, "bob"))
      .toDF("id", "lsn", "live", "first_name"), root)
    // upstream DDL added phone: key 2 updates, key 3 inserts
    LakeFormat.merge(Seq((2L, 20L, true, "bob", "555"), (3L, 21L, true, "cay", "777"))
      .toDF("id", "lsn", "live", "first_name", "phone"), root)
    def got() = LakeFormat.snapshot(spark, root)
      .select("id", "first_name", "phone").as[(Long, String, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got() === Seq((1L, "ann", None), (2L, "bob", Some("555")),
      (3L, "cay", Some("777"))))
    // a batch from a reverted producer (no phone) neither un-widens the
    // table nor drops the phone of key 2 stored beside key 3
    LakeFormat.merge(Seq((3L, 30L, true, "cay2"))
      .toDF("id", "lsn", "live", "first_name"), root)
    assert(got() === Seq((1L, "ann", None), (2L, "bob", Some("555")),
      (3L, "cay2", None)))
  }

  test("a (tenant, id) table merged from Cdc.latestWithTombstonesBy equals Cdc.materializeLatestBy") {
    import graft.operators.Cdc
    val root = freshRoot()
    val keys = Seq("tenant", "id")
    LakeFormat.create(spark, root, keys)
    def kr(t: String, id: Long, v: String) = Some(KRow(t, id, v))
    // the same id under two tenants: a single-column fold would collapse them
    val batches = Seq(
      Seq(KEvent(None, kr("a", 1, "a1-v0"), KSrc(10), "c"),
        KEvent(None, kr("b", 1, "b1-v0"), KSrc(11), "c"),
        KEvent(None, kr("a", 2, "a2-v0"), KSrc(12), "c")),
      Seq(KEvent(kr("a", 1, "a1-v0"), kr("a", 1, "a1-v1"), KSrc(20), "u"),
        KEvent(kr("b", 1, "b1-v0"), None, KSrc(21), "d"),
        KEvent(None, kr("b", 2, "b2-v0"), KSrc(22), "c")),
      // a redelivered older update of the deleted (b, 1)
      Seq(KEvent(kr("b", 1, "b1-v0"), kr("b", 1, "b1-stale"), KSrc(15), "u")))
    batches.zipWithIndex.foreach { case (b, i) =>
      LakeFormat.merge(Cdc.latestWithTombstonesBy(b.toDS.toDF, keys), root,
        txn = Some(("tenants", i.toLong)))
    }
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("tenant", "id", "v").as[(String, Long, String)].collect()
        .sortBy(t => (t._1, t._2)).toSeq
    val stored = LakeFormat.snapshot(spark, root)
    val live = triples(stored.filter(col("live")))
    assert(live === triples(
      Cdc.materializeLatestBy(batches.flatten.toDS.toDF, keys)))
    assert(live === Seq(("a", 1L, "a1-v1"), ("a", 2L, "a2-v0"), ("b", 2L, "b2-v0")))
    // the delete is state, not output: its tombstone keeps the winning lsn
    assert(stored.filter(!col("live")).select("tenant", "id", "lsn")
      .as[(String, Long, Long)].collect().toSeq === Seq(("b", 1L, 21L)))
  }

  test("a replica chains from the change feed: cdcApply commits re-wrapped by diffAsChangelog fold to the live snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.Schemas.{CdcEvent, CdcRow, CdcSource}
    import graft.operators.Cdc
    implicit val ctx = spark.sqlContext
    val root = freshRoot()
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    def src(lsn: Long) = CdcSource("v", "postgresql", "cdctest", lsn, None,
      "cdctest", "public", "customers", None, Some(lsn), None)
    def row(id: Long, em: String) =
      Some(CdcRow(id, Some("f"), Some("l"), Option(em)))
    val mem = MemoryStream[CdcEvent]
    val q = streaming.LakeSink.cdcApply(mem.toDF, root, "chain")
      .option("checkpointLocation", Files.createTempDirectory("lake_ck").toString)
      .start()
    mem.addData(
      CdcEvent(None, row(40, "a@x"), src(400), "c", 400),
      CdcEvent(None, row(41, "b@x"), src(410), "c", 410))
    q.processAllAvailable()
    mem.addData(
      CdcEvent(row(40, "a@x"), row(40, "a2@x"), src(401), "u", 401),
      CdcEvent(row(41, "b@x"), None, src(411), "d", 411),
      CdcEvent(None, row(42, "c@x"), src(420), "c", 420))
    q.processAllAvailable(); q.stop()
    val feed = LakeFormat.changeFeed(spark, root, 1L,
      LakeFormat.state(spark, root).version)
    // one commit per data batch: two creates, then u(40), d(41), c(42)
    val byCommit = feed.select("_commit_version", "_change_type", "id")
      .as[(Long, String, Long)].collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r._2, r._3)).toSet)
    assert(byCommit === Seq(Set(("c", 40L), ("c", 41L)),
      Set(("u", 40L), ("d", 41L), ("c", 42L))))
    // the feed's image is the post-image (the pre-image for deletes):
    // re-wrapped as envelopes with lsn = commit version and folded by C4,
    // it reproduces the live snapshot — a replica chains from a replica
    val payload = Seq("first_name", "last_name", "email")
    val diff = feed.select(Seq(col("id"), col("_change_type").as("op"),
        col("_commit_version")) ++ payload.flatMap(c => Seq(
        when(col("_change_type") === "d", col(c)).as(s"b_$c"),
        col(c).as(s"a_$c"))): _*)
    val chained = Cdc.diffAsChangelog(diff, Seq("id"), col("_commit_version"))
    val downstream = Cdc.materializeLatestBy(chained, Seq("id"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val upstream = LakeFormat.snapshot(spark, root).filter(col("live"))
      .drop("live", "lsn").orderBy("id").collect().map(_.toSeq).toSeq
    assert(downstream === upstream && downstream.size === 2)
  }
}

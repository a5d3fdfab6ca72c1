package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.Schemas.{CdcEvent, CdcRow, CdcSource}
import graft.sources.LakeFormat
import graft.streaming.{LakeSink, RetryRunner, Streams}
import java.sql.Timestamp

/** Top-level so Spark can derive an Encoder (inner classes of a suite
  * cannot be encoded without their outer scope).
  */
case class E(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class DocE(doc_id: Long, text: String)

case class LOrd(l_key: Long, l_ts: Timestamp, amount: Double)
case class RPay(r_key: Long, r_ts: Timestamp)

/** T1–T7 driven through MicroBatchExecution via MemoryStream (S2 stand-in —
  * no Kafka broker in this environment), cross-checked against the same
  * combinators run in batch mode (SURVEY.md §5.2.4).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def t(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  /** The parquet files on disk under a lake table's `data/`, relative to
    * its root — compared against a version's add set. */
  def dataFiles(root: String): Set[String] = {
    val it = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(root, "data"), Array("parquet"), true).iterator()
    val b = Set.newBuilder[String]
    while (it.hasNext)
      b += it.next().getPath.stripPrefix(root + "/")
    b.result()
  }

  val sample: Seq[E] = Seq(
    E(1, t(0), 1, "view", 1.0), E(2, t(3), 1, "view", 2.0),
    E(3, t(12), 2, "click", 3.0), E(4, t(14), 1, "view", 4.0),
    E(5, t(27), 2, "view", 5.0))

  test("T1 tumbling window: streaming result equals batch result") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[E]
    val q = Streams.tumblingCounts(mem.toDF).writeStream
      .format("memory").queryName("t1").outputMode("complete").start()
    mem.addData(sample: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t1").orderBy("w_start", "event_type").collect()
    val batch = Streams.tumblingCounts(sample.toDF).orderBy("w_start", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.map(_.getLong(2)).sum === sample.size)
  }

  test("T2 sliding windows double-count rows across overlapping windows") {
    val out = Streams.slidingCounts(sample.toDF).collect()
    assert(out.map(_.getLong(2)).sum === 2L * sample.size) // width=2×slide
  }

  test("T3 session window merges events within gap") {
    val out = Streams.sessionCounts(sample.toDF, "10 minutes")
      .orderBy("user_id", "s_start").collect()
    // user 1: events at minutes 0,3,14 → 0 and 3 merge (3 < 0+10), but
    // 14 > 3+10 starts a new session → two sessions of sizes 2 and 1
    val u1 = out.filter(_.getLong(2) == 1L)
    assert(u1.length === 2 && u1(0).getLong(3) === 2L && u1(1).getLong(3) === 1L)
    // user 2: 12 and 27 are >10min apart → two sessions
    assert(out.count(_.getLong(2) == 2L) === 2)
  }

  test("T3b gaps-and-islands sessionization equals session_window on real events") {
    import graft.operators.Relational
    // session_window(ts, 30min) on the fixture events vs the oracle-checked
    // gaps-and-islands rewrite: same (user, n_events, start) multiset
    val viaWindow = Streams.sessionCounts(
        Tables.events(spark, TestSpark.sf).withColumn("ts",
          timestamp_millis(col("ts_ms"))), "30 minutes")
      .select(col("user_id"), col("n"), unix_millis(col("s_start")).as("start_ms"))
      .orderBy("user_id", "start_ms").collect()
    val viaIslands = Relational.qSessionize(spark, TestSpark.sf)
      .select(col("user_id"), col("n_events"), col("start_ms"))
      .orderBy("user_id", "start_ms").collect()
    assert(viaWindow.length === viaIslands.length)
    viaWindow.zip(viaIslands).foreach { case (w, i) =>
      assert(w.getLong(0) === i.getLong(0))
      assert(w.getLong(1) === i.getLong(1))
      assert(w.getLong(2) === i.getLong(2))
    }
  }

  test("T5 streaming dedup by event_id across micro-batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[E]
    val q = Streams.dedupEvents(mem.toDF).writeStream
      .format("memory").queryName("t5").outputMode("append").start()
    mem.addData(sample.head, sample(1))
    q.processAllAvailable()
    mem.addData(sample.head) // duplicate of event_id=1 in a later batch
    q.processAllAvailable(); q.stop()
    val ids = spark.table("t5").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("T4 watermark is attached to the plan (event-time column ts)") {
    // the analyzer strips watermarks from batch plans — assert on the
    // pre-analysis logical plan, where the node must be present
    val wm = Streams.withLateness(sample.toDF, "30 minutes")
    assert(wm.queryExecution.logical.toString.contains("EventTimeWatermark"))
  }

  test("T4b late data behind the watermark is dropped from finalized windows") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[E]
    val agg = Streams.tumblingCounts(Streams.withLateness(mem.toDF, "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("t4b").outputMode("append").start()
    // batch 1: events in window [0,10); then batch 2 advances event time to
    // minute 60 → watermark ≈ 50 → window [0,10) finalizes and emits
    mem.addData(E(1, t(1), 1, "view", 1.0), E(2, t(2), 1, "view", 1.0))
    q.processAllAvailable()
    mem.addData(E(3, t(60), 1, "view", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE event for the already-finalized window [0,10) — must
    // be dropped, not re-emitted or merged
    mem.addData(E(4, t(3), 1, "view", 99.0))
    q.processAllAvailable()
    mem.addData(E(5, t(120), 1, "view", 1.0)) // push watermark past everything
    q.processAllAvailable(); q.stop()
    // the tumbling window containing t(1): floor to the 10-min grid
    val start = new Timestamp(t(1).getTime - t(1).getTime % 600000L)
    val w0 = spark.table("t4b").filter(col("w_start") === start).collect()
    assert(w0.length === 1)
    assert(w0(0).getLong(2) === 2L)               // late event 4 NOT counted
    assert(w0(0).getDouble(3) === 2.0)            // its value 99.0 absent too
  }

  def src(lsn: Long) = CdcSource("v", "postgresql", "cdctest", lsn, None,
    "cdctest", "public", "customers", None, Some(lsn), None)
  def row(id: Long, em: String) = Some(CdcRow(id, Some("f"), Some("l"), Option(em)))

  test("IVM delta-fold maintains incrementally under MicroBatchExecution, matches batch fold") {
    // the SAME declarative aggMaintain plan runs as a stateful streaming
    // aggregation — Spark maintains the running (n, sum) per group across
    // micro-batches, i.e. native incremental view maintenance; the final
    // state must equal the batch fold over the concatenated changelog
    implicit val ctx = spark.sqlContext
    import graft.operators.Cdc
    def fr(id: Long, fn: String) = Some(CdcRow(id, Some(fn), Some("l"), Some(s"$id@x")))
    val batch1 = Seq(
      CdcEvent(None, fr(1, "alpha"), src(100), "c", 100),
      CdcEvent(None, fr(2, "alpha"), src(200), "c", 200),
      CdcEvent(None, fr(3, "beta"), src(300), "c", 300))
    val batch2 = Seq(
      // cross-group transfer: key 2 moves alpha → beta
      CdcEvent(fr(2, "alpha"), fr(2, "beta"), src(201), "u", 201),
      // retraction to absence: key 3 deleted, beta loses it
      CdcEvent(fr(3, "beta"), None, src(301), "d", 301))
    val mem = MemoryStream[CdcEvent]
    val q = Cdc.aggMaintain(mem.toDF, img => img.getField("first_name"))
      .writeStream.format("memory").queryName("ivm")
      .outputMode("complete").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    val mid = spark.table("ivm").orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(mid.toSeq === Seq(("alpha", 2L, 3L), ("beta", 1L, 3L)))
    mem.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val fin = spark.table("ivm").orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batchFold = Cdc.aggMaintain((batch1 ++ batch2).toDS.toDF,
        img => img.getField("first_name")).orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(fin.toSeq === batchFold.toSeq)
    assert(fin.toSeq === Seq(("alpha", 1L, 1L), ("beta", 1L, 2L)))
  }

  test("durable IVM: per-batch delta states merge additively through the versioned store, replay-idempotent") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Cdc
    def fr(id: Long, fn: String) = Some(CdcRow(id, Some(fn), Some("l"), Some(s"$id@x")))
    val batch1 = Seq(
      CdcEvent(None, fr(1, "alpha"), src(100), "c", 100),
      CdcEvent(None, fr(2, "alpha"), src(200), "c", 200),
      CdcEvent(None, fr(3, "beta"), src(300), "c", 300))
    val batch2 = Seq(
      CdcEvent(fr(2, "alpha"), fr(2, "beta"), src(201), "u", 201),
      CdcEvent(fr(3, "beta"), None, src(301), "d", 301))
    val root = java.nio.file.Files.createTempDirectory("ivmstore").toString + "/s"
    val grp = (img: org.apache.spark.sql.Column) => img.getField("first_name")
    val mem = MemoryStream[CdcEvent]
    val q = Streams.eachBatch(mem.toDS)(Streams.aggMaintainBatch(_, _, root, grp))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckptivm").toString)
      .start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable(); q.stop()
    def state() = Streams.readAggSnapshot(spark, root)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // durable state ≡ the batch fold over the concatenated changelog
    val batchFold = Cdc.aggMaintain((batch1 ++ batch2).toDS.toDF, grp)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(state() === batchFold)
    assert(state() === Seq(("alpha", 1L, 1L), ("beta", 1L, 2L)))
    // crash replay of the LAST batch (its true id is the store's txn
    // mark): a no-op — state and table version unchanged
    val st = LakeFormat.state(spark, root)
    val lastId = st.txns("fold")
    Streams.aggMaintainBatch(batch2.toDF, lastId, root, grp)
    assert(state() === batchFold)
    assert(LakeFormat.state(spark, root).version === st.version)
    // a delete-only epoch retracts alpha's last row to ABSENCE: the
    // group leaves the persisted state entirely (not a zero-count row)
    val batch3 = Seq(CdcEvent(fr(1, "alpha"), None, src(101), "d", 101))
    Streams.aggMaintainBatch(batch3.toDF, lastId + 1, root, grp)
    assert(state() === Seq(("beta", 1L, 2L)))
    assert(LakeFormat.snapshot(spark, root).count() === 1) // no n=0 rows
  }

  test("T12 cross-table tx gate: a commit is invisible until complete across BOTH streams") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.TxInput
    def cust(id: Long, em: String, lsn: Long) =
      TxInput(s"tx-${lsn / 1000}", Some("customers"),
        Some(CdcEvent(None, row(id, em), src(lsn), "c", lsn)), None)
    def ord(id: Long, em: String, lsn: Long) =
      TxInput(s"tx-${lsn / 1000}", Some("orders"),
        Some(CdcEvent(None, row(id, em), src(lsn), "c", lsn)), None)
    def end(tx: String, n: Long) = TxInput(tx, None, None, Some(n))

    val mem = MemoryStream[TxInput]
    val q = Streams.txGate(mem.toDS).writeStream
      .format("memory").queryName("t12").outputMode("update").start()
    // batch 1: tx-1 partially arrived (marker says 3, only 2 events —
    // ONE PER TABLE, so each table alone looks "complete" to any
    // per-table gate); tx-2 fully arrived, marker FIRST
    mem.addData(
      end("tx-2", 2),
      cust(10, "a@x", 1100), ord(90, "o@x", 1150), end("tx-1", 3),
      cust(20, "b@x", 2100), ord(91, "p@x", 2150))
    q.processAllAvailable()
    val after1 = spark.table("t12").select("txId").distinct()
      .collect().map(_.getString(0)).toSet
    assert(after1 === Set("tx-2")) // tx-1 held: NOTHING of it visible
    assert(spark.table("t12").count() === 2)
    // batch 2: tx-1's missing orders event arrives -> whole commit releases
    mem.addData(ord(92, "q@x", 1151))
    q.processAllAvailable(); q.stop()
    val released = spark.table("t12")
    assert(released.count() === 5)
    val tx1 = released.filter(col("txId") === "tx-1")
      .select("table", "event.ts_ms").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    // all three of tx-1's events released together, both tables at once
    assert(tx1 === Seq(("customers", 1100L), ("orders", 1150L),
      ("orders", 1151L)))
    // gate releases everything exactly once: released stream per table ==
    // the ungated inputs per table (same multiset of lsns)
    val relLsns = released.select("event.source.lsn").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(relLsns === Seq(1100L, 1150L, 1151L, 2100L, 2150L))
  }

  test("T5b dropDuplicatesWithinWatermark dedups and bounds state") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[E]
    val q = Streams.dedupWithinWatermark(mem.toDF, "10 minutes").writeStream
      .format("memory").queryName("t5b").outputMode("append").start()
    mem.addData(sample.head, sample.head, sample(1)) // in-batch duplicate
    q.processAllAvailable()
    mem.addData(sample(1))                           // cross-batch duplicate
    q.processAllAvailable(); q.stop()
    val ids = spark.table("t5b").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("T6-alt foreachBatch idempotent snapshot merges across micro-batches") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("snap").toString + "/snap"
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    val mem = MemoryStream[CdcEvent]
    val q = LakeSink.cdcApply(mem.toDF, root, "t6alt")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt").toString)
      .start()
    mem.addData(
      CdcEvent(None, row(30, "a@x"), src(300), "c", 300),
      CdcEvent(None, row(31, "b@x"), src(310), "c", 310))
    q.processAllAvailable()
    mem.addData(
      CdcEvent(row(30, "a@x"), row(30, "a2@x"), src(301), "u", 301),
      CdcEvent(row(31, "b@x"), None, src(311), "d", 311))
    q.processAllAvailable()
    // epoch 3: redelivered OLDER updates — for the deleted key the
    // persisted tombstone (lsn 311) must outrank it (no resurrection); for
    // the still-live key 30 the stored row (lsn 301) must outrank it
    val stale = CdcEvent(row(31, "b@x"), row(31, "stale@x"), src(309), "u", 309)
    mem.addData(stale,
      CdcEvent(row(30, "a@x"), row(30, "z@stale"), src(299), "u", 299))
    q.processAllAvailable(); q.stop()
    val stored = LakeFormat.snapshot(spark, root)
    val live = stored.filter(col("live")).select("id", "email")
      .as[(Long, String)].collect().toSeq
    assert(live === Seq((30L, "a2@x")))
    // the stored state keeps the tombstone with its winning lsn
    assert(stored.filter(!col("live")).select("id", "lsn")
      .as[(Long, Long)].collect().toSeq === Seq((31L, 311L)))
    // replaying the last applied batch id is a no-op: its txn marker
    // committed with its data
    val st = LakeFormat.state(spark, root)
    LakeSink.applyBatch(Seq(stale).toDF, root, "t6alt", st.txns("t6alt"))
    assert(LakeFormat.state(spark, root).version === st.version)
  }

  test("T24 continuous audit: per-epoch verdicts committed; divergence surfaces the epoch it happens; history answers when") {
    import spark.implicits._
    import graft.operators.Cdc
    val alertRoot = java.nio.file.Files.createTempDirectory("t24").toString + "/a"
    val nB = 4
    def cs(df: org.apache.spark.sql.DataFrame) =
      Cdc.bucketChecksums(df, Seq("id"), nB)
    val state0 = (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // epoch 0: replica consistent
    Streams.auditReplicaBatch(cs(state0), state0, 0L, alertRoot, Seq("id"), nB)
    val v0 = Streams.readAuditVerdicts(spark, alertRoot).get
    assert(v0.filter(!col("is_match")).count() === 0)
    assert(v0.select("epoch").distinct().head().getLong(0) === 0L)
    // epoch 1: upstream updated key 6, the replica MISSED the event
    val state1 = (0 until 16)
      .map(i => (i.toLong, if (i == 6) "v6b" else s"v$i")).toDF("id", "v")
    Streams.auditReplicaBatch(cs(state1), state0, 1L, alertRoot, Seq("id"), nB)
    val v1 = Streams.readAuditVerdicts(spark, alertRoot).get
    val bad = v1.filter(!col("is_match")).select("bucket").as[Long].collect()
    val expectBucket = state1.filter(col("id") === 6L)
      .select(org.apache.spark.sql.functions.expr(
        s"CAST(conv(substr(md5(CAST(CAST(id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $nB"))
      .head().getLong(0)
    assert(bad.toSeq === Seq(expectBucket))
    // the alert store is a lake table: "when" is the version whose
    // commit carries epoch 0's txn marker, and its clean verdicts are
    // still readable there
    val v0At = LakeFormat.history(spark, alertRoot)
      .filter(col("txns") === "fold=0").select("version").as[Long].head()
    val prior = LakeFormat.readAsOf(spark, alertRoot, v0At)
    assert(prior.filter(!col("is_match")).count() === 0)
    assert(prior.select("epoch").distinct().as[Long].collect().toSeq ===
      Seq(0L))
  }

  test("C20 x T6: the replica store audits against upstream, repair rewrites only the diverged key's bucket, re-audit is clean") {
    import graft.operators.Cdc
    val root = java.nio.file.Files.createTempDirectory("paudit").toString + "/s"
    val n = 8
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    // upstream truth vs a replica that silently lost key 13's last update
    val src = (0 until 32).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val stale = (0 until 32)
      .map(i => (i.toLong, if (i == 13) "STALE" else s"v$i")).toDF("id", "v")
      .withColumn("lsn", lit(0L)).withColumn("live", lit(true))
    // the replica lands as four files of eight consecutive keys each
    (0 until 4).foreach(f => LakeFormat.append(
      stale.filter(col("id") >= f * 8 && col("id") < f * 8 + 8).coalesce(1),
      root))
    def replica() = LakeFormat.snapshot(spark, root)
      .filter(col("live")).select("id", "v")
    val rep = replica()
    // the checksum audit sees the divergence without a row-level compare
    val audit = Cdc.reconcileChecksums(src, rep, Seq("id"), n)
    assert(audit.filter(!col("is_match")).count() === 1)
    // the bucket-restricted repair names exactly the lost update
    val repair = Cdc.repairFromAudit(src, rep, audit, Seq("id"), n)
    val fixes = repair.collect()
    assert(fixes.length === 1 && fixes(0).getLong(0) === 13L
      && fixes(0).getString(1) === "u")
    // apply as ONE merge at a newer lsn: only the file holding key 13
    // (keys 8..15) is rewritten, the other three keep their files
    val before = LakeFormat.state(spark, root).files
    LakeFormat.merge(repair.select(col("id"), col("a_v").as("v"),
      lit(1L).as("lsn"), (col("op") =!= "d").as("live")), root)
    val after = LakeFormat.state(spark, root).files.map(_.path).toSet
    val removed = before.filterNot(a => after.contains(a.path))
    assert(removed.map(_.stats("id").min) === Seq(Some("8")))
    // clean audit, and the serving path returns the repaired value
    assert(Cdc.reconcileChecksums(src, replica(), Seq("id"), n)
      .filter(!col("is_match")).count() === 0)
    val got = LakeFormat.scan(spark, root, col("id") === 13L)
    assert(got.keptFiles === 1L)
    assert(got.df.select("id", "v").as[(Long, String)].collect().toSeq ===
      Seq((13L, "v13")))
  }

  test("whole-state fold: a commit that throws leaves the prior state readable; re-running the batch id completes it") {
    val root = java.nio.file.Files.createTempDirectory("fold").toString + "/s"
    def ids() = Streams.readErased(spark, root).get.as[Long].collect().toSet
    Streams.erasureLedgerBatch(Seq(1L).toDF("id"), 0L, root)
    val v0 = LakeFormat.state(spark, root).version
    // epoch 1 CRASHES after staging its data, before its commit lands
    LakeFormat.beforeCommitHook = () => {
      LakeFormat.beforeCommitHook = () => ()
      throw new RuntimeException("crash before commit")
    }
    try intercept[RuntimeException](
      Streams.erasureLedgerBatch(Seq(2L).toDF("id"), 1L, root))
    finally LakeFormat.beforeCommitHook = () => ()
    // a reader still sees epoch 0, and no marker for epoch 1 landed
    assert(LakeFormat.state(spark, root).version === v0)
    assert(LakeFormat.state(spark, root).txns === Map("fold" -> 0L))
    assert(ids() === Set(1L))
    // the replay of epoch 1 (same batch id) completes the commit
    Streams.erasureLedgerBatch(Seq(2L).toDF("id"), 1L, root)
    assert(ids() === Set(1L, 2L))
    assert(LakeFormat.state(spark, root).txns === Map("fold" -> 1L))
  }

  test("whole-state fold: after five folds only the current and previous versions' data files remain") {
    val root = java.nio.file.Files.createTempDirectory("foldgc").toString + "/s"
    (0L until 5L).foreach(i =>
      Streams.erasureLedgerBatch(Seq(i).toDF("id"), i, root))
    val tip = LakeFormat.state(spark, root).version
    val kept = (tip - 1 to tip)
      .flatMap(v => LakeFormat.state(spark, root, Some(v)).files.map(_.path))
    assert(kept.nonEmpty && dataFiles(root) === kept.toSet)
    assert(Streams.readErased(spark, root).get.as[Long].collect().toSet ===
      (0L until 5L).toSet)
  }

  test("pointer helper: an empty pointer reads as absent, no temp file is left, the next write repairs it") {
    def pointerFiles(dir: String) = new java.io.File(dir).listFiles()
      .map(_.getName).filterNot(_.endsWith(".crc")).toSet
    // the T18 generation pointer (the write `retrainGeneration` ends with)
    val root = java.nio.file.Files.createTempDirectory("ptr").toString
    val latest = new org.apache.hadoop.fs.Path(root, "_LATEST")
    assert(Streams.currentGeneration(spark, root) === None)
    LakeFormat.writePointer(spark, latest, 0L)
    assert(Streams.currentGeneration(spark, root) === Some(0L))
    assert(pointerFiles(root) === Set("_LATEST"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_LATEST"),
      Array.emptyByteArray)
    assert(Streams.currentGeneration(spark, root) === None)
    // a lake consumer offset, through the same helper
    val dir = java.nio.file.Files.createTempDirectory("off").toString
    LakeFormat.commitConsumerOffset(spark, dir, 3L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(3L))
    assert(pointerFiles(dir) === Set("_offset"))
    // an unparsable pointer too (written through the FS, so the local
    // checksum file stays consistent)
    val off = new org.apache.hadoop.fs.Path(dir, "_offset")
    val out = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(off, true)
    try out.write("not-a-version".getBytes("UTF-8")) finally out.close()
    assert(LakeFormat.consumerOffset(spark, dir) === None)
    // the next write repairs each pointer
    LakeFormat.commitConsumerOffset(spark, dir, 4L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(4L))
    assert(pointerFiles(dir) === Set("_offset"))
    LakeFormat.writePointer(spark, latest, 1L)
    assert(Streams.currentGeneration(spark, root) === Some(1L))
    assert(pointerFiles(root) === Set("_LATEST"))
    // bytes rewritten behind the checksumming FileSystem's back: the
    // `.crc` sibling goes stale and a raw read throws ChecksumException —
    // the helper reads absent instead, and the next write repairs both
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_offset"),
      "7".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_LATEST"),
      "9".getBytes("UTF-8"))
    assert(new java.io.File(dir, "._offset.crc").exists)
    assert(new java.io.File(root, "._LATEST.crc").exists)
    assert(LakeFormat.consumerOffset(spark, dir) === None)
    assert(Streams.currentGeneration(spark, root) === None)
    LakeFormat.commitConsumerOffset(spark, dir, 8L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(8L))
    LakeFormat.writePointer(spark, latest, 2L)
    assert(Streams.currentGeneration(spark, root) === Some(2L))
    assert(pointerFiles(dir) === Set("_offset"))
    assert(pointerFiles(root) === Set("_LATEST"))
  }

  test("R6 retry runner: bounded restarts recover a failing query with no loss or duplication") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("retry").toString
    val mem = MemoryStream[Long]
    val seen = new scala.collection.concurrent.TrieMap[Long, Long]() // value -> batchId
    val dupes = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var armed = true
    def start() = mem.toDS.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], id: Long) =>
        val rows = b.collect()
        // poison micro-batch: the first time value 13 arrives, die AFTER
        // reading but BEFORE the sink write — the classic mid-batch crash
        if (armed && rows.contains(13L)) { armed = false; sys.error("boom") }
        rows.foreach { v => if (seen.putIfAbsent(v, id).isDefined) dupes.incrementAndGet() }
        ()
      }
      .start()
    mem.addData(1L, 2L, 3L)
    mem.addData(13L, 14L) // the poison value is queued before the run
    val res = RetryRunner.runWithRetry(() => {
      val q = start()
      // drain-then-stop on a helper thread so awaitTermination returns
      // cleanly on the successful attempt (and the failing attempt's
      // processAllAvailable error is surfaced via awaitTermination)
      new Thread(() => {
        try { q.processAllAvailable(); q.stop() } catch { case _: Throwable => () }
      }).start()
      q
    }, maxAttempts = 3, backoffMs = 50)
    // one failure consumed one attempt; the restart replayed the poison
    // batch from the checkpoint and delivered every value exactly once
    assert(res.attempts >= 2, res.toString)
    assert(res.errors.nonEmpty && res.errors.head.getMessage.contains("boom"))
    assert(seen.keySet === Set(1L, 2L, 3L, 13L, 14L))
    assert(dupes.get() === 0)
  }

  test("R6 checkpoint recovery: file-source stream resumes after stop without reprocessing") {
    // The reference consumer restarts via retry + autocommit (main.py:19-35,
    // 52-53, at-least-once). The Spark replacement: checkpointed source
    // offsets — a restarted query resumes exactly after the last committed
    // epoch. Driven with the file source (the only restartable source here).
    val base = java.nio.file.Files.createTempDirectory("r6").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val schema = sample.toDF.schema
    def start() = spark.readStream.schema(schema).parquet(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    sample.take(2).toDF.write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 2)
    sample.drop(2).toDF.write.mode("append").parquet(in)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val finalIds = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    // exactly once: batch-1 rows not re-emitted on restart
    assert(finalIds.toSeq === sample.map(_.event_id).sorted)
  }

  test("T7 output modes: complete/append/update all supported by the combinators") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[E]
    // append mode on a windowed agg requires a watermark
    val agg = Streams.tumblingCounts(Streams.withLateness(mem.toDF, "5 minutes"))
    val q = agg.writeStream.format("memory").queryName("t7").outputMode("append").start()
    mem.addData(sample: _*)
    q.processAllAvailable(); q.stop()
    // append emits only finalized windows (watermark passed); just assert it ran
    assert(spark.table("t7").columns.contains("n"))
  }

  test("T8 streaming decontamination equals the batch operator") {
    implicit val ctx = spark.sqlContext
    val bench = Seq(DocE(1, "a b c d e f"), DocE(2, "q r s t u v w")).toDF
    val stream = Seq(
      DocE(10, "a b c d e f g"),   // shares shingles with bench doc 1
      DocE(11, "x y z p d q n m"), // no 5-gram overlap
      DocE(12, "q r s t u"))       // one shared shingle with bench doc 2
    val benchShingles = graft.operators.Text.shingles(bench)
    val mem = MemoryStream[DocE]
    val q = Streams.decontaminateStream(mem.toDF, benchShingles).writeStream
      .format("memory").queryName("t8").outputMode("complete").start()
    mem.addData(stream: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t8").orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    // batch twin over the same union: contaminated docs only, same counts
    val batch = graft.operators.Text.decontaminate(
        (bench.as[DocE].collect().toSeq ++ stream).toDF,
        graft.operators.Text.shingles((bench.as[DocE].collect().toSeq ++ stream).toDF),
        benchMax = 10L)
      .filter(col("n_hits") > 0)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toSeq.sorted
    assert(streamed === batch)
    assert(streamed.map(_._1) === Seq(10L, 12L))
  }

  test("T8-bloom streaming decontamination: never misses a contaminated doc, matches its own batch twin") {
    implicit val ctx = spark.sqlContext
    import graft.functions.BloomMembership
    val bench = Seq(DocE(1, "a b c d e f"), DocE(2, "q r s t u v w")).toDF
    val stream = Seq(
      DocE(10, "a b c d e f g"),   // shares shingles with bench doc 1
      DocE(11, "x y z p d q n m"), // no 5-gram overlap
      DocE(12, "q r s t u"))       // one shared shingle with bench doc 2
    // sketch built once in batch (the production split: index offline,
    // stream online)
    val sketch = graft.operators.Text.shingles(bench)
      .agg(BloomMembership.bloomAgg(col("hs"), 1024L, 1L << 14).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val mem = MemoryStream[DocE]
    val q = Streams.decontaminateStreamBloom(mem.toDF, sketch).writeStream
      .format("memory").queryName("t8b").outputMode("complete").start()
    mem.addData(stream: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t8b").orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    // the same combinator in batch mode — stream ≡ batch determinism
    val batch = Streams.decontaminateStreamBloom(stream.toDF, sketch)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(streamed === batch)
    // no-false-negative direction: the exactly-contaminated docs (10, 12)
    // are present with AT LEAST their exact hit counts
    val flagged = streamed.toMap
    assert(flagged.contains(10L) && flagged.contains(12L))
    assert(flagged(10L) >= 2L && flagged(12L) >= 1L)
  }

  test("T13 incremental near-dup stream equals batch MinHash LSH on the unioned corpus") {
    import graft.operators.Text
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    // static corpus + two stream increments, interleaved by id so near-dup
    // pairs exist within AND across every split
    val static0 = docs.filter(_.doc_id % 3 == 0)
    val inc1 = docs.filter(_.doc_id % 3 == 1)
    val inc2 = docs.filter(_.doc_id % 3 == 2)
    // precondition for stream≡batch: no full-corpus bucket exceeds the cap
    // (cap timing differs between one-shot and incremental otherwise)
    val fullBands = Text.minhashBands(Text.shingles(docs.toDF), Int.MaxValue)
    val maxBucket = fullBands.groupBy("band", "key").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= Text.defaultMaxBucket,
      s"fixture bucket $maxBucket exceeds cap — pick a different split")
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    val bandDir = s"$dir/bands"; val pairDir = s"$dir/pairs"
    // seed the store with the static corpus's bands (the "existing index")
    Streams.seedBandStore(Text.minhashBands(Text.shingles(static0.toDF)), bandDir)
    val mem = MemoryStream[DocE]
    val q = Streams.eachBatch(mem.toDF)(Streams.nearDupBatch(_, _, bandDir, pairDir))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt13").toString)
      .start()
    mem.addData(inc1: _*)
    q.processAllAvailable()
    mem.addData(inc2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = Streams.readNearDupPairs(spark, pairDir)
      .as[(Long, Long)].collect().toSet
    // batch twin: all-at-once LSH candidates over the full corpus, minus
    // the pairs internal to the pre-existing static corpus (the stream
    // never re-examines static×static — that is the INCREMENTAL point)
    val all = Text.lshCandidates(Text.shingles(docs.toDF))
      .as[(Long, Long)].collect().toSet
    val staticOnly = Text.lshCandidates(Text.shingles(static0.toDF))
      .as[(Long, Long)].collect().toSet
    assert(streamed === (all -- staticOnly),
      s"missing=${(all -- staticOnly -- streamed).take(5)} extra=${(streamed -- all).take(5)}")
    assert(streamed.nonEmpty) // the fixture must actually exercise pairs
    // CRASH REPLAY: foreachBatch is at-least-once — re-running the LAST
    // batch (the inc2 increment, at the id its epoch mark records) must
    // leave both stores untouched: a no-op at each store's epoch gate
    val bandsBefore = Streams.readBandStore(spark, bandDir)
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    val last = LakeFormat.state(spark, bandDir).txns("epoch")
    val versions = Seq(bandDir, pairDir).map(LakeFormat.state(spark, _).version)
    Streams.nearDupBatch(inc2.toDF, last, bandDir, pairDir)
    assert(Seq(bandDir, pairDir).map(LakeFormat.state(spark, _).version) ===
      versions)
    val streamedAfter = Streams.readNearDupPairs(spark, pairDir)
      .as[(Long, Long)].collect().toSet
    val bandsAfter = Streams.readBandStore(spark, bandDir)
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    assert(streamedAfter === streamed, "replayed batch changed the pair set")
    assert(bandsAfter === bandsBefore, "replayed batch changed the band store")
  }

  test("T13 band-store compaction: next increment discovers identical pairs; re-cap bounds buckets; torn compaction resumes") {
    import graft.operators.Text
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    val inc0 = docs.filter(_.doc_id % 3 == 0)
    val inc1 = docs.filter(_.doc_id % 3 == 1)
    val inc2 = docs.filter(_.doc_id % 3 == 2)
    // two identical stores fed by the same two batches; B gets compacted
    val dirA = java.nio.file.Files.createTempDirectory("bcA").toString
    val dirB = java.nio.file.Files.createTempDirectory("bcB").toString
    for (d <- Seq(dirA, dirB)) {
      Streams.nearDupBatch(inc0.toDF, 0L, s"$d/bands", s"$d/pairs")
      Streams.nearDupBatch(inc1.toDF, 1L, s"$d/bands", s"$d/pairs")
    }
    Streams.compactBandStore(spark, s"$dirB/bands", upTo = 1L)
    // compaction is layout-only: the store contents are unchanged...
    val a = Streams.readBandStore(spark, s"$dirA/bands")
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    val b = Streams.readBandStore(spark, s"$dirB/bands")
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    assert(a === b)
    // ...and the epochs collapsed into one overwrite commit carrying the
    // compaction mark
    assert(LakeFormat.state(spark, s"$dirB/bands").txns.get("compact") ===
      Some(1L))
    assert(LakeFormat.history(spark, s"$dirB/bands", limit = 1)
      .select("op").as[String].head() === "overwrite")
    // the NEXT increment discovers the same pairs on both stores
    Streams.nearDupBatch(inc2.toDF, 2L, s"$dirA/bands", s"$dirA/pairs")
    Streams.nearDupBatch(inc2.toDF, 2L, s"$dirB/bands", s"$dirB/pairs")
    val pa = Streams.readNearDupPairs(spark, s"$dirA/pairs")
      .as[(Long, Long)].collect().toSet
    val pb = Streams.readNearDupPairs(spark, s"$dirB/pairs")
      .as[(Long, Long)].collect().toSet
    assert(pa === pb && pa.nonEmpty)
    // re-cap: compacting with a tiny cap bounds every (band, key) bucket
    Streams.compactBandStore(spark, s"$dirB/bands", upTo = 2L, maxBucket = 2)
    val maxAfter = Streams.readBandStore(spark, s"$dirB/bands")
      .groupBy("band", "key").count().agg(max("count"))
      .collect()(0).getLong(0)
    assert(maxAfter <= 2)
    // torn compaction resumes: a crash after the rewrite is staged but
    // before its commit leaves the store as it was; the re-run completes
    val dirC = java.nio.file.Files.createTempDirectory("bcC").toString
    Streams.nearDupBatch(inc0.toDF, 0L, s"$dirC/bands", s"$dirC/pairs")
    Streams.nearDupBatch(inc1.toDF, 1L, s"$dirC/bands", s"$dirC/pairs")
    def bandsC() = Streams.readBandStore(spark, s"$dirC/bands")
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    val preTorn = bandsC()
    LakeFormat.beforeCommitHook = () => {
      LakeFormat.beforeCommitHook = () => ()
      throw new RuntimeException("crash before commit")
    }
    try intercept[RuntimeException](
      Streams.compactBandStore(spark, s"$dirC/bands", upTo = 1L))
    finally LakeFormat.beforeCommitHook = () => ()
    assert(bandsC() === preTorn)
    Streams.compactBandStore(spark, s"$dirC/bands", upTo = 1L)
    assert(bandsC() === preTorn)
    assert(LakeFormat.state(spark, s"$dirC/bands").txns.get("compact") ===
      Some(1L))
  }

  test("T20 durable streaming heavy hitters: MG guarantee survives epochs, O(k) state, replay-idempotent") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("hh").toString + "/mg"
    val k = 5
    // three batches; "hot" is heavy (60 of 125 > N/k = 25), "warm" is not;
    // 40 distinct cold tokens pressure the k-1 counter budget every batch
    def colds(lo: Int, hi: Int) = (lo until hi).map(i => s"cold$i")
    val b0 = Seq.fill(25)("hot") ++ Seq.fill(10)("warm") ++ colds(0, 13)
    val b1 = Seq.fill(20)("hot") ++ Seq.fill(10)("warm") ++ colds(13, 27)
    val b2 = Seq.fill(15)("hot") ++ Seq.fill(5)("warm") ++ colds(27, 40)
    val all = b0 ++ b1 ++ b2
    val mem = MemoryStream[String]
    val q = Streams.eachBatch(mem.toDF.toDF("token"))(
        Streams.heavyHittersBatch(_, _, root, k))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt20").toString)
      .start()
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val summary = Streams.readHeavyHitters(spark, root)
      .as[(String, Long, Long)].collect()
    val n = summary.head._3
    assert(n === all.size.toLong)
    assert(summary.length <= k - 1, s"state exceeded k-1: ${summary.length}")
    val est = summary.map(r => r._1 -> r._2).toMap
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // the MG theorem, post-merge: every token with true count > N/k is
    // present; estimates only undercount, by at most N/k
    assert(est.contains("hot"), s"heavy token missing from $est")
    est.foreach { case (t, e) =>
      assert(e <= truth(t), s"$t overcounted: $e > ${truth(t)}")
      assert(truth(t) - e <= n / k, s"$t undercount exceeds N/k")
    }
    // crash replay: a no-op at the txn gate, so N is NOT double-counted
    // and the committed summary keeps its guarantee
    Streams.heavyHittersBatch(b2.toDF("token"), 2L, root, k)
    val replayed = Streams.readHeavyHitters(spark, root)
      .as[(String, Long, Long)].collect()
    assert(replayed.head._3 === n, "replay double-counted the stream")
    assert(replayed.length <= k - 1)
    assert(replayed.map(_._1).contains("hot"))
    replayed.foreach { case (t, e, _) =>
      assert(e <= truth(t) && truth(t) - e <= n / k)
    }
  }

  test("T23 incremental SCD2: history == batch fold over concatenated changelog; late events and delete-then-recreate exact; untouched buckets untouched") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Cdc
    val root = java.nio.file.Files.createTempDirectory("scd2").toString + "/h"
    def e(id: Long, op: String, lsn: Long, em: String): CdcEvent = op match {
      case "c" => CdcEvent(None, row(id, em), src(lsn), "c", lsn)
      case "u" => CdcEvent(row(id, "old"), row(id, em), src(lsn), "u", lsn)
      case "d" => CdcEvent(row(id, em), None, src(lsn), "d", lsn)
    }
    // key 4 arrives alone, so its rows sit in a file no later batch touches
    val b4 = Seq(e(4, "c", 50, "d1"))
    val b0 = Seq(e(1, "c", 100, "a1"), e(2, "c", 200, "b1"), e(3, "c", 300, "c1"))
    val b1 = Seq(e(1, "u", 110, "a2"), e(2, "d", 210, "b1"), e(3, "u", 310, "c2"))
    // b2: key 2 re-created AFTER its delete; key 1 gets a LATE event
    // (lsn 105, older than the open interval's 110) plus a fresh update
    val b2 = Seq(e(2, "c", 230, "b2"), e(1, "u", 105, "a1b"), e(1, "u", 120, "a3"))
    val mem = MemoryStream[CdcEvent]
    val q = Streams.eachBatch(mem.toDS)(Streams.scd2Batch(_, _, root))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt23").toString)
      .start()
    def files() = LakeFormat.state(spark, root).files
    mem.addData(b4: _*); q.processAllAvailable()
    val key4Files = files().map(_.path)
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    val beforeB2 = files()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    def hist(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "valid_from", "valid_to", "email")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
        .toSet
    val got = hist(Streams.readScd2(spark, root).get)
    // the batch operator over the concatenated changelog is the oracle —
    // including the late event, which a close-and-append form would corrupt
    val expected = hist(Cdc.scd2By((b4 ++ b0 ++ b1 ++ b2).toDS.toDF, Seq("id")))
    assert(got === expected)
    // the re-created key's history shows the gap: [200,210) then [230,)
    assert(got.contains((2L, 200L, Some(210L), "b1")))
    assert(got.contains((2L, 230L, None, "b2")))
    // the late event landed inside key 1's history
    assert(got.contains((1L, 105L, Some(110L), "a1b")))
    // b2 touched keys 1 and 2 only: its commit removed only files holding
    // them, and key 4's file survived every commit
    val afterB2 = files().map(_.path).toSet
    val removed = beforeB2.filterNot(a => afterB2.contains(a.path))
    assert(removed.nonEmpty &&
      removed.forall(_.stats("id").min.exists(_.toLong <= 2L)))
    assert(key4Files.nonEmpty && key4Files.forall(afterB2.contains))
    // crash replay of the last batch id: its txn marker makes it a no-op
    val st = LakeFormat.state(spark, root)
    Streams.scd2Batch(b2.toDS.toDF, st.txns("scd2"), root)
    assert(LakeFormat.state(spark, root).version === st.version)
    // redelivery under a NEW batch id: the (id, lsn) dedup keeps the
    // rebuilt history identical
    Streams.scd2Batch(b2.toDS.toDF, st.txns("scd2") + 1, root)
    assert(hist(Streams.readScd2(spark, root).get) === expected)
  }

  test("T21 durable streaming distinct count: HLL union across epochs, O(sketch) state, replay byte-identical, empty batch no-op") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("hll").toString + "/dc"
    // overlapping epochs: 80 distinct items ever seen
    val b0 = (0 until 40).map(i => s"u$i")
    val b1 = (20 until 60).map(i => s"u$i")
    val b2 = (50 until 80).map(i => s"u$i")
    val mem = MemoryStream[String]
    val q = Streams.eachBatch(mem.toDF.toDF("item"))(
        Streams.distinctCountBatch(_, _, root))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt21").toString)
      .start()
    mem.addData(b0: _*); q.processAllAvailable()
    val est0 = Streams.readDistinctCount(spark, root)
    mem.addData(b1: _*); q.processAllAvailable()
    val est1 = Streams.readDistinctCount(spark, root)
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val est2 = Streams.readDistinctCount(spark, root)
    // distinct-count estimates are monotone across epochs and within the
    // 5% bound (at these cardinalities the sketch is in its exact regime)
    assert(est0 <= est1 && est1 <= est2)
    assert(math.abs(est2 - 80L) * 100 <= 80L * 5, s"estimate $est2 off 80")
    // replay of the last batch is a no-op at the txn gate: the committed
    // sketch stays BYTE-identical
    val before = Streams.readDistinctSketch(spark, root).get
    Streams.distinctCountBatch(b2.toDF("item"), 2L, root)
    val after = Streams.readDistinctSketch(spark, root).get
    assert(java.util.Arrays.equals(before, after), "replay changed the sketch")
    assert(Streams.readDistinctCount(spark, root) === est2)
    // an empty batch commits the carried state unchanged
    Streams.distinctCountBatch(
      spark.emptyDataset[String].toDF("item"), 3L, root)
    assert(java.util.Arrays.equals(
      Streams.readDistinctSketch(spark, root).get, after))
    assert(Streams.readDistinctCount(spark, root) === est2)
  }

  test("T22 durable streaming CMS: merged grid == single-pass grid, x4m bounds hold after epochs, replay byte-identical") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("cms").toString + "/fq"
    val eps = 0.1 // width 28 < vocabulary so collisions are exercised
    def colds(lo: Int, hi: Int) = (lo until hi).map(i => s"c$i")
    val b0 = Seq.fill(30)("hot") ++ Seq.fill(8)("warm") ++ colds(0, 20)
    val b1 = Seq.fill(25)("hot") ++ colds(20, 40)
    val b2 = Seq.fill(12)("warm") ++ colds(40, 60)
    val all = b0 ++ b1 ++ b2
    val mem = MemoryStream[String]
    val q = Streams.eachBatch(mem.toDF.toDF("item"))(
        Streams.cmsBatch(_, _, root, eps = eps))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt22").toString)
      .start()
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    // CMS merge is counter addition: the committed grid after three
    // epochs equals ONE count_min_sketch pass over the whole stream
    val single = all.toDF("item")
      .agg(count_min_sketch(col("item"), lit(eps), lit(0.99), lit(42)).as("s"))
      .head().getAs[Array[Byte]]("s")
    val committed = Streams.readCmsSketch(spark, root).get
    assert(java.util.Arrays.equals(committed, single),
      "merged epochs diverged from the single-pass sketch")
    // the x4m contract on the durable grid: no undercount, overcount
    // bounded by 2 eps N for every distinct item; an absent item probes >= 0
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    val probes = (truth.keySet + "never_seen").toSeq.sorted.toDF("item")
    val est = Streams.readCmsEstimates(spark, root, probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (t, c) =>
      assert(est(t) >= c, s"$t undercounted: ${est(t)} < $c")
      assert(est(t) - c <= (2 * eps * n).toLong, s"$t overcount unbounded")
    }
    assert(est("never_seen") >= 0L)
    // replay is a no-op at the txn gate -> identical bytes
    Streams.cmsBatch(b2.toDF("item"), 2L, root, eps = eps)
    assert(java.util.Arrays.equals(
      Streams.readCmsSketch(spark, root).get, committed))
    // an empty batch carries the state unchanged
    Streams.cmsBatch(spark.emptyDataset[String].toDF("item"), 3L, root, eps = eps)
    assert(java.util.Arrays.equals(
      Streams.readCmsSketch(spark, root).get, committed))
  }

  test("T26 durable streaming quantiles: Q-digest rank bound survives epochs, " +
      "O(digest) state, replay byte-identical, merge commutes, empty batch no-op") {
    implicit val ctx = spark.sqlContext
    val Q = graft.functions.QDigest
    val root = java.nio.file.Files.createTempDirectory("qd26").toString + "/qd"
    val k = 256
    // skewed, overlapping epochs over a 0..1999 domain
    val b0 = (0 until 400).map(i => (i * 7 % 1000).toLong)
    val b1 = (0 until 300).map(i => (i * 13 % 500 + 200).toLong)
    val b2 = (0 until 300).map(i => (i * 31 % 2000).toLong)
    val all = b0 ++ b1 ++ b2
    val mem = MemoryStream[Long]
    val q = Streams.eachBatch(mem.toDF.toDF("v"))(
        Streams.quantileBatch(_, _, root, k))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt26").toString)
      .start()
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val (digest, n) = Streams.readQuantileDigest(spark, root)
    assert(n === all.size.toLong)
    assert(Q.total(digest) === n) // no count lost through any epoch fold
    assert(digest.size <= 3 * k, s"digest ${digest.size} nodes exceeds 3k")
    // the Q-digest theorem on the committed state: rank error within
    // log2(U) * floor(n/k) at every quantile, NO slack factor
    val sorted = all.sorted
    val bound = Q.logU * math.max(1L, n / k)
    for (p <- Seq(1L, 10L, 25L, 50L, 75L, 90L, 99L)) {
      val dv = Q.quantile(digest, n, p, 100L)
      val target = (p * n + 99L) / 100L
      val rLo = sorted.count(_ < dv).toLong
      val rHi = sorted.count(_ <= dv).toLong
      assert(rHi >= target - bound && rLo <= target + bound,
        s"p$p: dv=$dv rank[$rLo,$rHi] target=$target bound=$bound")
    }
    // replay is a no-op at the txn gate: committed digest unchanged
    def stateRows() = LakeFormat.snapshot(spark, root)
      .select("node", "cnt", "n_total").orderBy("node")
      .as[(Long, Long, Long)].collect().toSeq
    val before = stateRows()
    // replay the LAST batch at its true id (the engine may have burned a
    // batch id on an initial empty batch — read it from the txn mark)
    val lastId = LakeFormat.state(spark, root).txns("fold")
    Streams.quantileBatch(b2.toDF("v"), lastId, root, k)
    assert(stateRows() === before, "replay changed the committed digest")
    // an empty batch carries the state unchanged
    Streams.quantileBatch(spark.emptyDataset[Long].toDF("v"), lastId + 1, root, k)
    assert(stateRows() === before)
    // mergeability is count addition: merge commutes byte-for-byte
    val dA = Q.compress(b0.groupBy(identity).view
      .mapValues(_.size.toLong).map { case (v, c) => Q.leaf(v) -> c }
      .toMap, b0.size.toLong, k)
    val dB = Q.compress(b1.groupBy(identity).view
      .mapValues(_.size.toLong).map { case (v, c) => Q.leaf(v) -> c }
      .toMap, b1.size.toLong, k)
    val nAB = (b0.size + b1.size).toLong
    assert(Q.merge(dA, dB, nAB, k) === Q.merge(dB, dA, nAB, k))
  }

  test("T27 streaming temporal enrichment: stream == C22 batch join when dims " +
      "lead, delete-gap and unknown keys carry nulls, replay idempotent") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Cdc
    val root = java.nio.file.Files.createTempDirectory("t27").toString + "/h"
    val outDir = java.nio.file.Files.createTempDirectory("t27o").toString
    def e(id: Long, op: String, lsn: Long, em: String): CdcEvent = op match {
      case "c" => CdcEvent(None, row(id, em), src(lsn), "c", lsn)
      case "u" => CdcEvent(row(id, "old"), row(id, em), src(lsn), "u", lsn)
      case "d" => CdcEvent(row(id, em), None, src(lsn), "d", lsn)
    }
    // same dimension schedule as T23: late event, delete, re-create
    val dims = Seq(
      e(1, "c", 100, "a1"), e(2, "c", 200, "b1"), e(3, "c", 300, "c1"),
      e(1, "u", 110, "a2"), e(2, "d", 210, "b1"), e(3, "u", 310, "c2"),
      e(2, "c", 230, "b2"), e(1, "u", 105, "a1b"), e(1, "u", 120, "a3"))
    val dmem = MemoryStream[CdcEvent]
    val dq = Streams.eachBatch(dmem.toDS)(Streams.scd2Batch(_, _, root))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt27d").toString)
      .start()
    dmem.addData(dims: _*); dq.processAllAvailable(); dq.stop()
    // facts: in-version, late-version, delete-gap, unknown-key,
    // before-history — every left-join audit case
    val fb0 = Seq((1L, 1L, 102L), (2L, 1L, 115L), (3L, 2L, 205L))
    val fb1 = Seq((4L, 2L, 215L), (5L, 2L, 240L), (6L, 3L, 305L),
      (7L, 99L, 100L), (8L, 1L, 50L))
    val fmem = MemoryStream[(Long, Long, Long)]
    val fq = Streams.eachBatch(fmem.toDF.toDF("orderkey", "custkey", "flsn"))(
        Streams.enrichFactsBatch(_, _, root, outDir))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt27f").toString)
      .start()
    fmem.addData(fb0: _*); fq.processAllAvailable()
    fmem.addData(fb1: _*); fq.processAllAvailable(); fq.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("orderkey", "custkey", "flsn", "email").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.getString(3)))).toSet
    val got = rows(Streams.readEnrichedFacts(spark, outDir))
    // C22 batch oracle: the same interval join against the batch fold
    val factsDf = (fb0 ++ fb1).toDF("orderkey", "custkey", "flsn")
    val hist = Cdc.scd2By(dims.toDS.toDF, Seq("id"))
    val exp = rows(factsDf.join(hist,
      factsDf("custkey") === hist("id") &&
        factsDf("flsn") >= hist("valid_from") &&
        (hist("valid_to").isNull || factsDf("flsn") < hist("valid_to")),
      "left"))
    assert(got === exp)
    // the audit cases, pinned: delete gap, unknown key, pre-history
    assert(got.contains((4L, 2L, 215L, None)))
    assert(got.contains((7L, 99L, 100L, None)))
    assert(got.contains((8L, 1L, 50L, None)))
    // the late dimension event (lsn 105) is visible to facts in [105,110)
    assert(got.contains((1L, 1L, 102L, Some("a1"))))
    assert(got.contains((2L, 1L, 115L, Some("a2"))))
    // replay of the last fact batch (the id its epoch mark records) is a
    // no-op: the store version does not move, the rows are unchanged
    val last = LakeFormat.state(spark, outDir).txns("epoch")
    val v = LakeFormat.state(spark, outDir).version
    Streams.enrichFactsBatch(fb1.toDF("orderkey", "custkey", "flsn"),
      last, root, outDir)
    assert(LakeFormat.state(spark, outDir).version === v)
    assert(rows(Streams.readEnrichedFacts(spark, outDir)) === got)
  }

  test("T28 exactly-once outbox publish: overlapping at-least-once batches " +
      "never re-publish, replay idempotent, purges dropped, hwm is O(1)") {
    val root = java.nio.file.Files.createTempDirectory("t28").toString + "/hwm"
    val outDir = java.nio.file.Files.createTempDirectory("t28o").toString
    def toDf(evs: Seq[(String, Long, Long, String)]) =
      evs.toDF("op", "lsn", "agg", "pay").select(col("op"),
        struct(col("lsn").as("id"), lit("OrderCreated").as("aggregatetype"),
          col("agg").as("aggregateid"), col("pay").as("payload")).as("after"),
        struct(col("lsn")).as("source"))
    // b1 re-delivers lsn 20 (at-least-once overlap) and carries an
    // in-batch duplicate of 30; b2 re-delivers 30; purges (op=u) never
    // publish at any point
    val b0 = Seq(("c", 10L, 1L, "p10"), ("c", 20L, 2L, "p20"),
      ("u", 21L, 2L, "purge"))
    val b1 = Seq(("c", 20L, 2L, "p20"), ("c", 30L, 3L, "p30"),
      ("c", 30L, 3L, "p30"), ("c", 40L, 4L, "p40"))
    val b2 = Seq(("c", 30L, 3L, "p30"), ("c", 50L, 5L, "p50"))
    Streams.outboxPublishBatch(toDf(b0), 0L, root, outDir)
    Streams.outboxPublishBatch(toDf(b1), 1L, root, outDir)
    Streams.outboxPublishBatch(toDf(b2), 2L, root, outDir)
    def published() = Streams.readPublished(spark, outDir)
      .select("lsn", "key", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(_._1)
    val got = published()
    // each event exactly once, purge lsn 21 absent, payloads intact
    assert(got.map(_._1) === Seq(10L, 20L, 30L, 40L, 50L))
    assert(got === Seq((10L, "1", "p10"), (20L, "2", "p20"),
      (30L, "3", "p30"), (40L, "4", "p40"), (50L, "5", "p50")))
    // the ledger is ONE row
    assert(LakeFormat.snapshot(spark, root).count() === 1L)
    // crash replay of the last batch: a no-op at the txn gate — nothing
    // re-published, the ledger's version does not move
    val v2 = LakeFormat.state(spark, root).version
    Streams.outboxPublishBatch(toDf(b2), 2L, root, outDir)
    assert(published() === got)
    assert(LakeFormat.state(spark, root).version === v2)
    // an empty batch advances nothing
    Streams.outboxPublishBatch(toDf(Seq.empty), 3L, root, outDir)
    assert(published() === got)
    // ORDERING AUDIT: lsn 25 sits below the hwm (50) but was never
    // delivered before — the O(1) ledger would drop it as a duplicate
    // forever; the audit must THROW instead (at-least-once overlaps
    // above passed it, so the audit fires only on true reordering)
    val e = intercept[Exception](Streams.outboxPublishBatch(
      toDf(Seq(("c", 25L, 9L, "p25"))), 4L, root, outDir))
    assert(e.getMessage.contains("out-of-order"))
    assert(published() === got) // failed batch published nothing
  }

  test("T29 bucketed sketch store: per-day HLL unions give any trailing-window " +
      "distinct within bound, replay byte-identical, empty batch no-op") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("t29").toString + "/sk"
    // (day, user) activity: 10 days, overlapping user sets, users split
    // across batches so per-bucket sketches must MERGE across epochs
    def acts(days: Range, salt: Int) = for {
      d <- days; u <- 0 until 60
    } yield (d.toLong, s"u${(u * salt + d) % 150}")
    val b0 = acts(0 until 4, 1)
    val b1 = acts(2 until 7, 7)
    val b2 = acts(5 until 10, 11)
    val all = b0 ++ b1 ++ b2
    // direct batch drive (precise epoch ids — the byte-identity contract
    // is per-id; the foreachBatch wrapper is smoke-tested below)
    Streams.bucketSketchBatch(b0.toDF("bucket", "item"), 0L, root)
    Streams.bucketSketchBatch(b1.toDF("bucket", "item"), 1L, root)
    Streams.bucketSketchBatch(b2.toDF("bucket", "item"), 2L, root)
    // every trailing-7-day window estimate within 5% of exact (these
    // cardinalities sit in HLL's near-exact regime)
    for (d <- 0L until 10L) {
      val exact = all.filter(t => t._1 >= d - 6 && t._1 <= d)
        .map(_._2).distinct.size.toLong
      val est = Streams.readRangeDistinct(spark, root, d - 6, d)
      assert(math.abs(est - exact) * 100 <= exact * 5,
        s"window [${d - 6},$d]: est=$est exact=$exact")
    }
    // single-bucket (DAU) reads too
    val exact3 = all.filter(_._1 == 3L).map(_._2).distinct.size.toLong
    val est3 = Streams.readRangeDistinct(spark, root, 3L, 3L)
    assert(math.abs(est3 - exact3) * 100 <= exact3 * 5)
    // the q33b MONTHLY window (w = 28): a range wider than the stored
    // bucket span unions every committed sketch and must stay in bound
    val exactAll = all.map(_._2).distinct.size.toLong
    val est28 = Streams.readRangeDistinct(spark, root, 9L - 27, 9L)
    assert(math.abs(est28 - exactAll) * 100 <= exactAll * 5,
      s"window [-18,9]: est=$est28 exact=$exactAll")
    // out-of-range and never-written buckets read 0
    assert(Streams.readRangeDistinct(spark, root, 100L, 200L) === 0L)
    // replay of the last batch recommits byte-identical sketch rows
    def stateRows() = LakeFormat.snapshot(spark, root)
      .select("bucket", "sketch").orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq
    val before = stateRows()
    Streams.bucketSketchBatch(b2.toDF("bucket", "item"), 2L, root)
    assert(stateRows() === before, "replay changed the sketch store")
    Streams.bucketSketchBatch(
      spark.emptyDataset[(Long, String)].toDF("bucket", "item"), 3L, root)
    assert(stateRows() === before)
    // foreachBatch wrapper smoke: a fresh store fed through the stream
    // reads sane estimates
    val root2 = java.nio.file.Files.createTempDirectory("t29b").toString + "/sk"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.eachBatch(mem.toDF.toDF("bucket", "item"))(
        Streams.bucketSketchBatch(_, _, root2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt29").toString)
      .start()
    mem.addData(b0: _*); q.processAllAvailable(); q.stop()
    val e0 = b0.filter(_._1 == 0L).map(_._2).distinct.size.toLong
    val g0 = Streams.readRangeDistinct(spark, root2, 0L, 0L)
    assert(math.abs(g0 - e0) * 100 <= e0 * 5)
  }

  test("T18 generation cutover: retrain swaps atomically, stream follows the pointer, grace window then gc, crash mid-build invisible") {
    import graft.operators.Vectors
    implicit val ctx = spark.sqlContext
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
    val initial = e.filter(col("vec_id") % 3 =!= 2)
    val increment = e.filter(col("vec_id") % 3 === 2)
      .as[(Long, Seq[Float])].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("t18").toString
    // gen 0: fit + seed + commit
    Streams.retrainGeneration(initial, root, 0L)
    assert(Streams.currentGeneration(spark, root) === Some(0L))
    // persisted models are the exact floats the seed encoded with
    val (c0, b0) = Streams.readGenerationModels(spark, root, 0L)
    // increments stream in, resolving the generation per batch
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.vectorIndexStreamGen(
      mem.toDF.selectExpr("_1 AS vec_id", "CAST(_2 AS array<float>) AS embedding"), root)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt18").toString)
      .start()
    mem.addData(increment: _*)
    q.processAllAvailable()
    // serving view = batch encode of the FULL corpus under gen-0 models
    val (gen, cs, bs, idx) = Streams.readServingIndex(spark, root)
    assert(gen === 0L)
    val probe = e.filter(col("vec_id") < 5)
    def searched(index: org.apache.spark.sql.DataFrame,
        cc: Array[Array[Float]], bb: Array[Array[Array[Float]]]) =
      Vectors.pqSearchIndex(probe, index, cc, bb, k = 3)
        .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val servedG0 = searched(idx, cs, bs)
    assert(servedG0 === searched(Vectors.encodeForIndex(e, c0, b0), c0, b0))
    // DRIFT → retrain gen 1 on the latest corpus at a quiescent barrier
    val latest = e // (fold of everything the store has seen)
    Streams.retrainGeneration(latest, root, 1L)
    assert(Streams.currentGeneration(spark, root) === Some(1L))
    val (gen1, c1, b1, idx1) = Streams.readServingIndex(spark, root)
    assert(gen1 === 1L)
    assert(searched(idx1, c1, b1) ===
      searched(Vectors.encodeForIndex(e, c1, b1), c1, b1))
    // grace window: gen 0 still fully readable after the flip
    assert(Streams.readVectorIndex(spark,
      s"${Streams.generationDir(root, 0L)}/index").count() === e.count())
    // the NEXT streamed batch follows the pointer into gen 1
    mem.addData((increment.head._1, increment.head._2))
    q.processAllAvailable(); q.stop()
    val g1Epochs = LakeFormat.snapshot(spark,
        s"${Streams.generationDir(root, 1L)}/index")
      .select("b").distinct().as[Long].collect().toSet
    assert(g1Epochs.size === 2,
      s"expected seed + new batch in gen 1, got $g1Epochs")
    // crash mid-build of gen 2: models staged, pointer NOT flipped —
    // readers are untouched; re-running the retrain repairs
    Streams.writeGenerationModels(spark, root, 2L, c1, b1)
    assert(Streams.readServingIndex(spark, root)._1 === 1L)
    Streams.retrainGeneration(latest, root, 2L)
    assert(Streams.readServingIndex(spark, root)._1 === 2L)
    // gc keeps current + predecessor only
    Streams.gcGenerations(spark, root, 2L)
    val gens = new java.io.File(root).listFiles.map(_.getName)
      .filter(_.startsWith("g=")).toSet
    assert(gens === Set("g=1", "g=2"))
  }

  test("T17 incremental cluster map: stream equals batch CC, cross-batch merges, replay-idempotent, compaction-transparent") {
    import graft.operators.Graph
    implicit val ctx = spark.sqlContext
    // three pair increments engineered so clusters MERGE across batches:
    // batch 0 builds islands {1,2},{5,6,7},{10,11}; batch 1 chains 2–3 and
    // starts {20,21}; batch 2 merges {1,2,3} with {5,6,7} via (3,5) and
    // absorbs {10,11} into a NEW smaller id 4
    val inc0 = Seq((1L, 2L), (5L, 6L), (6L, 7L), (10L, 11L))
    val inc1 = Seq((2L, 3L), (20L, 21L))
    val inc2 = Seq((3L, 5L), (4L, 10L))
    val all = inc0 ++ inc1 ++ inc2
    val dir = java.nio.file.Files.createTempDirectory("t17").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.eachBatch(mem.toDF)(Streams.clusterIndexBatch(_, _, dir))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt17").toString)
      .start()
    mem.addData(inc0: _*); q.processAllAvailable()
    mem.addData(inc1: _*); q.processAllAvailable()
    mem.addData(inc2: _*); q.processAllAvailable(); q.stop()
    val streamed = Streams.readClusterMap(spark, dir)
      .as[(Long, Long)].collect().toMap
    val batch = Graph.connectedComponents(all.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch)
    assert(streamed(7L) === 1L && streamed(11L) === 4L) // the merges happened
    // CRASH REPLAY: re-running the LAST batch (the id its epoch mark
    // records) is a no-op — the stored rows and the version stay put
    def raw() = LakeFormat.snapshot(spark, dir)
      .select("node", "cluster", "b").as[(Long, Long, Long)].collect().toSet
    val rawBefore = raw()
    val v = LakeFormat.state(spark, dir).version
    Streams.clusterIndexBatch(inc2.toDF("src", "dst"),
      LakeFormat.state(spark, dir).txns("epoch"), dir)
    assert(raw() === rawBefore, "replayed batch changed the cluster store")
    assert(LakeFormat.state(spark, dir).version === v)
    // COMPACTION between batches is invisible: a second store compacted
    // after batch 1 sees identical reads AND identical final map
    val dirB = java.nio.file.Files.createTempDirectory("t17b").toString
    Streams.clusterIndexBatch(inc0.toDF("src", "dst"), 0L, dirB)
    Streams.clusterIndexBatch(inc1.toDF("src", "dst"), 1L, dirB)
    val midBefore = Streams.readClusterMap(spark, dirB)
      .as[(Long, Long)].collect().toMap
    Streams.compactClusterIndex(spark, dirB, upTo = 1L)
    val midAfter = Streams.readClusterMap(spark, dirB)
      .as[(Long, Long)].collect().toMap
    assert(midAfter === midBefore)
    // collapsed: shadowed rows folded away, one row per node remains
    assert(LakeFormat.snapshot(spark, dirB).count() === midAfter.size.toLong)
    Streams.clusterIndexBatch(inc2.toDF("src", "dst"), 2L, dirB)
    assert(Streams.readClusterMap(spark, dirB)
      .as[(Long, Long)].collect().toMap === batch)
  }

  test("T25 incremental containment: batched discovery equals the batch " +
      "verifier, replay idempotent, compaction transparent") {
    import graft.operators.Text
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    val inc0 = docs.filter(_.doc_id % 3 == 0)
    val inc1 = docs.filter(_.doc_id % 3 == 1)
    val inc2 = docs.filter(_.doc_id % 3 == 2)
    // precondition for incremental ≡ batch: no full-corpus shingle df
    // exceeds the prune cap (prune timing differs otherwise — the
    // incremental form discovers a superset under the cap)
    val fullSh = Text.shingles(docs.toDF)
    val maxDf = fullSh.groupBy("hs").count().agg(max("count"))
      .collect()(0).getLong(0)
    assert(maxDf <= Text.defaultMaxDf,
      s"fixture shingle df $maxDf exceeds cap — pick a different split")
    val dir = java.nio.file.Files.createTempDirectory("t25").toString
    val shDir = s"$dir/shingles"; val pairDir = s"$dir/pairs"
    Streams.containmentBatch(inc0.toDF, 0L, shDir, pairDir)
    Streams.containmentBatch(inc1.toDF, 1L, shDir, pairDir)
    Streams.containmentBatch(inc2.toDF, 2L, shDir, pairDir)
    def pairSet() = Streams.readNearDupPairs(spark, pairDir)
      .select("da", "db", "shared", "na", "nb", "contained")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val streamed = pairSet()
    // the union of per-batch discoveries IS the batch verifier's output:
    // cross-batch pairs found when the later member arrived, in-batch
    // pairs by the batch verifier on the increment, exact counts both ways
    val batch = Text.containmentPairs(fullSh, cNum = 19, cDen = 20)
      .select("da", "db", "shared", "na", "nb", "contained")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(streamed.nonEmpty)
    // at-least-once replay of the LAST batch: a no-op at both stores'
    // epoch gates
    val shBefore = Streams.readBandStore(spark, shDir)
      .select("doc_id", "hs").as[(Long, String)].collect().toSet
    Streams.containmentBatch(inc2.toDF, 2L, shDir, pairDir)
    assert(pairSet() === streamed, "replayed batch changed the pair set")
    assert(Streams.readBandStore(spark, shDir)
      .select("doc_id", "hs").as[(Long, String)].collect().toSet === shBefore,
      "replayed batch changed the shingle store")
    // compaction of both stores is layout-only
    Streams.compactShingleStore(spark, shDir, upTo = 2L)
    Streams.compactPairStore(spark, pairDir, upTo = 2L)
    assert(Streams.readBandStore(spark, shDir)
      .select("doc_id", "hs").as[(Long, String)].collect().toSet === shBefore)
    assert(pairSet() === streamed)
    // and the NEXT increment (a fresh embed of an existing doc) probes
    // the compacted store correctly: the new host pairs with its source
    val src = docs.maxBy(_.doc_id)
    val embed = DocE(src.doc_id + 1000, src.text + " zq1 zq2 zq3 zq4 zq5")
    Streams.containmentBatch(Seq(embed).toDF, 3L, shDir, pairDir)
    val after = pairSet()
    assert(after.exists(p => p._1 == src.doc_id && p._2 == embed.doc_id),
      "post-compaction increment failed to pair with the stored corpus")
  }

  test("T25/x2f blind-spot bound: guaranteed docs always detected under the " +
      "df cap; hot-shingle-only embeds are flagged at-risk, never silently trusted") {
    import graft.operators.Text
    // Corpus shaped for the documented blind spot (VERDICT r9 What's
    // missing #5): 12 hosts share one boilerplate paragraph, so every
    // boilerplate shingle has df 13 > maxDf 10; doc A IS the boilerplate
    // (contained in every host, zero rare shingles — the miss case); doc
    // B is distinctive text embedded in one host (all-rare — the
    // guaranteed case).
    val boiler = (1 to 9).map(i => s"b$i").mkString(" ")
    val hosts = (1 to 12).map(i =>
      DocE(100L + i, boiler + s" u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val a = DocE(1L, boiler)
    val bTxt = "z1 z2 z3 z4 z5 z6 z7 z8 z9"
    val b = DocE(2L, bTxt)
    val hostB = DocE(200L, bTxt + " w1 w2 w3 w4 w5")
    val sh = Text.shingles((hosts :+ a :+ b :+ hostB).toDF)
    val (cNum, cDen) = Text.ContainmentVerbatim
    def pairs(maxDf: Int) = Text.containmentPairs(sh, maxDf, cNum, cDen)
      .select("da", "db", "contained")
      .as[(Long, Long, Long)].collect().toSet
    val capped = pairs(Text.defaultMaxDf)
    val uncapped = pairs(Int.MaxValue)
    // B ⊂ hostB: all of B's shingles are rare — detected under the cap
    assert(capped.exists(p => p._1 == 2L && p._2 == 200L))
    // A ⊂ every host in ground truth, invisible under the cap
    assert(uncapped.exists(_._3 == 1L))
    assert(!capped.exists(p => p._1 == 1L || p._2 == 1L))
    // the x2f inequality classifies exactly this split: r·cDen >
    // n·(cDen−cNum) ⇒ guaranteed detected; every miss is at-risk
    val dfT = sh.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val per = sh.join(dfT, "hs").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("df") <= Text.defaultMaxDf, 1L).otherwise(0L)).as("r"))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    def guaranteed(id: Long) = {
      val (n, r) = per(id); r * cDen > n * (cDen - cNum)
    }
    assert(guaranteed(2L) && !guaranteed(1L))
    (uncapped -- capped).foreach { case (da, db, contained) =>
      assert(!guaranteed(contained),
        s"theorem violated: guaranteed doc $contained missed in ($da,$db)")
    }
  }

  test("T13 pair-store compaction: identical reads, collapsed epochs, the next increment agrees") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    val inc0 = docs.filter(_.doc_id % 3 == 0)
    val inc1 = docs.filter(_.doc_id % 3 == 1)
    val inc2 = docs.filter(_.doc_id % 3 == 2)
    // two identical stores; B's PAIR side gets compacted between batches
    val dirA = java.nio.file.Files.createTempDirectory("pcA").toString
    val dirB = java.nio.file.Files.createTempDirectory("pcB").toString
    for (d <- Seq(dirA, dirB)) {
      Streams.nearDupBatch(inc0.toDF, 0L, s"$d/bands", s"$d/pairs")
      Streams.nearDupBatch(inc1.toDF, 1L, s"$d/bands", s"$d/pairs")
    }
    val before = Streams.readNearDupPairs(spark, s"$dirB/pairs")
      .as[(Long, Long)].collect().toSet
    Streams.compactPairStore(spark, s"$dirB/pairs", upTo = 1L)
    val after = Streams.readNearDupPairs(spark, s"$dirB/pairs")
      .as[(Long, Long)].collect().toSet
    assert(after === before) // compaction is layout-only
    assert(LakeFormat.state(spark, s"$dirB/pairs").txns.get("compact") ===
      Some(1L))
    // the next increment discovers the same pairs on both stores
    Streams.nearDupBatch(inc2.toDF, 2L, s"$dirA/bands", s"$dirA/pairs")
    Streams.nearDupBatch(inc2.toDF, 2L, s"$dirB/bands", s"$dirB/pairs")
    val pa = Streams.readNearDupPairs(spark, s"$dirA/pairs")
      .as[(Long, Long)].collect().toSet
    val pb = Streams.readNearDupPairs(spark, s"$dirB/pairs")
      .as[(Long, Long)].collect().toSet
    assert(pa === pb && pa.nonEmpty)
  }

  test("epoch stores: an append whose commit throws leaves reads unchanged; re-running the batch id completes it, also when only one of a batch's two tables landed") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    val inc0 = docs.filter(_.doc_id % 3 == 0)
    val inc1 = docs.filter(_.doc_id % 3 == 1)
    def pairs(d: String) = Streams.readNearDupPairs(spark, s"$d/pairs")
      .as[(Long, Long)].collect().toSet
    def bands(d: String) = Streams.readBandStore(spark, s"$d/bands")
      .select("doc_id", "band", "key").as[(Long, Int, String)].collect().toSet
    def marks(d: String) = Seq("bands", "pairs")
      .map(t => LakeFormat.state(spark, s"$d/$t").txns("epoch"))
    // crash the n-th epoch commit of batch 1 (after its data is staged)
    def crashAt(d: String, n: Int): Unit = {
      var fired = 0
      LakeFormat.beforeCommitHook = () => {
        fired += 1
        if (fired == n) {
          LakeFormat.beforeCommitHook = () => ()
          throw new RuntimeException("crash before commit")
        }
      }
      try intercept[RuntimeException](
        Streams.nearDupBatch(inc1.toDF, 1L, s"$d/bands", s"$d/pairs"))
      finally LakeFormat.beforeCommitHook = () => ()
      ()
    }
    val d = java.nio.file.Files.createTempDirectory("torn").toString
    Streams.nearDupBatch(inc0.toDF, 0L, s"$d/bands", s"$d/pairs")
    val committed = pairs(d)
    val bands0 = bands(d)
    // the FIRST commit (the pair epoch) throws: nothing of batch 1 shows
    crashAt(d, 1)
    assert(marks(d) === Seq(0L, 0L))
    assert(pairs(d) === committed && bands(d) === bands0)
    // the replay of batch 1 completes both epochs
    Streams.nearDupBatch(inc1.toDF, 1L, s"$d/bands", s"$d/pairs")
    assert(marks(d) === Seq(1L, 1L))
    val withB1 = pairs(d)
    assert(withB1.size > committed.size)
    // the SECOND commit throws: the pair epoch landed, the band epoch did
    // not — the re-run completes the bands from the same strictly-below
    // prior and leaves the pairs alone
    val d2 = java.nio.file.Files.createTempDirectory("torn2").toString
    Streams.nearDupBatch(inc0.toDF, 0L, s"$d2/bands", s"$d2/pairs")
    crashAt(d2, 2)
    assert(marks(d2) === Seq(0L, 1L))
    val pv = LakeFormat.state(spark, s"$d2/pairs").version
    Streams.nearDupBatch(inc1.toDF, 1L, s"$d2/bands", s"$d2/pairs")
    assert(marks(d2) === Seq(1L, 1L))
    assert(LakeFormat.state(spark, s"$d2/pairs").version === pv)
    assert(pairs(d2) === withB1 && bands(d2) === bands(d))
  }

  test("epoch stores: a data file an epoch commit references, once lost, makes reads fail loudly instead of serving around the hole") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").as[DocE].collect().toSeq
    val d = java.nio.file.Files.createTempDirectory("gap").toString
    (0 until 3).foreach { i =>
      Streams.nearDupBatch(docs.filter(_.doc_id % 3 == i).toDF, i.toLong,
        s"$d/bands", s"$d/pairs")
    }
    assert(Streams.readBandStore(spark, s"$d/bands").count() > 0)
    // lose one file of the MIDDLE epoch (manual cleanup / fs fault)
    val lost = LakeFormat.state(spark, s"$d/bands").files
      .find(_.stats("b").min.contains("1")).get
    assert(new java.io.File(s"$d/bands/${lost.path}").delete())
    intercept[Exception](
      Streams.readBandStore(spark, s"$d/bands").collect())
  }

  test("T16 incremental vector index: stream-built upsert index ≡ batch encode of the latest corpus; replay idempotent; compaction drops shadowed rows") {
    implicit val ctx = spark.sqlContext
    import graft.operators.Vectors
    val e = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    // models FROZEN before any increment arrives (the offline fit cadence)
    val coarse = Vectors.kmeansCentroids(e, 8, 2)
    val books = Vectors.pqCodebooks(e, 8, 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("vidx").toString
    // the "existing index": the static corpus slice, seeded at b=-1
    val static0 = e.filter(col("vec_id") % 3 === 0)
    Streams.seedVectorIndex(static0, dir, coarse, books)
    // increment 1: new docs. increment 2: more new docs PLUS re-embeds of
    // %9==0 ids (a subset of the seeded corpus) with CHANGED embeddings
    // (negation — still unit-norm): the upsert case
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Float])].collect().toSeq
    val negated = e.filter(col("vec_id") % 9 === 0)
      .withColumn("embedding", expr("transform(embedding, v -> -v)"))
    val inc1 = rows(e.filter(col("vec_id") % 3 === 1))
    val inc2 = rows(e.filter(col("vec_id") % 3 === 2)) ++ rows(negated)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.eachBatch(mem.toDF.toDF("vec_id", "embedding"))(
        Streams.vectorIndexBatch(_, _, dir, coarse, books))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt16").toString)
      .start()
    mem.addData(inc1: _*)
    q.processAllAvailable()
    mem.addData(inc2: _*)
    q.processAllAvailable(); q.stop()
    // batch twin: all-at-once encode of the LATEST corpus under the same
    // frozen models
    val latest = e.filter(col("vec_id") % 9 =!= 0).unionByName(negated)
    val batchIdx = Vectors.encodeForIndex(latest, coarse, books)
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet
    val idx = Streams.readVectorIndex(spark, dir)
    assert(content(idx) === content(batchIdx)) // the index IS the batch index
    // ...and SERVES identically: same top-k rows from either side
    val qs = latest.filter(col("vec_id") < 8)
    def served(index: org.apache.spark.sql.DataFrame) =
      Vectors.pqSearchIndex(qs, index, coarse, books, k = 3)
        .orderBy("q_id", "rank")
        .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSeq
    assert(served(idx) === served(batchIdx))
    assert(served(idx).nonEmpty)
    // a re-embedded vector is served at its NEW encoding: query 0's own
    // negated vector must rank its exact self-match... 0 is excluded as
    // self; instead assert no STALE encoding survives — every %9==0 id's
    // stored codes equal the batch (latest) encode, already covered by
    // content equality above, so just assert the re-embeds actually
    // changed something vs the original encode (non-vacuous upsert)
    val orig = content(Vectors.encodeForIndex(e, coarse, books))
    assert(content(idx) !== orig)
    // CRASH REPLAY: re-running the last micro-batch (inc2, at the id its
    // epoch mark records) is a no-op — the version does not move
    val last = LakeFormat.state(spark, dir).txns("epoch")
    val v = LakeFormat.state(spark, dir).version
    Streams.vectorIndexBatch(inc2.toDF("vec_id", "embedding"), last,
      dir, coarse, books)
    assert(LakeFormat.state(spark, dir).version === v)
    assert(content(Streams.readVectorIndex(spark, dir)) === content(batchIdx))
    // AS-OF (time travel): the index as of batch 0 = seed + inc1 only,
    // with the seed-era encodings of the later-re-embedded ids intact
    val asOf0 = content(Streams.readVectorIndexAsOf(spark, dir, 0L))
    val corpus0 = e.filter(col("vec_id") % 3 === 0 || col("vec_id") % 3 === 1)
    assert(asOf0 === content(Vectors.encodeForIndex(corpus0, coarse, books)))
    // COMPACTION: reads identical, shadowed encodings (the re-embedded
    // ids' seed-era rows) are physically dropped
    Streams.compactVectorIndex(spark, dir, upTo = 1L)
    assert(content(Streams.readVectorIndex(spark, dir)) === content(batchIdx))
    assert(LakeFormat.state(spark, dir).txns.get("compact") === Some(1L))
    assert(LakeFormat.snapshot(spark, dir).count() === latest.count())
    // ...and as-of INSIDE the compacted range is refused (retention
    // window), not answered partially; as-of AT the compaction point
    // still serves the exact folded state
    intercept[IllegalArgumentException](
      Streams.readVectorIndexAsOf(spark, dir, 0L).collect())
    assert(content(Streams.readVectorIndexAsOf(spark, dir, 1L)) ===
      content(batchIdx))
  }

  test("T16c residual codes flow through the incremental maintainer: stream-built residual index == batch residual encode, serves identically") {
    import graft.operators.Vectors
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    // models frozen offline: coarse quantizer + RESIDUAL codebooks
    val coarse = Vectors.kmeansCentroids(e, 8, 2)
    val books = Vectors.pqCodebooksResidual(e, coarse, 8, 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("vidxr").toString
    val enc = Vectors.encodeForIndexResidual _
    // seed + two increments, the last re-embedding %9==0 ids (negated)
    val negated = e.filter(col("vec_id") % 9 === 0)
      .withColumn("embedding", expr("transform(embedding, v -> -v)"))
    Streams.vectorIndexBatch(
      e.filter(col("vec_id") % 3 === 0), -1L, dir, coarse, books, enc)
    Streams.vectorIndexBatch(
      e.filter(col("vec_id") % 3 === 1), 0L, dir, coarse, books, enc)
    Streams.vectorIndexBatch(
      e.filter(col("vec_id") % 3 === 2).unionByName(negated),
      1L, dir, coarse, books, enc)
    val latest = e.filter(col("vec_id") % 9 =!= 0).unionByName(negated)
    val batchIdx = Vectors.encodeForIndexResidual(latest, coarse, books)
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet
    val idx = Streams.readVectorIndex(spark, dir)
    assert(content(idx) === content(batchIdx))
    // and the RESIDUAL searcher serves the same top-k from either side
    val qs = latest.filter(col("vec_id") < 8)
    def served(index: org.apache.spark.sql.DataFrame) =
      Vectors.pqSearchIndexResidual(qs, index, coarse, books, k = 3)
        .orderBy("q_id", "rank")
        .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSeq
    assert(served(idx) === served(batchIdx))
    assert(served(idx).nonEmpty)
  }

  test("T16d filtered serving over the maintained index: carried metadata survives the fold, filtered search == batch form") {
    import graft.operators.Vectors
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding", "label")
    val coarse = Vectors.kmeansCentroids(e, 8, 2)
    val books = Vectors.pqCodebooks(e, 8, 8, 2)
    val enc = (df: org.apache.spark.sql.DataFrame, c: Array[Array[Float]],
        b: Array[Array[Array[Float]]]) =>
      Vectors.encodeForIndexCarry(df, c, b, Seq("label"))
    val dir = java.nio.file.Files.createTempDirectory("vidxf").toString
    Streams.vectorIndexBatch(
      e.filter(col("vec_id") % 2 === 0), -1L, dir, coarse, books, enc)
    Streams.vectorIndexBatch(
      e.filter(col("vec_id") % 2 === 1), 0L, dir, coarse, books, enc)
    val idx = Streams.readVectorIndex(spark, dir)
    // the carried column is in the folded store, value-correct per vec_id
    val carried = idx.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    val truth = e.select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(carried === truth)
    // filtered search over the STORE equals the all-at-once batch encode
    val batchIdx = Vectors.encodeForIndexCarry(e, coarse, books, Seq("label"))
    val qs = e.filter(col("vec_id") < 8)
    def served(index: org.apache.spark.sql.DataFrame) =
      Vectors.pqSearchIndexFiltered(qs, index, Seq("label"), coarse, books,
          k = 3).orderBy("q_id", "rank")
        .select("q_id", "rank", "vec_id").as[(Long, Int, Long)].collect().toSeq
    assert(served(idx) === served(batchIdx))
    assert(served(idx).nonEmpty)
    // and every hit honors the predicate
    val hits = Vectors.pqSearchIndexFiltered(qs, idx, Seq("label"), coarse,
        books, k = 3)
      .join(e.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(e.select(col("vec_id"), col("label").as("hit_label")), "vec_id")
    assert(hits.filter(col("q_label") =!= col("hit_label")).count() === 0)
  }

  test("T16b CDC-driven re-embed: document UPDATE and DELETE propagate to the served index; re-create upserts over the tombstone") {
    import graft.operators.Vectors
    def chg(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "text", "lsn", "op").selectExpr(
        "CASE WHEN op <> 'd' THEN named_struct('id', id, 'text', text) END AS after",
        "CASE WHEN op <> 'c' THEN named_struct('id', id, 'text', text) END AS before",
        "named_struct('lsn', lsn) AS source",
        "op")
    val texts0 = (1L to 40L).map(i => i -> s"document $i body alpha ${i % 7} beta")
    val emb0 = Vectors.stubEmbed(texts0.toDF("id", "text"))
      .select(col("id").as("vec_id"), col("embedding"))
    val coarse = Vectors.kmeansCentroids(emb0, 4, 2)
    val books = Vectors.pqCodebooks(emb0, 8, 4, 2)
    val dir = java.nio.file.Files.createTempDirectory("reemb").toString
    // batch 0: the initial load (all creates)
    Streams.reembedIndexBatch(
      chg(texts0.map { case (i, t) => (i, t, 100 + i, "c") }), 0L,
      dir, coarse, books)
    // batch 1: upstream UPDATE of doc 2's text + one new doc — the batch
    // carries ONLY the changed keys (increment, not snapshot)
    val rev2 = "document 2 entirely revised gamma"
    Streams.reembedIndexBatch(
      chg(Seq((2L, rev2, 1000L, "u"), (41L, "document 41 fresh", 1001L, "c"))),
      1L, dir, coarse, books)
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet
    // batch twin: the latest document snapshot re-embedded all at once
    val latestDocs = (texts0.toMap + (2L -> rev2) +
      (41L -> "document 41 fresh")).toSeq.toDF("id", "text")
    val batchIdx = Vectors.encodeForIndex(
      Vectors.stubEmbed(latestDocs)
        .select(col("id").as("vec_id"), col("embedding")), coarse, books)
    val idx = content(Streams.readVectorIndex(spark, dir))
    assert(idx === content(batchIdx))
    // the update genuinely re-encoded doc 2 (stub: new text ⇒ new
    // direction): its stored row differs from the original text's encode
    val orig = content(Vectors.encodeForIndex(emb0, coarse, books))
    assert(idx.filter(_._1 == 2L) !== orig.filter(_._1 == 2L))
    // ...while untouched docs kept their batch-0 encodings verbatim
    assert(idx.filter(t => t._1 != 2L && t._1 != 41L) ===
      orig.filter(_._1 != 2L))
    // batch 2: upstream DELETE of doc 7 — the tombstone propagates and
    // the doc leaves ANN serving in the same epoch
    Streams.reembedIndexBatch(chg(Seq((7L, "x", 2000L, "d"))), 2L,
      dir, coarse, books)
    val afterDel = content(Streams.readVectorIndex(spark, dir))
    assert(!afterDel.exists(_._1 == 7L))
    assert(afterDel === content(batchIdx).filterNot(_._1 == 7L))
    // batch 3: doc 7 re-created with NEW text — upserts over its own
    // tombstone and serves at the fresh encoding
    val reborn = "document 7 reborn entirely"
    Streams.reembedIndexBatch(chg(Seq((7L, reborn, 3000L, "c"))), 3L,
      dir, coarse, books)
    val afterRecreate = content(Streams.readVectorIndex(spark, dir))
    val expected7 = content(Vectors.encodeForIndex(
      Vectors.stubEmbed(Seq((7L, reborn)).toDF("id", "text"))
        .select(col("id").as("vec_id"), col("embedding")), coarse, books))
    assert(afterRecreate.filter(_._1 == 7L) === expected7)
    // batch 4: delete doc 9, then COMPACT — the tombstone and every
    // shadowed encoding vanish from storage, reads unchanged
    Streams.reembedIndexBatch(chg(Seq((9L, "x", 4000L, "d"))), 4L,
      dir, coarse, books)
    val preCompact = content(Streams.readVectorIndex(spark, dir))
    Streams.compactVectorIndex(spark, dir, upTo = 4L)
    assert(content(Streams.readVectorIndex(spark, dir)) === preCompact)
    val stored = LakeFormat.snapshot(spark, dir)
    assert(stored.filter(col("vec_id") === 9L || !col("live")).count() === 0)
    assert(stored.count() === preCompact.size)
  }

  test("T12b expiring tx gate: an abandoned transaction times out to the dead-letter store; complete and active txs unaffected") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streams.{GatedOut, TxInputT}
    val t0 = 1700000000000L
    def ev(tx: String, tbl: String, id: Long, lsn: Long, at: Long) =
      TxInputT(new Timestamp(at), tx, Some(tbl),
        Some(CdcEvent(None, row(id, s"e$id@x"), src(lsn), "c", lsn)), None)
    def end(tx: String, n: Long, at: Long) =
      TxInputT(new Timestamp(at), tx, None, None, Some(n))
    val dl = java.nio.file.Files.createTempDirectory("dl").toString
    val released = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val mem = MemoryStream[TxInputT]
    val q = Streams.txGateExpiring(mem.toDS,
        delay = "1 minute", graceMs = 5L * 60 * 1000)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[GatedOut], id: Long) =>
        val rows = b.collect()
        released ++= rows.filter(_.kind == "release")
          .map(g => (g.txId, g.table, g.event.ts_ms))
        // C8 routing: expired txs land in the dead-letter store, one
        // epoch per batch for idempotent replay (the nearDupBatch
        // discipline)
        val dead = rows.filter(_.kind == "deadletter")
        if (dead.nonEmpty) {
          val spark2 = b.sparkSession
          import spark2.implicits._
          Streams.appendEpoch(spark2, dl, id)(dead.toSeq.toDS.toDF)
        }
        ()
      }.start()
    def sec(n: Long) = t0 + n * 1000
    // grace 300s, watermark delay 60s. Watermark updates at the END of
    // each data batch to max(ts) - 60s; Spark may then run a no-data
    // batch that fires any expired timers immediately, so the timeline
    // below keeps the active tx's timer strictly ahead of the watermark
    // at every point — only tx-stuck may ever expire.
    // batch 1: tx-ok completes -> released; wm := t0-60s
    mem.addData(ev("tx-ok", "customers", 1, 100, t0),
      ev("tx-ok", "orders", 2, 150, t0), end("tx-ok", 2, t0))
    q.processAllAvailable()
    // batch 2: tx-stuck — marker says 3, only 2 events ever arrive.
    // Timer arms at wm(t0-60s) + 300s = sec(240). wm := sec(0).
    mem.addData(ev("tx-stuck", "customers", 3, 1100, sec(60)),
      ev("tx-stuck", "orders", 4, 1150, sec(60)), end("tx-stuck", 3, sec(60)))
    q.processAllAvailable()
    // batch 3: an ACTIVE (also incomplete) tx arrives; its timer arms at
    // wm(sec 0) + 300s = sec(300). wm := sec(60) < sec(240): nothing may
    // have expired yet.
    mem.addData(ev("tx-later", "customers", 5, 2100, sec(120)))
    q.processAllAvailable()
    assert(!LakeFormat.tableExists(spark, dl),
      "tx-stuck expired before its grace elapsed")
    // batch 4: tx-later touched again at sec(350) -> re-arms to
    // wm(sec 60) + 300s = sec(360); wm := sec(290), which passes
    // tx-stuck's sec(240) timer but NOT tx-later's sec(360)
    mem.addData(ev("tx-later", "orders", 6, 2150, sec(350)))
    q.processAllAvailable()
    // batch 5: guarantees a batch runs under wm sec(290) even if no
    // no-data batch fired the timer already; tx-later is touched (input
    // precedence — a group with data never takes the timeout path) and
    // re-arms to sec(590)
    mem.addData(ev("tx-later", "customers", 7, 2200, sec(360)))
    q.processAllAvailable(); q.stop()
    // only the complete commit ever released, all of it
    assert(released.toSet === Set(
      ("tx-ok", "customers", 100L), ("tx-ok", "orders", 150L)))
    // the abandoned tx's buffered events are in the dead-letter store
    val dead = LakeFormat.snapshot(spark, dl).drop("b")
      .as[GatedOut].collect().toSeq
    assert(dead.map(_.kind).toSet === Set("deadletter"))
    assert(dead.map(g => (g.txId, g.table, g.event.source.lsn.get)).toSet ===
      Set(("tx-stuck", "customers", 1100L), ("tx-stuck", "orders", 1150L)))
  }

  test("compaction: a commit that throws leaves reads identical; the re-run converges and vacuums; a second run with the same bound is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("ccp").toString + "/pairs"
    for ((ids, b) <- Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)).zipWithIndex)
      Streams.appendEpoch(spark, root, b.toLong)(
        ids.map(i => (i, i * 10)).toDF("doc_a", "doc_b"))
    def readAll() = Streams.readNearDupPairs(spark, root)
      .as[(Long, Long)].collect().toSet
    val expected = Set(1L, 2L, 3L, 4L, 5L).map(i => (i, i * 10))
    assert(readAll() === expected)
    val v = LakeFormat.state(spark, root).version
    // the compaction CRASHES after staging its rewrite, before its commit
    LakeFormat.beforeCommitHook = () => {
      LakeFormat.beforeCommitHook = () => ()
      throw new RuntimeException("crash before commit")
    }
    try intercept[RuntimeException](
      Streams.compactPairStore(spark, root, upTo = 2L))
    finally LakeFormat.beforeCommitHook = () => ()
    assert(readAll() === expected)
    assert(LakeFormat.state(spark, root).version === v)
    assert(LakeFormat.state(spark, root).txns.get("compact") === None)
    // the re-run converges, and its vacuum leaves only the compacted
    // version's files on disk (the crashed attempt's staged files too
    // are gone)
    Streams.compactPairStore(spark, root, upTo = 2L)
    assert(readAll() === expected)
    val st = LakeFormat.state(spark, root)
    assert(st.txns.get("compact") === Some(2L))
    assert(dataFiles(root) === st.files.map(_.path).toSet)
    // a second run with the same bound commits nothing
    Streams.compactPairStore(spark, root, upTo = 2L)
    assert(LakeFormat.state(spark, root).version === st.version)
    assert(readAll() === expected)
  }

  test("replay after compaction: an older batch id re-delivered after compactVectorIndex or compactPostings serves no deleted key, and the table version does not move") {
    import graft.operators.Vectors
    val e = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    val coarse = Vectors.kmeansCentroids(e, 8, 2)
    val books = Vectors.pqCodebooks(e, 8, 8, 2)
    val Seq(kept, gone) = e.select("vec_id").as[Long].collect().sorted.take(2).toSeq
    def vec(id: Long) = e.filter(col("vec_id") === id)
    val noVecs = spark.emptyDataset[Long].toDF("vec_id")
    val vdir = java.nio.file.Files.createTempDirectory("replayc").toString
    // `kept` at batch 0; `gone` upserted at batch 1, deleted at batch 2
    Streams.vectorIndexApplyBatch(vec(kept), noVecs, 0L, vdir, coarse, books)
    Streams.vectorIndexApplyBatch(vec(gone), noVecs, 1L, vdir, coarse, books)
    Streams.vectorIndexApplyBatch(vec(gone).limit(0), Seq(gone).toDF("vec_id"),
      2L, vdir, coarse, books)
    def served() = Streams.readVectorIndex(spark, vdir)
      .select("vec_id").as[Long].collect().toSet
    assert(served() === Set(kept))
    Streams.compactVectorIndex(spark, vdir, upTo = 2L)
    val v = LakeFormat.state(spark, vdir).version
    // at-least-once re-delivery of batch 1 AFTER the compaction
    Streams.vectorIndexApplyBatch(vec(gone), noVecs, 1L, vdir, coarse, books)
    assert(served() === Set(kept))
    assert(LakeFormat.state(spark, vdir).version === v)
    // the same schedule through the postings store
    val pdir = java.nio.file.Files.createTempDirectory("replayp").toString
    val noDocs = spark.emptyDataset[Long].toDF("doc_id")
    Streams.postingsApplyBatch(Seq(2L -> "kept doc").toDF("doc_id", "text"),
      noDocs, 0L, pdir)
    Streams.postingsApplyBatch(Seq(1L -> "erased doc").toDF("doc_id", "text"),
      noDocs, 1L, pdir)
    Streams.postingsApplyBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(1L).toDF("doc_id"), 2L, pdir)
    def docs() = Streams.readPostings(spark, pdir)
      .filter(col("token").isNull).select("doc_id").as[Long].collect().toSet
    assert(docs() === Set(2L))
    Streams.compactPostings(spark, pdir, upTo = 2L)
    val pv = LakeFormat.state(spark, pdir).version
    Streams.postingsApplyBatch(Seq(1L -> "erased doc").toDF("doc_id", "text"),
      noDocs, 1L, pdir)
    assert(docs() === Set(2L))
    assert(LakeFormat.state(spark, pdir).version === pv)
  }

  test("T15 bloom decontamination holds its oracle booleans at a 4x larger benchmark slice (sized-from-measurement)") {
    // the r8 ADVICE failure mode: a fixed-size sketch goes red when the
    // bench set outgrows its design count; sized from the measured count,
    // the bounds must hold regardless of the slice
    val rows = graft.operators.Text.bloomDecontaminate(
      Tables.documents(spark, TestSpark.sf),
      graft.operators.Text.stagedShingles(spark, TestSpark.sf),
      benchMax = 200L).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("no_miss_ok")))
    assert(rows.forall(_.getAs[Boolean]("overflag_ok")))
  }

  test("T9 schema drift alerts: first sight of each payload shape, once, as it arrives") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val q = Streams.schemaDriftStream(
        mem.toDF.toDF("tbl", "lsn", "raw")).writeStream
      .format("memory").queryName("t9").outputMode("append").start()
    mem.addData(("customers", 1L, """{"after":{"id":1,"email":"a@x"}}"""))
    q.processAllAvailable()
    // same shape again (different values, reordered keys): no new alert
    mem.addData(("customers", 2L, """{"after":{"email":"b@x","id":2}}"""))
    q.processAllAvailable()
    val afterSame = spark.table("t9").count()
    // DDL lands: new field appears -> exactly one new alert, cross-batch
    mem.addData(
      ("customers", 3L, """{"after":{"id":3,"email":"c@x","phone":"555-0100"}}"""),
      ("customers", 4L, """{"after":{"id":4,"email":"d@x","phone":"555-0101"}}"""))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t9").orderBy("lsn")
      .as[(String, Long, String)].collect().toSeq
    assert(afterSame === 1)
    assert(rows === Seq(
      ("customers", 1L, "email,id"),
      ("customers", 3L, "email,id,phone")))
  }

  test("T10 stream-stream interval join: in-window matches only, ≡ batch twin") {
    implicit val ctx = spark.sqlContext
    val lm = MemoryStream[LOrd]
    val rm = MemoryStream[RPay]
    val q = Streams.intervalJoin(lm.toDF, rm.toDF,
        delay = "5 minutes", window = "30 minutes").writeStream
      .format("memory").queryName("t10").outputMode("append").start()
    val lefts = Seq(LOrd(1, t(0), 10.0), LOrd(2, t(10), 20.0), LOrd(3, t(20), 30.0))
    val rights = Seq(
      RPay(1, t(10)), // within [t0, t0+30] for left 1 → the only match
      RPay(2, t(50)), // 40 min after left 2 → out of window
      RPay(9, t(21))) // no such left key
    lm.addData(lefts: _*)
    rm.addData(rights: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t10").select("l_key", "r_key")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(streamed === Seq((1L, 1L)))
    // watermark is a no-op in batch, so the same combinator is its own
    // batch twin — streaming and batch answers must agree
    val batch = Streams.intervalJoin(lefts.toDF, rights.toDF,
        "5 minutes", "30 minutes")
      .select("l_key", "r_key")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(batch === streamed)
  }

  test("T35 incremental positional index: served phrase ≡ batch; a rewrite keeping the tokens but breaking adjacency retires stale positions; delete/re-create propagate; replay idempotent; compaction layout-only") {
    import graft.operators.Text
    val phrase = Seq("data", "change", "capture")
    def chg(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "text", "lsn", "op").selectExpr(
        "CASE WHEN op <> 'd' THEN named_struct('id', id, 'text', text) END AS after",
        "CASE WHEN op <> 'c' THEN named_struct('id', id, 'text', text) END AS before",
        "named_struct('lsn', lsn) AS source",
        "op")
    def textOf(i: Long): String = (i % 3) match {
      case 1 => s"data change capture data change capture pad${i % 5}"
      case 2 => s"data change x capture pad${i % 5}" // tokens, no phrase
      case _ => s"filler data change capture end pad${i % 5}"
    }
    val corpus0 = (1L to 8L).map(i => i -> textOf(i))
    val dir = java.nio.file.Files.createTempDirectory("positions").toString
    Streams.positionsApplyBatch(corpus0.toDF("doc_id", "text"),
      spark.emptyDataset[Long].toDF("doc_id"), -1L, dir)
    def served() = Streams.servedPhrase(spark, dir, phrase)
      .as[(Long, Long)].collect().toSeq
    def batch(c: Seq[(Long, String)]) =
      Text.phraseMatch(c.toDF("doc_id", "text"), phrase)
        .as[(Long, Long)].collect().toSeq
    assert(served() === batch(corpus0))
    assert(served().nonEmpty)
    // batch 0: inserts 9..12; doc 1 REWRITTEN keeping all three tokens
    // but breaking adjacency — the stale-position trap: a fold that
    // keeps old (doc,token,pos) rows would still anchor-match; doc 4
    // (a matching doc) deleted
    val rew1 = "data x change y capture"
    Streams.phraseIndexBatch(chg(
      (9L to 12L).map(i => (i, textOf(i), 100 + i, "c")) ++
        Seq((1L, rew1, 200L, "u"), (4L, "x", 201L, "d"))), 0L, dir)
    val corpus1 = (corpus0.toMap + (1L -> rew1) - 4L).toSeq ++
      (9L to 12L).map(i => i -> textOf(i))
    assert(served() === batch(corpus1))
    assert(!served().map(_._1).contains(1L)) // adjacency broken → no match
    assert(!served().map(_._1).contains(4L)) // deleted → no match
    // CRASH REPLAY: same batch id, same rows → a no-op, identical read
    Streams.phraseIndexBatch(chg(
      (9L to 12L).map(i => (i, textOf(i), 100 + i, "c")) ++
        Seq((1L, rew1, 200L, "u"), (4L, "x", 201L, "d"))), 0L, dir)
    assert(served() === batch(corpus1))
    // batch 1: doc 4 re-created over its tombstone WITH the phrase
    val reborn = "data change capture reborn"
    Streams.phraseIndexBatch(chg(Seq((4L, reborn, 300L, "c"))), 1L, dir)
    val corpus2 = corpus1 :+ (4L -> reborn)
    assert(served() === batch(corpus2))
    assert(served().map(_._1).contains(4L))
    // COMPACTION: epochs collapse into one commit, reads identical
    Streams.compactPositions(spark, dir, upTo = 1L)
    assert(served() === batch(corpus2))
    assert(LakeFormat.state(spark, dir).txns.get("compact") === Some(1L))
    // same-batch upsert+delete of one doc is refused loudly
    intercept[IllegalArgumentException](Streams.positionsApplyBatch(
      Seq(7L -> "data change capture").toDF("doc_id", "text"),
      Seq(7L).toDF("doc_id"), 9L, dir))
    // stream wrapper smoke on a FRESH store (T29 pattern: MemoryStream
    // numbers its own batches from 0)
    implicit val ctx = spark.sqlContext
    val dir2 = java.nio.file.Files.createTempDirectory("positions2").toString
    val mem = MemoryStream[(Long, String, Long, String)]
    val stream = mem.toDS().toDF("id", "text", "lsn", "op").selectExpr(
      "CASE WHEN op <> 'd' THEN named_struct('id', id, 'text', text) END AS after",
      "CASE WHEN op <> 'c' THEN named_struct('id', id, 'text', text) END AS before",
      "named_struct('lsn', lsn) AS source", "op")
    val q = Streams.eachBatch(stream)(Streams.phraseIndexBatch(_, _, dir2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt35").toString)
      .start()
    mem.addData((1L, textOf(1L), 1L, "c"), (2L, textOf(2L), 2L, "c"))
    q.processAllAvailable(); q.stop()
    assert(Streams.servedPhrase(spark, dir2, phrase)
      .as[(Long, Long)].collect().toSeq ===
      batch(Seq(1L -> textOf(1L), 2L -> textOf(2L))))
  }

  test("T30 incremental BM25 postings: served ≡ batch retrieve; update that LOSES the gate token, delete, re-create all propagate; replay idempotent; compaction collapses layout") {
    import graft.operators.Text
    val terms = Seq("rare", "common")
    def chg(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "text", "lsn", "op").selectExpr(
        "CASE WHEN op <> 'd' THEN named_struct('id', id, 'text', text) END AS after",
        "CASE WHEN op <> 'c' THEN named_struct('id', id, 'text', text) END AS before",
        "named_struct('lsn', lsn) AS source",
        "op")
    def textOf(i: Long): String =
      (if (i % 3 == 1) "rare common filler" else "common filler filler") +
        s" pad${i % 5} pad${i % 4}" + (" filler" * (i % 4).toInt)
    val corpus0 = (1L to 8L).map(i => i -> textOf(i))
    val dir = java.nio.file.Files.createTempDirectory("postings").toString
    Streams.seedPostings(corpus0.toDF("doc_id", "text"), dir)
    def served() = Streams.servedBm25(spark, dir, terms)
      .as[(Long, Long, Long)].collect().toSeq
    def batch(c: Seq[(Long, String)]) =
      Text.bm25Retrieve(c.toDF("doc_id", "text"), terms)
        .as[(Long, Long, Long)].collect().toSeq
    assert(served() === batch(corpus0))
    assert(served().nonEmpty)
    // batch 0: inserts 9..12, doc 1 REWRITTEN to lose the gate token
    // (the stale-posting trap a per-(doc,token) fold would fail), doc 4
    // deleted. Winner-batch-per-doc must retire doc 1's 'rare' posting.
    val rew1 = "common filler only now"
    Streams.bm25IndexBatch(chg(
      (9L to 12L).map(i => (i, textOf(i), 100 + i, "c")) ++
        Seq((1L, rew1, 200L, "u"), (4L, "x", 201L, "d"))), 0L, dir)
    val corpus1 = (corpus0.toMap + (1L -> rew1) - 4L).toSeq ++
      (9L to 12L).map(i => i -> textOf(i))
    assert(served() === batch(corpus1))
    assert(!served().map(_._1).contains(1L)) // gate token gone → unranked
    // CRASH REPLAY: same batch id, same rows → a no-op, identical read
    Streams.bm25IndexBatch(chg(
      (9L to 12L).map(i => (i, textOf(i), 100 + i, "c")) ++
        Seq((1L, rew1, 200L, "u"), (4L, "x", 201L, "d"))), 0L, dir)
    assert(served() === batch(corpus1))
    // batch 1: doc 4 re-created over its tombstone, WITH the gate token
    val reborn = "rare common reborn"
    Streams.bm25IndexBatch(chg(Seq((4L, reborn, 300L, "c"))), 1L, dir)
    val corpus2 = corpus1 :+ (4L -> reborn)
    assert(served() === batch(corpus2))
    assert(served().map(_._1).contains(4L))
    // COMPACTION: epochs collapse into one commit, reads identical,
    // as-of inside the compacted range refused
    Streams.compactPostings(spark, dir, upTo = 1L)
    assert(served() === batch(corpus2))
    assert(LakeFormat.state(spark, dir).txns.get("compact") === Some(1L))
    intercept[IllegalArgumentException](
      Streams.readPostingsAsOf(spark, dir, 0L).collect())
    // same-batch upsert+delete of one doc is refused loudly (the winner-
    // batch fold would silently drop the tombstone)
    intercept[IllegalArgumentException](Streams.postingsApplyBatch(
      Seq(7L -> "rare common x").toDF("doc_id", "text"),
      Seq(7L).toDF("doc_id"), 9L, dir))
    // stream wrapper smoke on a FRESH store (a MemoryStream query numbers
    // its own batches from 0 — driving it at the direct-batch store would
    // collide with the hand-assigned ids; the T29 pattern)
    implicit val ctx = spark.sqlContext
    val dir2 = java.nio.file.Files.createTempDirectory("postings2").toString
    val mem = MemoryStream[(Long, String, Long, String)]
    val stream = mem.toDS().toDF("id", "text", "lsn", "op").selectExpr(
      "CASE WHEN op <> 'd' THEN named_struct('id', id, 'text', text) END AS after",
      "CASE WHEN op <> 'c' THEN named_struct('id', id, 'text', text) END AS before",
      "named_struct('lsn', lsn) AS source", "op")
    val q = Streams.eachBatch(stream)(Streams.bm25IndexBatch(_, _, dir2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt30").toString)
      .start()
    val mini = Seq(1L -> "rare common fresh", 2L -> "common alone")
    mem.addData(mini.map { case (i, s) => (i, s, 100 + i, "c") }: _*)
    q.processAllAvailable(); q.stop()
    assert(Streams.servedBm25(spark, dir2, terms)
      .as[(Long, Long, Long)].collect().toSeq === batch(mini))
  }

  test("x4v serving stack end-to-end: maintained postings + maintained carried IVF-PQ index → filtered probe → RRF fusion ≡ the exact fusion across epochs") {
    import graft.operators.{Text, Vectors}
    val terms = Seq("rare", "common")
    val k = 5
    def textOf(i: Long): String =
      (if (i % 3 == 1) "rare common topic" else "common topic filler") +
        s" w${i} w${i % 7} w${i % 5}" + (" pad" * (i % 4).toInt)
    def labelOf(i: Long): String = if (i % 2 == 0) "a" else "b"
    def docsDf(c: Seq[(Long, String)]) =
      c.map { case (i, s) => (i, s, labelOf(i)) }
        .toDF("doc_id", "text", "label")
    def embOf(c: Seq[(Long, String)]) = Vectors.stubEmbed(
      docsDf(c).select(col("doc_id").as("vec_id"), col("text"), col("label")))
      .select("vec_id", "embedding", "label")
    val corpus0 = (1L to 24L).map(i => i -> textOf(i))
    // frozen models, fit on the seed corpus (the T16 cadence)
    val coarse = Vectors.kmeansCentroids(embOf(corpus0).toDF, 4, 3)
    val books = Vectors.pqCodebooks(embOf(corpus0).toDF, 8, 16, 3)
    val carryEnc = (v: org.apache.spark.sql.DataFrame,
        c: Array[Array[Float]], b: Array[Array[Array[Float]]]) =>
      Vectors.encodeForIndexCarry(v, c, b, Seq("label"))
    val pdir = java.nio.file.Files.createTempDirectory("x4v-post").toString
    val vdir = java.nio.file.Files.createTempDirectory("x4v-vec").toString
    Streams.seedPostings(docsDf(corpus0).select("doc_id", "text"), pdir)
    Streams.vectorIndexBatch(embOf(corpus0).toDF, -1L, vdir, coarse, books,
      carryEnc)
    // serve from the two MAINTAINED stores; reference = the same stack
    // over the current batch corpus. nprobe=12 ≥ nlist=4 and shortlist ≥
    // |corpus|: the probe covers every cell and the exact re-rank sees
    // every filtered candidate, so the ANN head EQUALS the exact head
    // here and the fused lists must match exactly — composition bugs
    // (stale postings, unfolded index, lost carry column) can't hide
    // behind recall slack.
    def fusedServed(c: Seq[(Long, String)]) = {
      val bmr = Text.rankBm25(Streams.servedBm25(spark, pdir, terms), k)
      val q = embOf(c).filter(col("vec_id").isin(1L, 5L))
      val ann = Vectors.pqSearchIndexFiltered(q,
          Streams.readVectorIndex(spark, vdir), Seq("label"), coarse, books, k)
        .select(col("q_id"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("vrank"))
      Text.rrfFuseBy(bmr, ann).filter(col("fused_rank") <= k)
        .select("q_id", "fused_rank", "doc_id")
        .as[(Long, Long, Long)].collect().toSeq.sorted
    }
    def fusedExact(c: Seq[(Long, String)]) = {
      val bmr = Text.bm25TopRanks(docsDf(c).select("doc_id", "text"), terms, k)
      val q = embOf(c).filter(col("vec_id").isin(1L, 5L))
      val ex = Vectors.filteredCosineTopK(q, embOf(c).toDF, Seq("label"), k)
        .select(col("q_id"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("vrank"))
      Text.rrfFuseBy(bmr, ex).filter(col("fused_rank") <= k)
        .select("q_id", "fused_rank", "doc_id")
        .as[(Long, Long, Long)].collect().toSeq.sorted
    }
    assert(fusedServed(corpus0) === fusedExact(corpus0))
    assert(fusedServed(corpus0).nonEmpty)
    // epoch 0: docs 25..30 arrive, doc 2 is REWRITTEN to gain the gate
    // token (lexical rank changes; embedding direction changes), doc 4
    // (in the lexical list: 4 % 3 == 1) is DELETED from both stores
    val rew2 = "rare common rewritten w2 fresh"
    val ups = (25L to 30L).map(i => i -> textOf(i)) :+ (2L -> rew2)
    Streams.postingsApplyBatch(docsDf(ups).select("doc_id", "text"),
      Seq(4L).toDF("doc_id"), 0L, pdir)
    Streams.vectorIndexApplyBatch(embOf(ups).toDF,
      Seq(4L).toDF("vec_id"), 0L, vdir, coarse, books, carryEnc)
    val corpus1 = (corpus0.toMap ++ ups.toMap - 4L).toSeq.sortBy(_._1)
    assert(fusedServed(corpus1) === fusedExact(corpus1))
    assert(!fusedServed(corpus1).map(_._3).contains(4L)) // deleted doc gone
    // epoch 1: doc 5's rewrite LOSES the gate token — it must leave the
    // lexical list while remaining a dense candidate (it still exists)
    val rew5 = "common topic only w5"
    Streams.postingsApplyBatch(Seq(5L -> rew5).toDF("doc_id", "text"),
      spark.emptyDataset[Long].toDF("doc_id"), 1L, pdir)
    Streams.vectorIndexApplyBatch(embOf(Seq(5L -> rew5)).toDF,
      spark.emptyDataset[Long].toDF("vec_id"), 1L, vdir, coarse, books,
      carryEnc)
    val corpus2 = (corpus1.toMap + (5L -> rew5)).toSeq.sortBy(_._1)
    assert(fusedServed(corpus2) === fusedExact(corpus2))
    val servedBmDocs = Text.rankBm25(
      Streams.servedBm25(spark, pdir, terms), k)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(!servedBmDocs.contains(5L)) // lost the gate token
    // same-epoch upsert+delete of one vec_id would tie the fold — refused
    intercept[IllegalArgumentException](Streams.vectorIndexApplyBatch(
      embOf(Seq(5L -> rew5)).toDF, Seq(5L).toDF("vec_id"), 9L, vdir,
      coarse, books, carryEnc))
  }

  test("T31 per-user moments: additive store merge over batch splits flags ≡ batch q36; replay idempotent; stream wrapper smoke") {
    import graft.operators.Relational
    // user 1: spike at n=13 (flags); user 2: constant; user 3: singleton
    val rows = (1L to 12L).map(i => (i, 1L, 1000L)) ++
      Seq((13L, 1L, 30000L), (21L, 2L, 500L), (22L, 2L, 500L), (31L, 3L, 7L))
    val all = rows.toDF("event_id", "user_id", "v_c")
    val root = java.nio.file.Files.createTempDirectory("moments").toString
    val batches = rows.grouped(6).toSeq // deterministic 3-way split
    batches.zipWithIndex.foreach { case (b, i) =>
      Streams.momentsBatch(b.toDF("event_id", "user_id", "v_c"), i.toLong, root)
    }
    def moments(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "n", "s", "q")
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(moments(Streams.readMoments(spark, root)) ===
      moments(Relational.momentsByKey(all)))
    val flagged = Streams.flagOutliers(all, root)
      .as[(Long, Long, Long)].collect().toSeq
    assert(flagged === Relational.outliersByKey(all)
      .as[(Long, Long, Long)].collect().toSeq)
    assert(flagged === Seq((13L, 1L, 30000L)))
    // CRASH REPLAY: the last batch id again is a no-op at the txn gate,
    // so the merged result is identical
    Streams.momentsBatch(batches.last.toDF("event_id", "user_id", "v_c"),
      (batches.size - 1).toLong, root)
    assert(moments(Streams.readMoments(spark, root)) ===
      moments(Relational.momentsByKey(all)))
    // stream wrapper smoke on a fresh root
    implicit val ctx = spark.sqlContext
    val root2 = java.nio.file.Files.createTempDirectory("moments2").toString
    val mem = MemoryStream[(Long, Long, Long)]
    val q = Streams.eachBatch(mem.toDS().toDF("event_id", "user_id", "v_c"))(
        Streams.momentsBatch(_, _, root2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt31").toString)
      .start()
    mem.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    assert(moments(Streams.readMoments(spark, root2)) ===
      moments(Relational.momentsByKey(all)))
    // OVERFLOW GUARD on the merged state: a batch whose magnitudes push
    // a user's lifetime n·max|v_c| past the headroom bound must THROW at
    // commit (never store wrap-prone moments) — and the failed commit
    // must leave the store at its prior state
    intercept[Exception] {
      Streams.momentsBatch(
        Seq((99L, 9L, 2000000000L), (100L, 9L, 2000000001L))
          .toDF("event_id", "user_id", "v_c"),
        batches.size.toLong, root)
    }
    assert(moments(Streams.readMoments(spark, root)) ===
      moments(Relational.momentsByKey(all)))
  }

  test("T33 split registry: assignments are write-once under cluster merges, contamination is flagged not migrated, replay is as-of its own epoch, stream wrapper smoke") {
    import graft.operators.Curation
    // pick ids whose 50%-coin differs so a merge MUST contaminate
    val coins = spark.range(0, 64)
      .select(col("id"), Curation.splitOf(col("id"), 50).as("split"))
      .as[(Long, String)].collect().toMap
    val trainId = (0L until 64L).find(coins(_) == "train").get
    val valId = (0L until 64L).find(coins(_) == "val").get
    val newId = 200L
    val regDir = java.nio.file.Files.createTempDirectory("reg33").toString
    val ccDir = java.nio.file.Files.createTempDirectory("cc33").toString
    // batch 0: both arrive before any clustering — singleton coins
    Streams.splitRegistryBatch(Seq(trainId, valId).toDF("doc_id"), 0L,
      regDir, ccDir, valPct = 50)
    def splits() = Streams.readSplits(spark, regDir)
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(splits() === Seq((trainId, trainId, "train"), (valId, valId, "val")).sorted)
    // batch 1: a pair merges them; a third doc joins the merged cluster
    Streams.clusterIndexBatch(Seq((trainId, valId), (trainId, newId))
      .toDF("da", "db"), 1L, ccDir)
    Streams.splitRegistryBatch(Seq(trainId, newId).toDF("doc_id"), 1L,
      regDir, ccDir, valPct = 50)
    val rep = Seq(trainId, valId, newId).min
    // write-once: trainId keeps its batch-0 assignment (one row, original
    // grp and split); newId inherits the CURRENT representative's coin
    assert(splits() === Seq(
      (trainId, trainId, "train"), (valId, valId, "val"),
      (newId, rep, coins(rep))).sorted)
    // the merge united differently-split docs: flagged, never migrated
    val cont = Streams.splitContamination(spark, regDir, ccDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(cont.map(_._1) === Seq(rep))
    val (nTrain, nVal) = (cont.head._2, cont.head._3)
    assert(nTrain >= 1 && nVal >= 1 && nTrain + nVal === 3)
    // cluster store advances (unrelated pair) — then a CRASH REPLAY of
    // registry batch 1 is a no-op at the epoch gate: the store is
    // unchanged
    Streams.clusterIndexBatch(Seq((300L, 301L)).toDF("da", "db"), 2L, ccDir)
    Streams.splitRegistryBatch(Seq(trainId, newId).toDF("doc_id"), 1L,
      regDir, ccDir, valPct = 50)
    assert(splits() === Seq(
      (trainId, trainId, "train"), (valId, valId, "val"),
      (newId, rep, coins(rep))).sorted)
    // stream wrapper smoke on fresh dirs (no clusters → singleton coins)
    implicit val ctx = spark.sqlContext
    val regDir2 = java.nio.file.Files.createTempDirectory("reg33b").toString
    val ccDir2 = java.nio.file.Files.createTempDirectory("cc33b").toString
    val mem = MemoryStream[Long]
    val q = Streams.eachBatch(mem.toDS().toDF("doc_id"))(
        Streams.splitRegistryBatch(_, _, regDir2, ccDir2, valPct = 50))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt33").toString)
      .start()
    mem.addData(trainId, valId)
    q.processAllAvailable(); q.stop()
    assert(Streams.readSplits(spark, regDir2)
      .as[(Long, Long, String)].collect().toSeq.sorted ===
      Seq((trainId, trainId, coins(trainId)), (valId, valId, coins(valId))).sorted)
  }

  test("T36 hierarchy store: subtree moves re-resolve only the affected closure, folds equal batch, replay idempotent, cycles throw pre-commit, stream wrapper smoke") {
    import graft.operators.Graph
    val root = java.nio.file.Files.createTempDirectory("t36").toString + "/h"
    def closure() = Streams.readHierarchy(spark, root).get
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    def batchRef(rows: Seq[(Long, Option[Long])]) =
      Graph.hierarchyPaths(rows.toDF("node", "parent"))
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    // batch 0: the initial forest — 1 -> (11, 12), 11 -> (111, 112), 2 -> 21
    val b0 = Seq((1L, None), (2L, None), (11L, Some(1L)), (12L, Some(1L)),
      (111L, Some(11L)), (112L, Some(11L)), (21L, Some(2L)))
    Streams.hierarchyBatch(b0.toDF("node", "parent"), 0L, root)
    assert(closure() === batchRef(b0))
    // batch 1: MOVE the 11-subtree under 2 — 111/112 must re-root to 2
    // while the rest of the closure passes through untouched
    Streams.hierarchyBatch(Seq((11L, Some(2L))).toDF("node", "parent"),
      1L, root)
    val after1 = b0.map { case (n, p) => if (n == 11L) (n, Some(2L)) else (n, p) }
    assert(closure() === batchRef(after1))
    assert(closure().find(_._1 == 111L).get ===
      ((111L, 2L, 2L, "2/11/111")))
    // batch 2: insert under the moved subtree
    Streams.hierarchyBatch(Seq((113L, Some(11L))).toDF("node", "parent"),
      2L, root)
    val after2 = after1 :+ (113L, Some(11L): Option[Long])
    assert(closure() === batchRef(after2))
    // crash replay of the LAST batch (the only replay foreachBatch can
    // deliver — an older batch committing implies its checkpoint
    // advanced): a no-op at the txn gate — the committed closure is
    // unchanged
    Streams.hierarchyBatch(Seq((113L, Some(11L))).toDF("node", "parent"),
      2L, root)
    assert(closure() === batchRef(after2))
    // cycle: moving 2 under its own descendant 111 must THROW inside
    // the fold; the failed commit leaves the store at its prior version
    intercept[IllegalStateException] {
      Streams.hierarchyBatch(Seq((2L, Some(111L))).toDF("node", "parent"),
        3L, root)
    }
    assert(closure() === batchRef(after2))
    // stream wrapper smoke on a fresh root
    implicit val ctx = spark.sqlContext
    val root2 = java.nio.file.Files.createTempDirectory("t36b").toString + "/h"
    val mem = MemoryStream[(Long, Option[Long])]
    val q = Streams.eachBatch(mem.toDS().toDF("node", "parent"))(
        Streams.hierarchyBatch(_, _, root2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt36").toString)
      .start()
    mem.addData((1L, None), (11L, Some(1L)))
    q.processAllAvailable(); q.stop()
    assert(Streams.readHierarchy(spark, root2).get
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1) ===
      batchRef(Seq((1L, None), (11L, Some(1L)))))
  }

  test("T36 deletes: subtree removal is orphan-free, absent deletes no-op (replay idempotent), mixed-op batch folds upserts-then-deletes, both ops on one node throw") {
    import graft.operators.Graph
    val root = java.nio.file.Files.createTempDirectory("t36d").toString + "/h"
    def closure() = Streams.readHierarchy(spark, root).get
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    def batchRef(rows: Seq[(Long, Option[Long])]) =
      Graph.hierarchyPaths(rows.toDF("node", "parent"))
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    val b0 = Seq((1L, None), (2L, None), (11L, Some(1L)), (12L, Some(1L)),
      (111L, Some(11L)), (112L, Some(11L)), (21L, Some(2L)))
    Streams.hierarchyBatch(b0.toDF("node", "parent"), 0L, root)
    // batch 1: delete the 11-subtree — 11, 111, 112 all go; nothing
    // dangles, the rest of the forest passes through untouched
    Streams.hierarchyDeleteBatch(Seq(11L).toDF("node"), 1L, root)
    val after1 = b0.filterNot(r => Set(11L, 111L, 112L)(r._1))
    assert(closure() === batchRef(after1))
    // crash replay of the delete batch: a no-op at the txn gate
    Streams.hierarchyDeleteBatch(Seq(11L).toDF("node"), 1L, root)
    assert(closure() === batchRef(after1))
    // batch 2: deleting a node that never existed is also a no-op
    Streams.hierarchyDeleteBatch(Seq(999L).toDF("node"), 2L, root)
    assert(closure() === batchRef(after1))
    // batch 3, mixed ops: insert 31 under 2 AND delete the 21 leaf —
    // both apply; then batch 4 proves upserts fold FIRST: an insert
    // under a subtree the SAME batch deletes joins it and dies with it
    Streams.hierarchyOpsBatch(
      Seq((31L, Some(2L), "u"), (21L, None, "d"))
        .toDF("node", "parent", "op"), 3L, root)
    val after3 = after1.filterNot(_._1 == 21L) :+ (31L, Some(2L): Option[Long])
    assert(closure() === batchRef(after3))
    Streams.hierarchyOpsBatch(
      Seq((121L, Some(12L), "u"), (12L, None, "d"))
        .toDF("node", "parent", "op"), 4L, root)
    val after4 = after3.filterNot(_._1 == 12L)
    assert(closure() === batchRef(after4))
    assert(!closure().exists(_._1 == 121L))
    // a node carrying both ops in one batch is ambiguous — THROW, and
    // the failed commit leaves the store at its prior version
    intercept[Exception] {
      Streams.hierarchyOpsBatch(
        Seq((31L, Some(1L), "u"), (31L, None, "d"))
          .toDF("node", "parent", "op"), 5L, root)
    }
    assert(closure() === batchRef(after4))
    // an op outside the {u, d} vocabulary throws rather than silently
    // committing a version that dropped a changelog operation
    intercept[Exception] {
      Streams.hierarchyOpsBatch(
        Seq((32L, Some(1L), "D")).toDF("node", "parent", "op"), 5L, root)
    }
    assert(closure() === batchRef(after4))
    // stream wrapper smoke: ops stream on a fresh root
    implicit val ctx = spark.sqlContext
    val root2 = java.nio.file.Files.createTempDirectory("t36d2").toString + "/h"
    val mem = MemoryStream[(Long, Option[Long], String)]
    val q = Streams.eachBatch(mem.toDS().toDF("node", "parent", "op"))(
        Streams.hierarchyOpsBatch(_, _, root2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt36d").toString)
      .start()
    mem.addData((1L, None, "u"), (11L, Some(1L), "u"), (12L, Some(1L), "u"))
    q.processAllAvailable()
    mem.addData((11L, None, "d"))
    q.processAllAvailable(); q.stop()
    assert(Streams.readHierarchy(spark, root2).get
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1) ===
      batchRef(Seq((1L, None), (12L, Some(1L)))))
  }

  test("T33 replay race: a cluster epoch committing late — inside the registry batch's own window, after first execution — cannot change recorded assignments") {
    // The cluster store and the registry run under INDEPENDENT
    // checkpoints, so a cluster epoch ≤ the registry batch's id can
    // commit AFTER that registry batch first executed. A crash replay
    // that re-read "committed cluster state ≤ batchId" would then fold
    // the late merge and re-coin the docs by their new shared
    // representative — silently violating write-once. The committed
    // batch's epoch mark makes the replay a no-op instead.
    val regDir = java.nio.file.Files.createTempDirectory("reg33r").toString
    val ccDir = java.nio.file.Files.createTempDirectory("cc33r").toString
    val (a, b) = (5L, 6L)
    // registry batch 2 runs while the cluster store is EMPTY: both docs
    // coin as singletons (grp = own id)
    Streams.splitRegistryBatch(Seq(a, b).toDF("doc_id"), 2L,
      regDir, ccDir, valPct = 50)
    def splits() = Streams.readSplits(spark, regDir)
      .as[(Long, Long, String)].collect().toSeq.sorted
    val before = splits()
    assert(before.map(s => (s._1, s._2)).toSet === Set((a, a), (b, b)))
    // the independently-checkpointed cluster writer now commits an epoch
    // INSIDE the registry batch's window (1 ≤ 2) merging the two docs
    Streams.clusterIndexBatch(Seq((a, b)).toDF("da", "db"), 1L, ccDir)
    // crash replay of registry batch 2: must keep its recorded
    // assignments, not re-coin from the advanced store
    val v = LakeFormat.state(spark, regDir).version
    Streams.splitRegistryBatch(Seq(a, b).toDF("doc_id"), 2L,
      regDir, ccDir, valPct = 50)
    assert(splits() === before)
    assert(LakeFormat.state(spark, regDir).version === v)
  }

  test("T34 erasure propagation: in-place store sweep touches only erased buckets, intervals survive, ingest guard redacts stragglers, ledger folds, replay idempotent") {
    val root = java.nio.file.Files.createTempDirectory("t34").toString + "/h"
    val ledger = java.nio.file.Files.createTempDirectory("t34l").toString + "/e"
    def e(id: Long, op: String, lsn: Long, em: String): CdcEvent = op match {
      case "c" => CdcEvent(None, row(id, em), src(lsn), "c", lsn)
      case "u" => CdcEvent(row(id, "old"), row(id, em), src(lsn), "u", lsn)
      case "d" => CdcEvent(row(id, em), None, src(lsn), "d", lsn)
    }
    val b0 = Seq(e(1, "c", 100, "a1"), e(2, "c", 200, "b1"),
      e(3, "c", 300, "c1"), e(4, "c", 400, "d1"))
    val b1 = Seq(e(1, "u", 110, "a2"), e(2, "u", 210, "b2"))
    // one batch per create: the history spans several files
    b0.zipWithIndex.foreach { case (ev, i) =>
      Streams.scd2Batch(Seq(ev).toDS.toDF, i.toLong, root) }
    Streams.scd2Batch(b1.toDS.toDF, 4L, root)
    def hist() = Streams.readScd2(spark, root).get
      .select("id", "valid_from", "valid_to", "email").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        Option(r.getString(3)))).toSet
    val before = hist()
    // pre-request: no ledger, and the ingest guard passes batches through
    assert(Streams.readErased(spark, ledger).isEmpty)
    assert(Streams.redactIncoming(b1.toDS.toDF, ledger)
      .except(b1.toDS.toDF).count() === 0)
    // request: erase key 2 (ledger epoch 2), sweep the store in place
    Streams.erasureLedgerBatch(Seq(2L).toDF("id"), 2L, ledger)
    val filesBefore = LakeFormat.state(spark, root).files
    Streams.erasureApplyStore(spark, root, 2L, Seq("email"), ledger)
    val after = hist()
    // key 2 keeps its exact interval structure, PII gone; others untouched
    assert(after.filter(_._1 == 2L) ===
      before.filter(_._1 == 2L).map(t => (t._1, t._2, t._3, Option.empty[String])))
    assert(after.filter(_._1 != 2L) === before.filter(_._1 != 2L))
    // file granularity: the sweep commit removed only the files holding
    // key 2; the files of keys 3 and 4 survive
    val filesAfter = LakeFormat.state(spark, root).files.map(_.path).toSet
    def holds(a: LakeFormat.AddFile, k: Long) = {
      val st = a.stats("id")
      st.min.exists(_.toLong <= k) && st.max.exists(_.toLong >= k)
    }
    val removed = filesBefore.filterNot(a => filesAfter.contains(a.path))
    assert(filesBefore.size > 2)
    assert(removed.nonEmpty && removed === filesBefore.filter(holds(_, 2L)))
    // crash replay of the sweep epoch: its txn marker makes it a no-op
    val v = LakeFormat.state(spark, root).version
    Streams.erasureApplyStore(spark, root, 2L, Seq("email"), ledger)
    assert(LakeFormat.state(spark, root).version === v)
    assert(hist() === after)
    // stragglers: a later update for the erased key loses its PII at
    // ingest, an unrelated key's update lands verbatim
    val b2 = Seq(e(2, "u", 220, "b3"), e(3, "u", 310, "c2"))
    Streams.scd2Batch(Streams.redactIncoming(b2.toDS.toDF, ledger), 5L, root)
    val h3 = hist()
    assert(h3.filter(_._1 == 2L).forall(_._4.isEmpty))
    assert(h3.contains((2L, 210L, Some(220L), None)) &&
      h3.contains((2L, 220L, None, None)))
    assert(h3.contains((3L, 310L, None, Some("c2"))))
    // a second request FOLDS into the ledger; the next sweep covers both
    Streams.erasureLedgerBatch(Seq(4L).toDF("id"), 4L, ledger)
    assert(Streams.readErased(spark, ledger).get
      .as[Long].collect().toSet === Set(2L, 4L))
    Streams.erasureApplyStore(spark, root, 4L, Seq("email"), ledger)
    val h4 = hist()
    assert(h4.filter(t => Set(2L, 4L)(t._1)).forall(_._4.isEmpty))
    assert(h4.filter(t => !Set(2L, 4L)(t._1)) ===
      h3.filter(t => !Set(2L, 4L)(t._1)))
    // the sweep generalizes across store SCHEMAS: a LakeSink replica
    // (3 PII columns) sweeps with the same function — erased keys stay
    // PRESENT (cardinality preserved) but carry no PII
    val snapRoot = java.nio.file.Files.createTempDirectory("t34s").toString + "/s"
    LakeFormat.create(spark, snapRoot, Seq("id"), statsCols = Seq("id"))
    LakeSink.applyBatch(b0.toDS.toDF, snapRoot, "t34", 0L)
    def snap() = LakeFormat.snapshot(spark, snapRoot).filter(col("live"))
      .select("id", "first_name", "last_name", "email").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    val s0 = snap()
    assert(s0.map(_._1) === Set(1L, 2L, 3L, 4L))
    Streams.erasureApplyStore(spark, snapRoot, 10L,
      Seq("first_name", "last_name", "email"), ledger)
    val s1 = snap()
    assert(s1.map(_._1) === s0.map(_._1)) // nobody vanishes
    assert(s1.filter(t => Set(2L, 4L)(t._1)) ===
      Set((2L, None, None, None), (4L, None, None, None)))
    assert(s1.filter(t => !Set(2L, 4L)(t._1)) ===
      s0.filter(t => !Set(2L, 4L)(t._1)))
  }

  test("T32 graph store: incremental edge/degree epochs serve pageRank ≡ batch; re-sends no-ops; replay idempotent; compaction layout-only; stream wrapper smoke") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(13)
    val edges = (0 until 40).map { _ =>
      val a = rnd.nextInt(10).toLong; val b = rnd.nextInt(10).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val withDups = edges ++ edges.take(8) // cross-batch re-sends
    val batches = withDups.grouped(15).toSeq
    val dir = java.nio.file.Files.createTempDirectory("gstore").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      Streams.graphEdgesBatch(b.toDF("src", "dst"), i.toLong, dir)
    }
    // the maintained degree table must equal the edge-derived one exactly
    def degs() = Streams.readGraphDegrees(spark, dir)
      .as[(Long, Long)].collect().toSeq.sorted
    def derived() = Streams.readGraphEdges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(degs() === derived())
    // serving from the store ≡ the batch plan on the raw edge list
    def pr() = Streams.servedPageRank(spark, dir, iters = 3,
        scale = 1000000000000L, topK = 20)
      .as[(Long, Long)].collect().toSeq
    val batchPr = Graph.pageRank(edges.toDF("src", "dst"), iters = 3,
      scale = 1000000000000L, topK = 20).as[(Long, Long)].collect().toSeq
    assert(pr() === batchPr)
    // CRASH REPLAY: the last epoch is a no-op at both tables' epoch
    // gates — reads unchanged
    Streams.graphEdgesBatch(batches.last.toDF("src", "dst"),
      (batches.size - 1).toLong, dir)
    assert(degs() === derived())
    assert(pr() === batchPr)
    // compaction merges epochs; reads identical
    Streams.compactGraph(spark, dir, (batches.size - 1).toLong)
    assert(degs() === derived())
    assert(pr() === batchPr)
    // stream wrapper smoke on a fresh store
    implicit val ctx = spark.sqlContext
    val dir2 = java.nio.file.Files.createTempDirectory("gstore2").toString
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.eachBatch(mem.toDS().toDF("src", "dst"))(
        Streams.graphEdgesBatch(_, _, dir2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt32").toString)
      .start()
    mem.addData(withDups: _*)
    q.processAllAvailable(); q.stop()
    assert(Streams.servedPageRank(spark, dir2, iters = 3,
        scale = 1000000000000L, topK = 20)
      .as[(Long, Long)].collect().toSeq === batchPr)
  }

  test("T32 graph retractions: delete sweeps edges + degrees; re-sent delete no-op; replay idempotent; delete-then-reinsert; compaction clears tombstones") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 5L),
      (10L, 11L))
    def sym(es: Seq[(Long, Long)]) = (es ++ es.map(_.swap)).toSet
    val dir = java.nio.file.Files.createTempDirectory("gdel").toString
    Streams.graphEdgesBatch(edges.toDF("src", "dst"), 0L, dir)
    def present() = Streams.readGraphEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
    def degs() = Streams.readGraphDegrees(spark, dir)
      .as[(Long, Long)].collect().toSeq.sorted
    def derived() = Streams.readGraphEdges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .as[(Long, Long)].collect().toSeq.sorted
    def servedPr() = Streams.servedPageRank(spark, dir, iters = 3,
      scale = 1000000000000L, topK = 20).as[(Long, Long)].collect().toSeq
    def batchPr(es: Seq[(Long, Long)]) = Graph.pageRank(
        es.toDF("src", "dst"), iters = 3, scale = 1000000000000L,
        topK = 20).as[(Long, Long)].collect().toSeq
    // DELETE: retire (4,5) and (10,11) — nodes 5, 10, 11 sweep to
    // degree 0 and leave the served tables entirely
    Streams.graphEdgesDeleteBatch(
      Seq((4L, 5L), (10L, 11L)).toDF("src", "dst"), 1L, dir)
    val kept = edges.filter(e => e != ((4L, 5L)) && e != ((10L, 11L)))
    assert(present() === sym(kept))
    assert(degs() === derived())
    assert(degs().map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    assert(servedPr() === batchPr(kept))
    // RE-SENT delete in a LATER batch: the edges are absent now, so the
    // semi-join drops them — a no-op epoch; a self-loop delete is
    // excluded by symmetrization like a self-loop insert
    Streams.graphEdgesDeleteBatch(
      Seq((4L, 5L), (9L, 9L)).toDF("src", "dst"), 2L, dir)
    assert(present() === sym(kept))
    assert(degs() === derived())
    // CRASH REPLAY of the delete batch: a no-op at the epoch gates —
    // reads unchanged
    Streams.graphEdgesDeleteBatch(
      Seq((4L, 5L), (10L, 11L)).toDF("src", "dst"), 1L, dir)
    assert(present() === sym(kept))
    assert(servedPr() === batchPr(kept))
    // DELETE-THEN-REINSERT: (4,5) returns — fresh again by the weight
    // fold (0 → 1), degrees bump back additively
    Streams.graphEdgesBatch(Seq((4L, 5L)).toDF("src", "dst"), 3L, dir)
    val back = kept :+ ((4L, 5L))
    assert(present() === sym(back))
    assert(degs() === derived())
    assert(servedPr() === batchPr(back))
    // COMPACTION clears tombstones: reads identical, and the compacted
    // table's stored rows carry no w = −1
    Streams.compactGraph(spark, dir, 3L)
    assert(present() === sym(back))
    assert(degs() === derived())
    assert(servedPr() === batchPr(back))
    val rawW = LakeFormat.snapshot(spark, s"$dir/edges")
      .select(col("w")).as[Long].collect().toSet
    assert(rawW === Set(1L))
  }

  test("T32 graph mixed-op batch: u+d in one epoch; unknown op throws; same-edge both-ops throws; ops stream smoke") {
    import graft.operators.Graph
    val dir = java.nio.file.Files.createTempDirectory("gops").toString
    def sym(es: Seq[(Long, Long)]) = (es ++ es.map(_.swap)).toSet
    def present() = Streams.readGraphEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
    def degs() = Streams.readGraphDegrees(spark, dir)
      .as[(Long, Long)].collect().toSeq.sorted
    def derived() = Streams.readGraphEdges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .as[(Long, Long)].collect().toSeq.sorted
    Streams.graphEdgesOpsBatch(
      Seq((1L, 2L, "u"), (2L, 3L, "u"), (3L, 4L, "u"))
        .toDF("src", "dst", "op"), 0L, dir)
    // one epoch carrying an insert AND a retraction of a prior edge
    Streams.graphEdgesOpsBatch(
      Seq((4L, 5L, "u"), (2L, 3L, "d")).toDF("src", "dst", "op"), 1L, dir)
    assert(present() === sym(Seq((1L, 2L), (3L, 4L), (4L, 5L))))
    assert(degs() === derived())
    // unknown op THROWS before anything commits
    val e1 = intercept[Exception] {
      Streams.graphEdgesOpsBatch(
        Seq((7L, 8L, "x")).toDF("src", "dst", "op"), 2L, dir)
    }
    assert(e1.getMessage.contains("unknown op") ||
      Option(e1.getCause).exists(_.getMessage.contains("unknown op")))
    // both ops for the same UNDIRECTED edge (even direction-flipped)
    // is ambiguous within one batch and THROWS before anything commits
    val e2 = intercept[Exception] {
      Streams.graphEdgesOpsBatch(
        Seq((7L, 8L, "u"), (8L, 7L, "d")).toDF("src", "dst", "op"),
        2L, dir)
    }
    assert(e2.getMessage.contains("both an insert") ||
      Option(e2.getCause).exists(_.getMessage.contains("both an insert")))
    // neither failed batch committed anything
    assert(present() === sym(Seq((1L, 2L), (3L, 4L), (4L, 5L))))
    // ops stream wrapper smoke on a fresh store: inserts then a delete
    // wave through the streaming path converge to the swept graph
    implicit val ctx = spark.sqlContext
    val dir2 = java.nio.file.Files.createTempDirectory("gops2").toString
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.eachBatch(mem.toDS().toDF("src", "dst", "op"))(
        Streams.graphEdgesOpsBatch(_, _, dir2))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckptops").toString)
      .start()
    mem.addData((1L, 2L, "u"), (2L, 3L, "u"))
    q.processAllAvailable()
    mem.addData((2L, 3L, "d"), (3L, 4L, "u"))
    q.processAllAvailable(); q.stop()
    assert(Streams.readGraphEdges(spark, dir2)
      .as[(Long, Long)].collect().toSet ===
      sym(Seq((1L, 2L), (3L, 4L))))
    assert(Streams.servedPageRank(spark, dir2, iters = 3,
        scale = 1000000000000L, topK = 20)
      .as[(Long, Long)].collect().toSeq ===
      Graph.pageRank(Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"),
        iters = 3, scale = 1000000000000L, topK = 20)
        .as[(Long, Long)].collect().toSeq)
  }

  test("x9d durable twin: three crawl increments through the T17 cluster store + T15 bloom gate fold to the batch x9 kept set; registered x9d ≡ x9") {
    import graft.operators.{Graph, Text}
    import graft.functions.BloomMembership
    val dir = TestSpark.sf
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val pairs = Text.stagedJaccardPairs(spark, dir).select(col("da"), col("db"))
    // T17 DURABLE cluster maintenance, one epoch per increment (the
    // pmod split merges clusters across epochs — the hard case)
    val clusterDir = java.nio.file.Files.createTempDirectory("x9dcc").toString
    (0 until 3).foreach { i =>
      Streams.clusterIndexBatch(
        pairs.filter(pmod(col("da") + col("db"), lit(3)) === i),
        i.toLong, clusterDir)
    }
    // the static benchmark artifact: exact set + its T15 bloom sketch
    val sh = Text.stagedShingles(spark, dir)
    val bench = sh.filter(col("doc_id") < 50).select(col("hs"))
      .distinct().localCheckpoint()
    val nB = math.max(1L, bench.count())
    val sketch = bench.agg(BloomMembership.bloomAgg(col("hs"), nB,
      BloomMembership.bitsFor(nB, 1e-5)).as("bf")).head.getAs[Array[Byte]]("bf")
    // per-increment gate + bloom-prefilter/exact-confirm decontamination
    val keptPre = (0 until 3).map { i =>
      val inc = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      val gated = inc.filter(col("n_tokens") >= 5 && col("doc_id") >= 50)
      val flagged = sh
        .filter(pmod(col("doc_id"), lit(3)) === i && col("doc_id") >= 50)
        .filter(BloomMembership.mightContain(sketch, col("hs")))
      val contaminated = flagged.join(broadcast(bench), "hs")
        .select(col("doc_id"))
      gated.join(contaminated, Seq("doc_id"), "left_anti")
    }.reduce(_ unionByName _)
    // dedup at SERVE time against the maintained store (a later epoch
    // can merge clusters and dethrone an already-arrived representative)
    val ccMap = Streams.readClusterMap(spark, clusterDir)
    val keptIds = keptPre
      .join(ccMap, keptPre("doc_id") === ccMap("node"), "left")
      .filter(col("node").isNull || keptPre("doc_id") === col("cluster"))
      .select(keptPre("doc_id")).as[Long].collect().toSet
    // batch reference: the x9 chain recomputed from scratch
    val cc = Graph.connectedComponents(pairs)
    val contamBatch = sh.filter(col("doc_id") >= 50)
      .join(broadcast(bench), "hs").select(col("doc_id")).distinct()
    val batchKept = docs
      .filter(col("n_tokens") >= 5 && col("doc_id") >= 50)
      .join(cc, docs("doc_id") === cc("node"), "left")
      .filter(col("node").isNull || docs("doc_id") === col("cluster"))
      .join(contamBatch, Seq("doc_id"), "left_anti")
      .select(docs("doc_id")).as[Long].collect().toSet
    assert(keptIds === batchKept)
    assert(keptIds.nonEmpty) // the fixture must actually exercise the fold
    // and the registered incremental pipeline serves the identical
    // packed manifest as batch x9 (the driver checks the same via x9Sql)
    assert(SparkEntry.queries("x9d_incr_pipeline")(spark, dir)
      .collect().toSeq ===
      SparkEntry.queries("x9_pipeline")(spark, dir).collect().toSeq)
  }

  test("erasure propagates into every search-serving store: no store retains erased-doc content after sweep + compaction; erased docs stop forming pairs; cluster lineage serves without them") {
    import graft.operators.{Graph, Text, Vectors}
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("erase").toString
    val postingsDir = s"$root/postings"; val positionsDir = s"$root/pos"
    val vidxDir = s"$root/vidx"; val bandDir = s"$root/bands"
    val pairDir = s"$root/pairs"; val shDir = s"$root/shingles"
    val cPairDir = s"$root/cpairs"; val ledger = s"$root/ledger"
    // build every store over the corpus (epoch ≤ 0)
    Streams.seedPostings(docs, postingsDir)
    Streams.positionsApplyBatch(docs,
      docs.select(col("doc_id")).limit(0), -1L, positionsDir)
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
    val coarse = Vectors.kmeansCentroids(e, 8, 2)
    val books = Vectors.pqCodebooks(e, 8, 8, 2)
    Streams.seedVectorIndex(e, vidxDir, coarse, books)
    Streams.nearDupBatch(docs, 0L, bandDir, pairDir)
    Streams.containmentBatch(docs, 0L, shDir, cPairDir)
    // erase a doc that participates in a discovered near-dup pair (the
    // adversarial case: its content relations are already materialized)
    val (gone, partner) = Streams.readNearDupPairs(spark, pairDir)
      .select(col("doc_a"), col("doc_b")) // pin tuple order: parquet
      .orderBy("doc_a", "doc_b").as[(Long, Long)].head()
    val goneText = docs.filter(col("doc_id") === gone)
      .select("text").as[String].head()
    Streams.erasureLedgerBatch(Seq(gone).toDF("id"), 1L, ledger)
    Streams.erasureApplySearchStores(spark, 1L, ledger,
      postingsDir = Some(postingsDir), positionsDir = Some(positionsDir),
      vectorIndex = Some((vidxDir, coarse, books)),
      bandDir = Some(bandDir), pairDirs = Seq(pairDir, cPairDir),
      shingleDir = Some(shDir))
    // every SERVED view forgets the doc immediately
    assert(Streams.readPostings(spark, postingsDir)
      .filter(col("doc_id") === gone).isEmpty)
    assert(Streams.readPositions(spark, positionsDir)
      .filter(col("doc_id") === gone).isEmpty)
    assert(Streams.readVectorIndex(spark, vidxDir)
      .filter(col("vec_id") === gone).isEmpty)
    assert(Streams.readBandStore(spark, bandDir)
      .filter(col("doc_id") === gone).isEmpty)
    assert(Streams.readNearDupPairs(spark, pairDir)
      .filter(col("doc_a") === gone || col("doc_b") === gone).isEmpty)
    assert(Streams.readNearDupPairs(spark, cPairDir)
      .filter(col("da") === gone || col("db") === gone).isEmpty)
    // an erased doc STOPS FORMING PAIRS: a later increment carrying a
    // verbatim copy of its text pairs with its former partner (the
    // probe machinery is intact) but never with the erased id
    implicit val ctx = spark.sqlContext
    Streams.nearDupBatch(Seq(DocE(900000L, goneText)).toDF, 2L,
      bandDir, pairDir)
    Streams.containmentBatch(Seq(DocE(900001L, goneText)).toDF, 2L,
      shDir, cPairDir)
    val pairsNow = Streams.readNearDupPairs(spark, pairDir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet
    assert(!pairsNow.exists(p => p._1 == gone || p._2 == gone))
    assert(pairsNow.contains(
      (math.min(900000L, partner), math.max(900000L, partner))))
    assert(Streams.readNearDupPairs(spark, cPairDir)
      .filter(col("da") === gone || col("db") === gone).isEmpty)
    // COMPACTION removes the content PHYSICALLY: every parquet file left
    // under a compacted store carries zero rows referencing the erased id
    Streams.compactPostings(spark, postingsDir, 2L)
    Streams.compactPositions(spark, positionsDir, 2L)
    Streams.compactVectorIndex(spark, vidxDir, 2L)
    Streams.compactBandStore(spark, bandDir, 2L)
    Streams.compactPairStore(spark, pairDir, 2L)
    Streams.compactShingleStore(spark, shDir, 2L)
    Streams.compactPairStore(spark, cPairDir, 2L)
    def raw(dir: String) = spark.read.parquet(s"$dir/data")
    assert(raw(postingsDir).filter(col("doc_id") === gone).isEmpty)
    assert(raw(positionsDir).filter(col("doc_id") === gone).isEmpty)
    assert(raw(vidxDir).filter(col("vec_id") === gone).isEmpty)
    assert(raw(bandDir).filter(col("doc_id") === gone).isEmpty)
    assert(raw(pairDir)
      .filter(col("doc_a") === gone || col("doc_b") === gone).isEmpty)
    assert(raw(shDir).filter(col("doc_id") === gone).isEmpty)
    assert(raw(cPairDir)
      .filter(col("da") === gone || col("db") === gone).isEmpty)
    // reads before/after compaction agree (retirement filter ≡ physical
    // removal), and BM25 serving still works over the swept store
    assert(Streams.servedBm25(spark, postingsDir, Text.bm25Terms)
      .filter(col("doc_id") === gone).isEmpty)
    // the LINEAGE answer: dedup clusters served from the swept pair
    // store never name the erased doc — its former partner now clusters
    // with the re-arrived copy instead (the x7n serve path's input)
    val cc = Graph.connectedComponents(
      Streams.readNearDupPairs(spark, pairDir).select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(!cc.contains(gone) && !cc.valuesIterator.contains(gone))
    assert(cc.get(900000L) === cc.get(partner))
    // re-sent erasure of the same id (later epoch) is a no-op on reads
    Streams.erasureApplySearchStores(spark, 3L, ledger,
      bandDir = Some(bandDir), pairDirs = Seq(pairDir))
    assert(Streams.readNearDupPairs(spark, pairDir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet === pairsNow)
    // the T32 co-occurrence graph forgets the doc too: its node leaves
    // (degree swept to 0 via a derived delete batch of its incident
    // edges), partners decrement, and the served ranking equals batch
    // PageRank on the graph minus that node — replay included
    val gDir = s"$root/graph"
    val gEdges = Seq((gone, partner), (partner, 777L), (777L, 778L))
    Streams.graphEdgesBatch(gEdges.toDF("src", "dst"), 0L, gDir)
    Streams.erasureApplySearchStores(spark, 4L, ledger,
      graphDir = Some(gDir))
    val sweptEdges = gEdges.filter(e => e._1 != gone && e._2 != gone)
    def gServed() = Streams.servedPageRank(spark, gDir, iters = 3,
      scale = 1000000000000L, topK = 20).as[(Long, Long)].collect().toSeq
    val gBatch = Graph.pageRank(sweptEdges.toDF("src", "dst"),
        iters = 3, scale = 1000000000000L, topK = 20)
      .as[(Long, Long)].collect().toSeq
    assert(gServed() === gBatch)
    assert(!Streams.readGraphDegrees(spark, gDir)
      .as[(Long, Long)].collect().map(_._1).contains(gone))
    // crash replay of the erasure epoch is a no-op at the epoch gates —
    // reads unchanged
    Streams.erasureApplySearchStores(spark, 4L, ledger,
      graphDir = Some(gDir))
    assert(gServed() === gBatch)
  }
}

package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-17 hardening of the lake source layer, tested AT THE SEAM
  * (this spec lives in `graft.sources`, so it drives the V1 source and
  * relation classes directly — admission control without spinning a
  * StreamingQuery per assertion):
  *
  *  - rate limiting DEFAULTS ON (`maxCommitsPerTrigger`/
  *    `maxManifestsPerTrigger` unset ⇒ 1000, the Delta convention;
  *    `"none"` opts out) — an unbounded catch-up batch is an
  *    operability hazard, not a feature;
  *  - `maxBytesPerTrigger`: whole-version admission capped by ADDED
  *    bytes, always ≥ 1 version per trigger (progress guarantee);
  *  - batch relations PIN their version/tip/manifest at construction —
  *    a self-join or repeated action over one relation reads one
  *    version even while commits land (the Delta snapshot-pinning rule);
  *  - `sizeInBytes` reports the PINNED version's bytes (a time-travel
  *    relation must not be sized by the current tip);
  *  - empty-projection `buildScan` returns ZERO-WIDTH rows (`count(*)`
  *    must not ship full rows);
  *  - `conform` enforces TYPES, not just names (lossless up-cast or
  *    loud restart-to-re-pin refusal);
  *  - concurrent same-name consumer advancement is monotonic and
  *    race-tolerant ([[LakeFormat.advanceConsumerOffset]]);
  *  - vacuum's registry refusal reports the laggard's last-advance AGE,
  *    and `expireConsumersOlderThanMs` reclaims provably-dead
  *    registrations — at both the table and the transaction layer.
  */
class LakeSourceHardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val p = Files.createTempDirectory(tag)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** A lake table with `n` merge commits of one row each. */
  private def tableWithCommits(n: Int): String = {
    val root = freshDir("lsh_table")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    (1 to n).foreach { i =>
      LakeFormat.merge(Seq((i.toLong, i.toLong, true, s"v$i"))
        .toDF("id", "lsn", "live", "v"), root)
    }
    root
  }

  private def mkSource(root: String,
      opts: Map[String, String] = Map.empty): GraftLakeSource =
    new GraftLakeSource(spark, freshDir("lsh_meta"),
      Map("path" -> root) ++ opts)

  // ---------------------------------------------------- rate limit default

  test("per-trigger version cap DEFAULTS to 1000 and 'none' opts out") {
    val root = tableWithCommits(2)
    assert(mkSource(root).maxPerTrigger ===
      Some(LakeStreamSources.DefaultMaxVersionsPerTrigger))
    assert(LakeStreamSources.DefaultMaxVersionsPerTrigger === 1000L)
    assert(mkSource(root, Map("maxCommitsPerTrigger" -> "2"))
      .maxPerTrigger === Some(2L))
    assert(mkSource(root, Map("maxCommitsPerTrigger" -> "none"))
      .maxPerTrigger === None)
    intercept[IllegalArgumentException] {
      mkSource(root, Map("maxCommitsPerTrigger" -> "0")).maxPerTrigger
    }
  }

  // ------------------------------------------------- byte-capped admission

  test("maxBytesPerTrigger admits whole commits up to the cap, ≥1 per trigger") {
    val root = tableWithCommits(5)
    val bytes = (1L to 5L).map(v =>
      LakeFormat.commitAddedBytes(spark, root, v))
    assert(bytes.forall(_ > 0L), s"commit bytes must be recorded: $bytes")
    // cap sized to exactly two commits: the reference walk admits 2+2+1
    val cap = bytes(0) + bytes(1)
    val src = mkSource(root, Map("maxBytesPerTrigger" -> cap.toString))
    // replicate the admission walk as the expected offset sequence
    def walk(from: Long): Long = {
      var end = from; var acc = 0L; var open = true
      while (open && end < 5L) {
        val b = bytes((end + 1).toInt - 1)
        if (end == from || acc + b <= cap) { end += 1; acc += b }
        else open = false
      }
      end
    }
    val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var at = 0L
    while (at < 5L) { at = walk(at); expected += at }
    val offered = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cont = true
    while (cont) {
      src.getOffset.map(LakeStreamSources.versionOf) match {
        case Some(v) if offered.lastOption.forall(_ < v) => offered += v
        case _ => cont = false
      }
    }
    assert(offered.toSeq === expected.toSeq,
      s"offered $offered, expected $expected (bytes=$bytes, cap=$cap)")
    assert(offered.size >= 2, "cap must have chunked the backlog")
  }

  test("a commit fatter than the cap still forms a one-commit batch") {
    val root = tableWithCommits(3)
    val src = mkSource(root, Map("maxBytesPerTrigger" -> "1"))
    val o1 = src.getOffset.map(LakeStreamSources.versionOf)
    val o2 = src.getOffset.map(LakeStreamSources.versionOf)
    val o3 = src.getOffset.map(LakeStreamSources.versionOf)
    assert(Seq(o1, o2, o3) === Seq(Some(1L), Some(2L), Some(3L)))
    // and the batch between consecutive offsets is exactly one commit
    // (asserted on batchPlan — getBatch's frame is streaming-tagged and
    // only executable under the engine)
    val b = src.batchPlan(2L, 2L)
    assert(b.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("tx source: versionBytes sums the advanced members' commit ranges") {
    val root = freshDir("lsh_tx")
    Seq("a", "b").foreach { t =>
      LakeFormat.create(spark, LakeTx.tableRoot(root, t),
        keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
        statsCols = Seq("id"))
    }
    LakeTx.init(spark, root, Seq("a", "b"))
    def up(id: Long) = Seq((id, id, true, s"r$id"))
      .toDF("id", "lsn", "live", "v")
    LakeTx.commitTx(spark, root, Map("a" -> up(1), "b" -> up(2)),
      app = "lsh", txv = 1L)
    LakeTx.commitTx(spark, root, Map("a" -> up(3)), app = "lsh", txv = 2L)
    val src = new GraftLakeTxSource(spark, freshDir("lsh_meta"),
      Map("path" -> root))
    val aBytes = LakeFormat.commitAddedBytes(spark,
      LakeTx.tableRoot(root, "a"), 1L)
    val bBytes = LakeFormat.commitAddedBytes(spark,
      LakeTx.tableRoot(root, "b"), 1L)
    val a2Bytes = LakeFormat.commitAddedBytes(spark,
      LakeTx.tableRoot(root, "a"), 2L)
    assert(src.versionBytes(1L) === aBytes + bBytes)
    assert(src.versionBytes(2L) === a2Bytes)
  }

  // ------------------------------------------------------ relation pinning

  /** Run `body` under a synthetic SQL-execution id so two relation
    * calls share one [[PerExecutionPin]] resolution. */
  private def underExecution[A](id: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty("spark.sql.execution.id", id)
    try body
    finally spark.sparkContext.setLocalProperty("spark.sql.execution.id", null)
  }

  test("batch relation: one execution reads one version; a new action reads the new tip") {
    val root = tableWithCommits(2)
    val rel = GraftLakeRelation.table(spark.sqlContext, root,
      Map("path" -> root))
    // within ONE execution the pin holds across scans even as a commit
    // lands between them (the self-join consistency rule)
    val (n1, n2) = underExecution("lsh-pin-1") {
      val a = rel.buildScan(Array("id"), Array.empty).count()
      LakeFormat.merge(Seq((99L, 99L, true, "late"))
        .toDF("id", "lsn", "live", "v"), root)
      (a, rel.buildScan(Array("id"), Array.empty).count())
    }
    assert(n1 === 2L && n2 === 2L,
      s"scans in one execution must share a pin: $n1 vs $n2")
    // a NEW execution re-resolves the tip — the SAME relation instance
    // (as cached by the session catalog) serves the new commit
    val n3 = underExecution("lsh-pin-2") {
      rel.buildScan(Array("id"), Array.empty).count()
    }
    assert(n3 === 3L, "a new execution must serve the new tip")
    // and through the public reader: fresh actions see fresh commits
    val df = spark.read.format("graft-lake").load(root)
    assert(df.count() === 3L)
    LakeFormat.merge(Seq((98L, 98L, true, "later"))
      .toDF("id", "lsn", "live", "v"), root)
    assert(df.count() === 4L,
      "a new action on the same DataFrame must serve the new commit")
  }

  test("catalog table: SELECT after INSERT INTO sees the new rows (cached-relation freshness)") {
    val root = freshDir("lsh_cat")
    spark.sql("DROP TABLE IF EXISTS lsh_cat_t")
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("lsh_cat_src")
    spark.sql(
      s"""CREATE TABLE lsh_cat_t USING `graft-lake`
         |OPTIONS (path '$root', keyCols 'id')
         |AS SELECT * FROM lsh_cat_src""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM lsh_cat_t").head.getLong(0) === 1L)
    // resolve-once relation caching must NOT freeze the served version:
    // the INSERT's commit is visible to the very next SELECT
    spark.sql("INSERT INTO lsh_cat_t VALUES (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM lsh_cat_t").head.getLong(0) === 2L,
      "SELECT after INSERT INTO must see the inserted row")
    // and a commit from OUTSIDE the catalog (direct API writer) too
    LakeFormat.append(Seq((3L, "c")).toDF("id", "v"), root)
    assert(spark.sql("SELECT count(*) FROM lsh_cat_t").head.getLong(0) === 3L,
      "SELECT must see commits landed by non-catalog writers")
    spark.sql("DROP TABLE lsh_cat_t")
  }

  test("change-feed relation: end version pinned per execution, fresh per action") {
    val root = tableWithCommits(2)
    val rel = new GraftLakeChangeFeedRelation(spark.sqlContext, root, 1L,
      None)
    val (c1, c2) = underExecution("lsh-cf-1") {
      val a = rel.buildScan(Array("_commit_version"), Array.empty).count()
      LakeFormat.merge(Seq((98L, 98L, true, "late"))
        .toDF("id", "lsn", "live", "v"), root)
      (a, rel.buildScan(Array("_commit_version"), Array.empty).count())
    }
    assert(c1 === c2, "one execution must serve one commit range")
    val c3 = underExecution("lsh-cf-2") {
      rel.buildScan(Array("_commit_version"), Array.empty).count()
    }
    assert(c3 > c2, "a new execution must include the new commit")
    // explicit endingVersion stays fixed regardless of execution
    val fixed = spark.read.format("graft-lake")
      .option("readChangeFeed", "true").option("endingVersion", "2")
      .load(root)
    val f1 = fixed.count()
    LakeFormat.merge(Seq((97L, 97L, true, "again"))
      .toDF("id", "lsn", "live", "v"), root)
    assert(fixed.count() === f1)
  }

  test("tx relation: manifest pinned per execution, fresh per action") {
    val root = freshDir("lsh_txrel")
    LakeFormat.create(spark, LakeTx.tableRoot(root, "a"),
      keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
      statsCols = Seq("id"))
    LakeTx.init(spark, root, Seq("a"))
    def up(id: Long) = Seq((id, id, true, s"r$id"))
      .toDF("id", "lsn", "live", "v")
    LakeTx.commitTx(spark, root, Map("a" -> up(1)), app = "lsh2", txv = 1L)
    val rel = GraftLakeRelation.txMember(spark.sqlContext, root, "a", None)
    val (t1, t2) = underExecution("lsh-tx-1") {
      val a = rel.buildScan(Array("id"), Array.empty).count()
      LakeTx.commitTx(spark, root, Map("a" -> up(2)), app = "lsh2", txv = 2L)
      (a, rel.buildScan(Array("id"), Array.empty).count())
    }
    assert(t1 === 1L && t2 === 1L,
      "a commitTx inside one execution must stay invisible to it")
    val t3 = underExecution("lsh-tx-2") {
      rel.buildScan(Array("id"), Array.empty).count()
    }
    assert(t3 === 2L)
    assert(spark.read.format("graft-lake-tx").option("table", "a")
      .load(root).count() === 2L)
  }

  test("sizeInBytes reports the PINNED version's recorded bytes") {
    val root = tableWithCommits(1)
    val v1Bytes = LakeFormat.state(spark, root, Some(1L))
      .files.map(_.bytes).sum
    // grow the table well past v1
    LakeFormat.merge((100L to 160L).map(i => (i, i, true, s"v$i"))
      .toDF("id", "lsn", "live", "v"), root)
    val tipBytes = LakeFormat.state(spark, root).files.map(_.bytes).sum
    assert(tipBytes > v1Bytes)
    val sqlCtx = spark.sqlContext
    val asOf = GraftLakeRelation.table(sqlCtx, root,
      Map("path" -> root, "versionAsOf" -> "1"))
    val cur = GraftLakeRelation.table(sqlCtx, root, Map("path" -> root))
    assert(asOf.sizeInBytes === v1Bytes)
    assert(cur.sizeInBytes === tipBytes)
  }

  // ------------------------------------------------------ empty projection

  test("empty-projection buildScan ships zero-width rows (count(*) path)") {
    val root = tableWithCommits(2)
    val rel = GraftLakeRelation.table(spark.sqlContext, root,
      Map("path" -> root))
    val widths = rel.buildScan(Array.empty, Array.empty)
      .map(_.length).distinct().collect().toSeq
    assert(widths === Seq(0),
      s"count-only scan must be zero-width, got widths $widths")
    val cfRel = new GraftLakeChangeFeedRelation(spark.sqlContext, root, 1L,
      None)
    assert(cfRel.buildScan(Array.empty, Array.empty)
      .map(_.length).distinct().collect().toSeq === Seq(0))
    // and the end-to-end count answers stay right
    assert(spark.read.format("graft-lake").load(root).count() === 2L)
  }

  // ------------------------------------------------------- conform typing

  test("conform up-casts losslessly and refuses lossy type drift") {
    val root = tableWithCommits(1)
    val src = mkSource(root)
    val pinned = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    // int vintage under a pinned long: lossless up-cast, no refusal
    val intDf = Seq((1, "a")).toDF("id", "v")
      .select(col("id").cast("int"), col("v"))
    val conformed = src.conform(intDf, pinned, root)
    assert(conformed.schema("id").dataType === LongType)
    assert(conformed.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "a")))
    // string where long was pinned: loud restart-to-re-pin refusal
    val bad = Seq(("x", "a")).toDF("id", "v")
    val ex = intercept[IllegalStateException] {
      src.conform(bad, pinned, root)
    }
    assert(ex.getMessage.contains("restart") &&
      ex.getMessage.contains("id"))
  }

  // ---------------------------------------- concurrent consumer advancement

  test("advanceConsumerOffset is monotonic and race-tolerant") {
    val dir = freshDir("lsh_cons")
    LakeFormat.advanceConsumerOffset(spark, dir, 5L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(5L))
    // a stale advancer (second query sharing the consumerName) no-ops
    LakeFormat.advanceConsumerOffset(spark, dir, 3L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(5L))
    LakeFormat.advanceConsumerOffset(spark, dir, 7L)
    assert(LakeFormat.consumerOffset(spark, dir) === Some(7L))
    // the strict form still refuses to regress
    intercept[IllegalArgumentException] {
      LakeFormat.commitConsumerOffset(spark, dir, 3L)
    }
  }

  // -------------------------------------------------- registry liveness

  test("vacuum refusal names the laggard's last-advance AGE; expiry reclaims it") {
    val root = tableWithCommits(4)
    LakeFormat.registerConsumer(spark, root, "deadstream")
    val ex = intercept[IllegalStateException] {
      LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L)
    }
    assert(ex.getMessage.contains("deadstream") &&
      ex.getMessage.contains("ago"),
      s"refusal must carry the liveness signal: ${ex.getMessage}")
    // opt-in expiry: age 0ms ⇒ provably-dead by the caller's policy —
    // registration dropped, vacuum proceeds
    LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L,
      expireConsumersOlderThanMs = Some(0L))
    assert(!LakeFormat.registeredConsumers(spark, root)
      .contains("deadstream"))
    // a LIVE consumer (advanced just now) survives a generous TTL
    val live = LakeFormat.registerConsumer(spark, root, "livestream")
    LakeFormat.commitConsumerOffset(spark, live, 1L)
    val ex2 = intercept[IllegalStateException] {
      LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L,
        expireConsumersOlderThanMs = Some(3600000L))
    }
    assert(ex2.getMessage.contains("livestream"))
  }

  test("tx vacuum refusal carries age; expiry reclaims dead tx consumers") {
    val root = freshDir("lsh_txvac")
    LakeFormat.create(spark, LakeTx.tableRoot(root, "a"),
      keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
      statsCols = Seq("id"))
    LakeTx.init(spark, root, Seq("a"))
    def up(id: Long) = Seq((id, id, true, s"r$id"))
      .toDF("id", "lsn", "live", "v")
    (1L to 3L).foreach(i => LakeTx.commitTx(spark, root,
      Map("a" -> up(i)), app = "lshvac", txv = i))
    LakeTx.registerConsumer(spark, root, "deadtx")
    val ex = intercept[IllegalStateException] {
      LakeTx.vacuum(spark, root, keepManifests = 1, olderThanMs = 0L)
    }
    assert(ex.getMessage.contains("deadtx") && ex.getMessage.contains("ago"))
    LakeTx.vacuum(spark, root, keepManifests = 1, olderThanMs = 0L,
      expireConsumersOlderThanMs = Some(0L))
    assert(!LakeTx.registeredConsumers(spark, root).contains("deadtx"))
  }

  // ------------------------------------------------------- batch writes

  test("df.write.format(graft-lake): first write creates from options, modes behave") {
    val root = freshDir("lsh_writer")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // first write without keyCols refuses loudly
    val ex = intercept[Exception] {
      a.write.format("graft-lake").save(s"$root/bad")
    }
    assert(ex.getMessage.contains("keyCols"))
    a.write.format("graft-lake").option("keyCols", "id").save(root)
    val meta = LakeFormat.readMeta(spark, root)
    assert(meta.keyCols === Seq("id") && meta.orderCol === "id" &&
      meta.statsCols === Seq("id"),
      s"create-from-options defaults wrong: $meta")
    // append mode lands a second commit
    Seq((3L, "c")).toDF("id", "v")
      .write.format("graft-lake").mode("append").save(root)
    assert(LakeFormat.snapshot(spark, root).count() === 3L)
    // ErrorIfExists refuses, Ignore no-ops
    intercept[IllegalStateException] {
      a.write.format("graft-lake").mode("errorifexists").save(root)
    }
    Seq((9L, "z")).toDF("id", "v")
      .write.format("graft-lake").mode("ignore").save(root)
    assert(LakeFormat.snapshot(spark, root).count() === 3L)
    // overwrite replaces atomically; the replaced version time-travels
    Seq((7L, "x")).toDF("id", "v")
      .write.format("graft-lake").mode("overwrite").save(root)
    assert(LakeFormat.snapshot(spark, root).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(7L))
    assert(LakeFormat.readAsOf(spark, root, 2L).count() === 3L,
      "pre-overwrite contents must stay time-travelable")
    // and the created table is a REAL lake table: merge works against it
    // (orderCol defaulted to the key itself — the append-only shape)
    LakeFormat.merge(Seq((7L, "x", false)).toDF("id", "v", "live"), root)
    assert(LakeFormat.snapshot(spark, root).filter(col("live")).count() === 0L)
  }

  test("INSERT into a versionAsOf time-travel relation refuses") {
    val root = freshDir("lsh_ttw")
    Seq((1L, "a")).toDF("id", "v")
      .write.format("graft-lake").option("keyCols", "id").save(root)
    val rel = GraftLakeRelation.table(spark.sqlContext, root,
      Map("path" -> root, "versionAsOf" -> "1"))
    val ex = intercept[IllegalArgumentException] {
      rel.insert(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    }
    assert(ex.getMessage.contains("versionAsOf"))
  }

  // ------------------------------------------------------ log retention

  test("pruneLog bounds the log listing; retained versions replay from the floor checkpoint") {
    val root = freshDir("lsh_pl")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    (1 to 6).foreach { i =>
      LakeFormat.merge(Seq((1L, i.toLong, true, s"v$i"), (100L + i, i.toLong,
        true, "pad")).toDF("id", "lsn", "live", "v"), root)
    }
    val before = LakeFormat.snapshot(spark, root).collect().map(_.toString)
      .sorted.toSeq
    val beforeAsOf4 = LakeFormat.readAsOf(spark, root, 4L).collect()
      .map(_.toString).sorted.toSeq
    val pruned = LakeFormat.pruneLog(spark, root, keepVersions = 3,
      olderThanMs = 0L)
    assert(pruned === Seq(1L, 2L, 3L), s"floor=4 must prune 1-3: $pruned")
    // v0 (meta) always kept; listing is bounded
    assert(LakeFormat.listLogVersions(spark, root).sorted ===
      Seq(0L, 4L, 5L, 6L))
    assert(LakeFormat.readMeta(spark, root).keyCols === Seq("id"))
    // every retained version replays exactly (checkpoint at floor + tail)
    assert(LakeFormat.snapshot(spark, root).collect().map(_.toString)
      .sorted.toSeq === before)
    assert(LakeFormat.readAsOf(spark, root, 4L).collect().map(_.toString)
      .sorted.toSeq === beforeAsOf4)
    // bytes survive the checkpoint round trip (sizing still works)
    assert(LakeFormat.state(spark, root, Some(4L)).files.forall(_.bytes > 0L),
      "checkpointed state must keep recorded file bytes")
    // pruned history fails LOUDLY, not silently
    intercept[Exception] { LakeFormat.readAsOf(spark, root, 2L).count() }
    intercept[Exception] {
      LakeFormat.changeFeed(spark, root, 2L, 3L).count()
    }
    // the change feed over retained commits still serves
    assert(LakeFormat.changeFeed(spark, root, 5L, 6L).count() > 0L)
    // new commits land normally on the pruned log
    LakeFormat.merge(Seq((2L, 9L, true, "post")).toDF("id", "lsn", "live", "v"),
      root)
    assert(LakeFormat.state(spark, root).version === 7L)
    // registered laggard gates the prune exactly like vacuum
    val c = LakeFormat.registerConsumer(spark, root, "plslow")
    LakeFormat.commitConsumerOffset(spark, c, 4L)
    val ex = intercept[IllegalStateException] {
      LakeFormat.pruneLog(spark, root, keepVersions = 1, olderThanMs = 0L)
    }
    assert(ex.getMessage.contains("plslow"))
    LakeFormat.dropConsumer(spark, root, "plslow")
  }

  test("timestamp resolution REFUSES when the instant falls in pruned history") {
    val root = freshDir("lsh_tsgap")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a")).toDF("id", "lsn", "live", "v"),
      root)
    LakeFormat.merge(Seq((2L, 2L, true, "b")).toDF("id", "lsn", "live", "v"),
      root)
    Thread.sleep(20)
    val inPrunedEra = System.currentTimeMillis()
    Thread.sleep(20)
    (3 to 6).foreach(i => LakeFormat.merge(
      Seq((i.toLong, i.toLong, true, s"v$i")).toDF("id", "lsn", "live", "v"),
      root))
    LakeFormat.pruneLog(spark, root, keepVersions = 2, olderThanMs = 0L)
    assert(LakeFormat.listLogVersions(spark, root).sorted ===
      Seq(0L, 5L, 6L))
    // the instant's true version (2) is pruned: loud refusal, not v0
    val ex = intercept[IllegalStateException] {
      LakeFormat.versionAtTimestamp(spark, root, inPrunedEra)
    }
    assert(ex.getMessage.contains("pruned"))
    // a current instant still resolves
    assert(LakeFormat.versionAtTimestamp(spark, root,
      System.currentTimeMillis()) === 6L)
    // the stream anchor refuses the same reach into pruned history
    val ex2 = intercept[IllegalStateException] {
      new GraftLakeSource(spark, freshDir("lsh_tsgap_meta"),
        Map("path" -> root,
          "startingTimestamp" -> inPrunedEra.toString)).getOffset
    }
    assert(ex2.getMessage.contains("pruned"))
  }

  test("manifestTimestampAsOf serves the cross-table state current at the instant") {
    val root = freshDir("lsh_txts")
    LakeFormat.create(spark, LakeTx.tableRoot(root, "a"),
      keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
      statsCols = Seq("id"))
    LakeTx.init(spark, root, Seq("a"))
    def up(id: Long) = Seq((id, id, true, s"r$id"))
      .toDF("id", "lsn", "live", "v")
    LakeTx.commitTx(spark, root, Map("a" -> up(1)), app = "lshts", txv = 1L)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    LakeTx.commitTx(spark, root, Map("a" -> up(2)), app = "lshts", txv = 2L)
    assert(LakeTx.manifestAtTimestamp(spark, root, between) === 1L)
    val df = spark.read.format("graft-lake-tx").option("table", "a")
      .option("manifestTimestampAsOf", between.toString).load(root)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    intercept[Exception] {
      spark.read.format("graft-lake-tx").option("table", "a")
        .option("manifestAsOf", "1")
        .option("manifestTimestampAsOf", between.toString).load(root)
    }
  }

  test("every 20th commit auto-checkpoints from the write path") {
    val root = freshDir("lsh_acp")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    (1 to 21).foreach { i =>
      LakeFormat.merge(Seq((i.toLong, i.toLong, true, s"v$i"))
        .toDF("id", "lsn", "live", "v"), root)
    }
    assert(LakeFormat.listCheckpointVersions(spark, root).contains(20L),
      "commit 20 must have auto-checkpointed")
    assert(LakeFormat.snapshot(spark, root).count() === 21L)
  }

  // ------------------------------------------------- overwrite conflicts

  test("overwrite aborts on ANY concurrent commit (strict serializable, deterministic interleave)") {
    val root = freshDir("lsh_ow")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    LakeFormat.append(Seq((1L, 1L, true, "a")).toDF("id", "lsn", "live", "v"),
      root)
    // fire a concurrent append inside the overwrite's commit window
    LakeFormat.beforeCommitHook = () => {
      LakeFormat.beforeCommitHook = () => ()
      LakeFormat.append(Seq((9L, 9L, true, "race"))
        .toDF("id", "lsn", "live", "v"), root)
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        LakeFormat.overwrite(Seq((2L, 2L, true, "b"))
          .toDF("id", "lsn", "live", "v"), root)
      }
    } finally LakeFormat.beforeCommitHook = () => ()
    // the racer's row is intact; the aborted overwrite left nothing
    assert(LakeFormat.snapshot(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 9L))
    // the re-run (new tip) succeeds
    LakeFormat.overwrite(Seq((2L, 2L, true, "b"))
      .toDF("id", "lsn", "live", "v"), root)
    assert(LakeFormat.snapshot(spark, root).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }

  // ------------------------------------------------ timestamp time travel

  test("timestampAsOf resolves to the last version committed at-or-before the instant") {
    val root = freshDir("lsh_ts")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a")).toDF("id", "lsn", "live", "v"),
      root)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    LakeFormat.merge(Seq((2L, 2L, true, "b")).toDF("id", "lsn", "live", "v"),
      root)
    assert(LakeFormat.versionAtTimestamp(spark, root, between) === 1L)
    assert(LakeFormat.versionAtTimestamp(spark, root,
      System.currentTimeMillis()) === 2L)
    intercept[IllegalArgumentException] {
      LakeFormat.versionAtTimestamp(spark, root, 1L) // predates the table
    }
    // the relation path: timestampAsOf serves v1's single row
    val df = spark.read.format("graft-lake")
      .option("timestampAsOf", between.toString).load(root)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // mutual exclusion with versionAsOf
    intercept[Exception] {
      spark.read.format("graft-lake").option("timestampAsOf", "0")
        .option("versionAsOf", "1").load(root).count()
    }
  }

  test("startingTimestamp anchors a stream at the first commit at-or-after the instant") {
    val root = freshDir("lsh_sts")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    LakeFormat.merge(Seq((1L, 1L, true, "a")).toDF("id", "lsn", "live", "v"),
      root)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    LakeFormat.merge(Seq((2L, 2L, true, "b")).toDF("id", "lsn", "live", "v"),
      root)
    LakeFormat.merge(Seq((3L, 3L, true, "c")).toDF("id", "lsn", "live", "v"),
      root)
    // commits 2..3 are at-or-after `between`; commit 1 is skipped
    val meta = freshDir("lsh_sts_meta")
    val src = new GraftLakeSource(spark, meta,
      Map("path" -> root, "startingTimestamp" -> between.toString))
    val o = src.getOffset.map(LakeStreamSources.versionOf)
    assert(o === Some(3L))
    val rows = src.batchPlan(2L, 3L).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rows === Seq(2L, 3L))
    // the resolution is DURABLE: a second incarnation on the same
    // metadataPath anchors identically even after more commits
    LakeFormat.merge(Seq((4L, 4L, true, "d")).toDF("id", "lsn", "live", "v"),
      root)
    val src2 = new GraftLakeSource(spark, meta,
      Map("path" -> root, "startingTimestamp" -> between.toString))
    val o2 = src2.getOffset.map(LakeStreamSources.versionOf)
    assert(o2 === Some(4L))
    // a timestamp past every commit tails only future ones
    val srcF = new GraftLakeSource(spark, freshDir("lsh_sts_meta2"),
      Map("path" -> root,
        "startingTimestamp" -> (System.currentTimeMillis() + 60000).toString))
    assert(srcF.getOffset === None)
    // mutual exclusion
    intercept[IllegalArgumentException] {
      new GraftLakeSource(spark, freshDir("lsh_sts_meta3"),
        Map("path" -> root, "startingVersion" -> "1",
          "startingTimestamp" -> "0"))
    }
  }

  // ------------------------------------------------- partitioned writer

  test("writer-created PARTITIONED table lays out hive dirs and prunes") {
    val root = freshDir("lsh_pw")
    spark.range(0, 400)
      .select(col("id"), (col("id") % 4).as("bucket"),
        lit(true).as("live"))
      .write.format("graft-lake")
      .option("keyCols", "id").option("partitionCols", "bucket")
      .save(root)
    assert(LakeFormat.readMeta(spark, root).partitionCols === Seq("bucket"))
    val sc = LakeFormat.scan(spark, root, col("bucket") === lit(1L))
    assert(sc.keptFiles < sc.totalFiles,
      s"partition pruning must engage: ${sc.keptFiles}/${sc.totalFiles}")
    assert(sc.df.count() === 100L)
    // keyCols not in the frame refuses at create
    val ex = intercept[Exception] {
      spark.range(3).toDF("x").write.format("graft-lake")
        .option("keyCols", "nope").save(s"$root-bad")
    }
    assert(ex.getMessage.contains("nope"))
  }

  // ------------------------------------------------- tx catalog entry

  test("CREATE TABLE USING graft-lake-tx serves a manifest-pinned member via SQL") {
    val root = freshDir("lsh_txsql")
    LakeFormat.create(spark, LakeTx.tableRoot(root, "a"),
      keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
      statsCols = Seq("id"))
    LakeTx.init(spark, root, Seq("a"))
    LakeTx.commitTx(spark, root, Map("a" ->
      Seq((1L, 1L, true, "x")).toDF("id", "lsn", "live", "v")),
      app = "lshsql", txv = 1L)
    spark.sql("DROP TABLE IF EXISTS lsh_tx_member")
    spark.sql(
      s"""CREATE TABLE lsh_tx_member USING `graft-lake-tx`
         |OPTIONS (path '$root', table 'a')""".stripMargin)
    val got = spark.sql(
      "SELECT id, v FROM lsh_tx_member WHERE live ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x")))
    spark.sql("DROP TABLE lsh_tx_member")
  }

  // -------------------------------------------------- history + dry run

  test("history reports per-version ops, counts and markers, newest first") {
    val root = freshDir("lsh_hist")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    LakeFormat.append(Seq((1L, 1L, true, "a"), (2L, 1L, true, "b"))
      .toDF("id", "lsn", "live", "v"), root)
    LakeFormat.merge(Seq((1L, 2L, true, "a2")).toDF("id", "lsn", "live", "v"),
      root, txn = Some(("app1", 7L)))
    LakeFormat.delete(spark, root, col("id") === 2L)
    val h = LakeFormat.history(spark, root).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L, 0L),
      "history must list newest first")
    val byV = h.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(3), r.getLong(4), r.getString(7))).toMap
    assert(byV(0L)._1 === "create")
    assert(byV(1L)._1 === "append" && byV(1L)._2 >= 1L)
    assert(byV(2L)._1 === "merge" && byV(2L)._4 === "app1=7",
      s"merge row must carry its txn marker: ${byV(2L)}")
    assert(byV(3L)._1 === "delete" && byV(3L)._3 >= 1L,
      "delete must report removed files")
    // recorded wall-clock present on every commit
    assert(h.forall(_.getLong(2) > 0L))
    assert(LakeFormat.history(spark, root, limit = 2).count() === 2L)
  }

  test("vacuum dryRun reports reclaimable files without touching anything") {
    // same-key merges: each rewrite retires the previous file, so
    // keepVersions=1 leaves reclaimable history
    val root = freshDir("lsh_dry")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "lsn",
      liveCol = "live", statsCols = Seq("id"))
    (1 to 4).foreach { i =>
      LakeFormat.merge(Seq((1L, i.toLong, true, s"v$i"))
        .toDF("id", "lsn", "live", "v"), root)
    }
    val wouldDelete = LakeFormat.vacuum(spark, root, keepVersions = 1,
      olderThanMs = 0L, dryRun = true)
    assert(wouldDelete.nonEmpty, "rewritten files must be reclaimable")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    wouldDelete.foreach(rel => assert(
      f.exists(new org.apache.hadoop.fs.Path(root, rel)),
      s"dry run must not delete $rel"))
    // dry run with expiry policy: predicts, but keeps the registration
    LakeFormat.registerConsumer(spark, root, "dryghost")
    LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L,
      expireConsumersOlderThanMs = Some(0L), dryRun = true)
    assert(LakeFormat.registeredConsumers(spark, root).contains("dryghost"),
      "dry run must not drop registrations")
    LakeFormat.dropConsumer(spark, root, "dryghost")
    // the real call then reclaims exactly the predicted set
    val deleted = LakeFormat.vacuum(spark, root, keepVersions = 1,
      olderThanMs = 0L)
    assert(deleted.toSet === wouldDelete.toSet)
  }

  test("tx history and tx dry-run vacuum") {
    val root = freshDir("lsh_txhist")
    LakeFormat.create(spark, LakeTx.tableRoot(root, "a"),
      keyCols = Seq("id"), orderCol = "lsn", liveCol = "live",
      statsCols = Seq("id"))
    LakeTx.init(spark, root, Seq("a"))
    def up(id: Long) = Seq((id, id, true, s"r$id"))
      .toDF("id", "lsn", "live", "v")
    (1L to 3L).foreach(i => LakeTx.commitTx(spark, root,
      Map("a" -> up(i)), app = "lshh", txv = i))
    val h = LakeTx.history(spark, root).collect()
    assert(h.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((3L, "tx-commit"), (2L, "tx-commit"), (1L, "tx-commit"),
        (0L, "tx-init")))
    val dry = LakeTx.vacuum(spark, root, keepManifests = 1,
      olderThanMs = 0L, dryRun = true)
    assert(LakeTx.manifestVersion(spark, root) === 3L)
    // manifest log untouched by the dry run: v0 still readable
    assert(LakeTx.manifest(spark, root, Some(0L)).contains("a"))
    val real = LakeTx.vacuum(spark, root, keepManifests = 1,
      olderThanMs = 0L)
    assert(real("a").toSet === dry("a").toSet)
  }

  // --------------------------------------------- stats-pruned time travel

  test("scanAsOf prunes a HISTORICAL version by its recorded stats") {
    val root = freshDir("lsh_asof")
    LakeFormat.create(spark, root, keyCols = Seq("id"), orderCol = "id",
      liveCol = "live", statsCols = Seq("id"))
    // v1: range layout ⇒ near-disjoint per-file id ranges
    LakeFormat.append(
      spark.range(0, 4000).select(col("id"),
        (col("id") * 2).as("x"), lit(true).as("live"))
        .repartitionByRange(8, col("id")), root)
    // v2: delete half — the CURRENT version differs from v1
    LakeFormat.delete(spark, root, col("id") % 2 === 0)
    val sc = LakeFormat.scanAsOf(spark, root, 1L, col("id") < lit(500L))
    assert(sc.keptFiles < sc.totalFiles,
      s"no historical pruning: ${sc.keptFiles}/${sc.totalFiles}")
    assert(sc.df.count() === 500L,
      "as-of v1 must include the rows v2 deleted")
    // pruned historical read ≡ unpruned historical read + filter
    val full = LakeFormat.readAsOf(spark, root, 1L)
      .filter(col("id") < lit(500L)).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(sc.df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === full)
    // and the relation path routes versionAsOf + filter through it
    val relCount = spark.read.format("graft-lake")
      .option("versionAsOf", "1").load(root)
      .filter(col("id") < lit(500L)).count()
    assert(relCount === 500L)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFormat

/** MODEL-BASED randomized equivalence for the transactional core: a
  * fixed-seed random sequence of merge / fresh-key append / selective
  * optimize / checkpoint / vacuum operations runs against BOTH the lake
  * table and a trivial in-memory fold model (newest lsn wins per key,
  * merge-batch rows outrank stored rows on lsn ties, tombstones kept).
  * After every few operations the lake's full snapshot must equal the
  * model exactly — rows, liveness, payloads. Example-based specs pin the
  * designed scenarios; this sweep hunts the UNDESIGNED interleavings
  * (optimize between merges, vacuum mid-history, checkpoint replay in
  * the middle of everything) that example tests never enumerate. The
  * seed is fixed so a failure reproduces deterministically.
  */
class LakeModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("40 random merge/append/optimize/checkpoint/vacuum ops track the in-memory fold exactly") {
    val root = {
      val p = Files.createTempDirectory("lake_model")
      p.toFile.deleteOnExit()
      p.toString
    }
    LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
    val rnd = new scala.util.Random(42)
    // key -> (lsn, live, v); merge semantics: a batch row REPLACES the
    // stored row when its lsn is >= the stored one (updates outrank
    // stored on ties — the idempotent-replay rule)
    val model = scala.collection.mutable.Map.empty[Long, (Long, Boolean, String)]
    var nextFreshKey = 1000L
    var lsn = 0L

    def mergeOp(): Unit = {
      val n = 1 + rnd.nextInt(5)
      // one winner per key inside a batch (the latestWithTombstonesBy
      // contract merge documents): distinct keys per batch
      val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (keys.size < n) keys += rnd.nextInt(30).toLong
      val batch = keys.toSeq.map { k =>
        lsn += 1
        // stale events happen too: occasionally reuse an OLD lsn so the
        // stored-row-wins path is exercised
        val l = if (rnd.nextInt(5) == 0 && model.contains(k))
          math.max(0L, model(k)._1 - 1) else lsn
        val live = rnd.nextInt(4) != 0
        val v = if (live) s"v$l-$k" else null
        (k, l, live, v)
      }
      LakeFormat.merge(batch.toDF("id", "lsn", "live", "v"), root)
      batch.foreach { case (k, l, live, v) =>
        val replaces = model.get(k).forall(_._1 <= l)
        if (replaces) model(k) = (l, live, v)
      }
    }

    def appendOp(): Unit = {
      val n = 1 + rnd.nextInt(3)
      val batch = (0 until n).map { _ =>
        nextFreshKey += 1; lsn += 1
        (nextFreshKey, lsn, true, s"a$lsn")
      }
      LakeFormat.append(batch.toDF("id", "lsn", "live", "v"), root)
      batch.foreach { case (k, l, live, v) => model(k) = (l, live, v) }
    }

    val opsDone = scala.collection.mutable.ArrayBuffer.empty[String]
    var feedFloor = 0L

    def check(): Unit = {
      val got = LakeFormat.snapshot(spark, root)
        .select("id", "lsn", "live", "v")
        .as[(Long, Long, Boolean, Option[String])].collect()
        .map { case (k, l, live, v) => k -> ((l, live, v.orNull)) }.toMap
      assert(got === model.toMap,
        s"lake diverged from the model after ${opsDone.mkString(",")}")
    }

    (1 to 40).foreach { i =>
      val op = rnd.nextInt(10)
      opsDone += s"$i:$op"
      op match {
        case 0 | 1 | 2 | 3 | 4 => mergeOp()
        case 5 | 6 => appendOp()
        case 7 => // selective compaction: data-preserving by contract
          LakeFormat.optimize(spark, root, Seq(col("id")),
            targetFiles = 1 + rnd.nextInt(3),
            select = if (rnd.nextBoolean()) (_ => true)
              else LakeFormat.smallFiles(16 * 1024))
          ()
        case 8 => LakeFormat.checkpoint(spark, root); ()
        case 9 => // vacuum is read-invisible for the CURRENT version;
          // feeds below the retention floor fail loudly BY CONTRACT, so
          // track the floor for the final feed-replay check
          val keep = 1 + rnd.nextInt(3)
          LakeFormat.vacuum(spark, root, keepVersions = keep, olderThanMs = 0L)
          feedFloor = math.max(feedFloor,
            LakeFormat.state(spark, root).version - keep + 1)
      }
      if (i % 5 == 0) check()
    }
    check()
    // the change feed over the RETAINED history must replay, key by key,
    // to the model's final classification: a key whose last feed row is
    // c/u must be live in the model with the same payload; a key whose
    // last row is d must be dead (feeds below the vacuum floor are
    // refused by contract — LakeFeedSpec pins that separately)
    val feedTip = LakeFormat.state(spark, root).version
    val fromV = math.max(1L, feedFloor + 1L)
    if (fromV <= feedTip) {
      val replayed = scala.collection.mutable.Map.empty[Long, (String, Option[String])]
      LakeFormat.changeFeed(spark, root, fromV, feedTip)
        .select("_commit_version", "id", "_change_type", "v")
        .as[(Long, Long, String, Option[String])].collect()
        .sortBy(r => (r._1, r._2))
        .foreach { case (_, k, ct, v) => replayed(k) = (ct, v) }
      replayed.foreach { case (k, (ct, v)) =>
        val (_, live, mv) = model(k)
        if (ct == "d") assert(!live, s"feed deleted $k but the model is live")
        else assert(live && Option(mv) === v,
          s"feed says $k -> $v, model says ${(live, mv)}")
      }
    }
  }
}

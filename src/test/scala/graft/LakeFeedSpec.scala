package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeFormat
import graft.streaming.Streams

/** The lake as a streaming SOURCE: [[graft.sources.LakeFormat
  * .consumeChangeFeed]]'s durable-offset contract (replay no-ops, crash
  * redelivery composes with epoch-idempotent consumers, vacuum past the
  * offset fails loudly, bounded drains resume) and the T30
  * postings-from-lake integration it exists for.
  */
class LakeFeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch(): String = {
    val p = Files.createTempDirectory("lake_feed")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def docRows(xs: (Long, Long, Boolean, String)*) =
    xs.toSeq.toDF("doc_id", "lsn", "live", "text")

  test("consume drains each commit exactly once; offsets survive; new commits resume past them") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "a")), root) // v1
    LakeFormat.merge(docRows((2L, 2L, true, "b")), root) // v2
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain() = LakeFormat.consumeChangeFeed(spark, root, cons) { (b, v) =>
      b.select("doc_id").as[Long].collect().foreach(id => seen += v -> id)
    }
    assert(drain() === Seq(1L, 2L))
    assert(seen.sorted.toSeq === Seq(1L -> 1L, 2L -> 2L))
    assert(LakeFormat.consumerOffset(spark, cons) === Some(2L))
    // replay: nothing above the offset
    assert(drain() === Seq.empty && seen.size === 2)
    // a new commit drains alone
    LakeFormat.merge(docRows((3L, 3L, true, "c")), root) // v3
    assert(drain() === Seq(3L))
    assert(seen.sorted.toSeq === Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // the offset never moves backward
    intercept[IllegalArgumentException](
      LakeFormat.commitConsumerOffset(spark, cons, 1L))
  }

  test("maxCommits bounds one drain; the next resumes where it stopped") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    (1 to 5).foreach(i =>
      LakeFormat.merge(docRows((i.toLong, i.toLong, true, s"d$i")), root))
    def drain(k: Int) =
      LakeFormat.consumeChangeFeed(spark, root, cons, maxCommits = k)((_, _) => ())
    assert(drain(2) === Seq(1L, 2L))
    assert(LakeFormat.consumerOffset(spark, cons) === Some(2L))
    assert(drain(2) === Seq(3L, 4L))
    assert(drain(10) === Seq(5L))
    assert(drain(10) === Seq.empty)
  }

  test("txn-only commits advance the offset without delivering a batch") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "a")), root, txn = Some(("app", 1L)))
    // an empty batch with a fresh txn marker commits marker-only
    LakeFormat.merge(spark.emptyDataset[(Long, Long, Boolean, String)]
      .toDF("doc_id", "lsn", "live", "text"), root, txn = Some(("app", 2L)))
    var batches = 0
    val applied = LakeFormat.consumeChangeFeed(spark, root, cons)((_, _) => batches += 1)
    assert(applied === Seq(1L) && batches === 1)
    assert(LakeFormat.consumerOffset(spark, cons) === Some(2L),
      "the txn-only commit must be consumed (offset past it)")
  }

  test("crash between apply and offset advance redelivers; epoch-keyed postings absorb the replay") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"; val idx = s"$s/p"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "alpha beta"),
      (2L, 1L, true, "beta gamma")), root) // v1
    LakeFormat.merge(docRows((1L, 2L, true, "alpha delta")), root) // v2
    // first attempt: apply v1 fine, CRASH inside v2's apply AFTER the
    // store write (the worst case — the epoch is on disk, the offset is not)
    var crashed = false
    intercept[RuntimeException] {
      LakeFormat.consumeChangeFeed(spark, root, cons) { (b, v) =>
        Streams.postingsApplyBatch(
          b.filter(col("_change_type").isin("c", "u")).select(col("doc_id"), col("text")),
          b.filter(col("_change_type") === "d").select(col("doc_id")),
          v, idx)
        if (v == 2L && !crashed) { crashed = true; throw new RuntimeException("crash") }
      }
    }
    assert(LakeFormat.consumerOffset(spark, cons) === Some(1L),
      "offset must sit at the last COMPLETED commit")
    // recovery drain: v2 redelivers, its epoch append is a no-op
    val retried = Streams.postingsFromLake(spark, root, cons, idx)
    assert(retried === Seq(2L))
    val folded = Streams.readPostings(spark, idx)
    val live = folded.filter(col("token").isNotNull)
      .select("doc_id", "token").as[(Long, String)].collect().toSet
    assert(live === Set((1L, "alpha"), (1L, "delta"), (2L, "beta"), (2L, "gamma")))
  }

  test("deletes flow through the feed into dead postings; re-inserts resurrect") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"; val idx = s"$s/p"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "alpha"), (2L, 1L, true, "beta")), root)
    LakeFormat.merge(docRows((2L, 2L, false, null.asInstanceOf[String])), root)
    assert(Streams.postingsFromLake(spark, root, cons, idx) === Seq(1L, 2L))
    def docs() = Streams.readPostings(spark, idx)
      .filter(col("token").isNull).select("doc_id").as[Long].collect().toSet
    assert(docs() === Set(1L))
    LakeFormat.merge(docRows((2L, 3L, true, "beta again")), root)
    assert(Streams.postingsFromLake(spark, root, cons, idx) === Seq(3L))
    assert(docs() === Set(1L, 2L))
  }

  test("vectorIndexFromLake maintains the T16 store from lake commits: folded index == batch encode of the final corpus") {
    import graft.operators.Vectors
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"; val idx = s"$s/v"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    // frozen models fit offline on the full corpus's stub embeddings
    val emb = Vectors.stubEmbed(docs.select(col("doc_id").as("vec_id"),
      col("text"))).select("vec_id", "embedding")
    val coarse = Vectors.kmeansCentroids(emb, 4, 2)
    val books = Vectors.pqCodebooks(emb, 4, 8, 2)
    def up(d: org.apache.spark.sql.DataFrame, lsn: Long) =
      d.withColumn("lsn", lit(lsn)).withColumn("live", lit(true))
    LakeFormat.merge(up(docs.filter(col("doc_id") % 2 === 0), 1L), root)
    LakeFormat.merge(up(docs.filter(col("doc_id") % 2 === 1), 2L), root)
    // corrupt-then-restore exercises the u path; delete the %7 docs
    LakeFormat.merge(up(docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" corrupted"))), 3L), root)
    LakeFormat.merge(up(docs.filter(col("doc_id") % 5 === 0), 4L), root)
    LakeFormat.merge(docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit(null).cast("string").as("text"),
        lit(5L).as("lsn"), lit(false).as("live")), root)
    assert(Streams.vectorIndexFromLake(spark, root, cons, idx, coarse, books)
      === Seq(1L, 2L, 3L, 4L, 5L))
    // replay no-ops through the durable offset
    assert(Streams.vectorIndexFromLake(spark, root, cons, idx, coarse, books)
      === Seq.empty)
    val live = docs.filter(col("doc_id") % 7 =!= 0)
    val batchIdx = Vectors.encodeForIndex(
      Vectors.stubEmbed(live.select(col("doc_id").as("vec_id"), col("text")))
        .select("vec_id", "embedding"), coarse, books)
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("codes"))
        .as[(Long, Int, Seq[Int])].collect().toSet
    assert(content(Streams.readVectorIndex(spark, idx)) === content(batchIdx))
    assert(content(batchIdx).nonEmpty)
  }

  test("registered consumers drain independently; vacuum refuses for the slowest, proceeds after catch-up or drop") {
    val s = scratch(); val root = s"$s/t"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "a")), root)  // v1 adds F1
    LakeFormat.merge(docRows((1L, 2L, true, "a2")), root) // v2 rewrites F1
    LakeFormat.merge(docRows((1L, 3L, true, "a3")), root) // v3 rewrites F2
    val fast = LakeFormat.registerConsumer(spark, root, "fast")
    val slow = LakeFormat.registerConsumer(spark, root, "slow")
    assert(LakeFormat.registerConsumer(spark, root, "fast") === fast,
      "re-registration is idempotent, same dir")
    intercept[IllegalArgumentException](
      LakeFormat.registerConsumer(spark, root, "bad/name"))
    // independent offsets by name — no silent sharing
    LakeFormat.consumeChangeFeed(spark, root, fast)((b, _) => { b.count(); () })
    LakeFormat.consumeChangeFeed(spark, root, slow, maxCommits = 1) {
      (b, _) => { b.count(); () }
    }
    assert(LakeFormat.registeredConsumers(spark, root) ===
      Map("fast" -> Some(3L), "slow" -> Some(1L)))
    // reclaiming below v3 would eat pre-images slow still needs: REFUSE
    // proactively, naming the laggard — not at slow's next read
    val ex = intercept[IllegalStateException](
      LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L))
    assert(ex.getMessage.contains("slow"))
    // a window covering slow's offset runs fine
    LakeFormat.vacuum(spark, root, keepVersions = 3, olderThanMs = 0L)
    // slow catches up → the tight window is legal again
    LakeFormat.consumeChangeFeed(spark, root, slow)((b, _) => { b.count(); () })
    assert(LakeFormat.vacuum(spark, root, keepVersions = 1,
      olderThanMs = 0L).nonEmpty)
    // a freshly-registered, never-drained consumer wants FULL history:
    // vacuum holds everything for it until it drains or is dropped
    LakeFormat.registerConsumer(spark, root, "newborn")
    LakeFormat.merge(docRows((1L, 4L, true, "a4")), root) // v4 rewrites F3
    intercept[IllegalStateException](
      LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L))
    LakeFormat.dropConsumer(spark, root, "newborn")
    // fast and slow now lag v4 themselves — the guard catches EVERY
    // registered laggard, not just the one the test focused on
    intercept[IllegalStateException](
      LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L))
    LakeFormat.consumeChangeFeed(spark, root, fast)((b, _) => { b.count(); () })
    LakeFormat.consumeChangeFeed(spark, root, slow)((b, _) => { b.count(); () })
    LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L)
  }

  test("a consumer lagging past the vacuum window fails loudly, never partially") {
    val s = scratch()
    val root = s"$s/t"; val cons = s"$s/c"
    LakeFormat.create(spark, root, Seq("doc_id"), statsCols = Seq("doc_id"))
    LakeFormat.merge(docRows((1L, 1L, true, "a")), root)  // v1 adds F1
    LakeFormat.merge(docRows((1L, 2L, true, "a2")), root) // v2 rewrites F1→F2
    LakeFormat.merge(docRows((1L, 3L, true, "a3")), root) // v3 rewrites F2→F3
    // retention keeps only the tip: v1/v2-era files are reclaimed while
    // the consumer still sits at offset 0
    val deleted = LakeFormat.vacuum(spark, root, keepVersions = 1, olderThanMs = 0L)
    assert(deleted.nonEmpty)
    val thrown = intercept[Exception] {
      LakeFormat.consumeChangeFeed(spark, root, cons)((b, _) => { b.count(); () })
    }
    // whatever layer surfaces it (analysis path check or scan), it must
    // be an error, and the offset must not have advanced past the hole
    assert(LakeFormat.consumerOffset(spark, cons).getOrElse(0L) < 3L,
      s"offset advanced past a vacuumed commit (${thrown.getClass.getName})")
  }
}

package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}
import org.apache.spark.sql.functions._
import graft.operators.Vectors
import graft.streaming.Streams

/** Random-split properties for the durable incremental stores: for ANY
  * partition of the input into batches (including re-delivered content
  * and re-embedded keys), the folded store must equal the all-at-once
  * batch computation — the T16 analogue of the T23/C20 closure
  * properties in CdcPropertySpec. The epoch-keyed stores (T16, T30,
  * T35) are also driven through random at-least-once re-deliveries of
  * already-applied batch ids, older ones included, and one compaction
  * at a random point: no re-delivery may move the table version. Those
  * three run unshrunk: shrinking `nBatches` leaves its generator's range
  * and would report a different exception than the failing case's.
  */
object StorePropertySpec extends Properties("Stores") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  lazy val spark = TestSpark.spark

  // models frozen ONCE for the whole property run (the production
  // cadence; also keeps each trial to encode+fold work only)
  lazy val corpus = Tables.embeddings(spark, TestSpark.sf)
    .select("vec_id", "embedding").localCheckpoint()
  lazy val coarse = Vectors.kmeansCentroids(corpus, 8, 2)
  lazy val books = Vectors.pqCodebooks(corpus, 8, 8, 2)

  /** Apply epochs 0 until `n` in order through `apply`; after each one,
    * re-deliver a random already-applied epoch and check that the store
    * at `dir` kept its version; `compact` runs once, after a random
    * epoch, up to a random applied id. True iff every re-delivery was a
    * no-op. */
  private def driveWithReplays(rnd: scala.util.Random, dir: String, n: Int)(
      apply: Int => Unit)(compact: Long => Unit): Boolean = {
    val compactAfter = rnd.nextInt(n)
    (0 until n).map { i =>
      apply(i)
      if (i == compactAfter) compact(rnd.nextInt(i + 1).toLong)
      val v = graft.sources.LakeFormat.state(spark, dir).version
      apply(rnd.nextInt(i + 1))
      graft.sources.LakeFormat.state(spark, dir).version == v
    }.forall(identity)
  }

  property("T16 index fold over random batch splits == all-at-once encode of the latest corpus") =
    forAllNoShrink(Gen.choose(1, 3), Gen.long) { (nBatches, seed) =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val rows = corpus.as[(Long, Seq[Float])].collect().toSeq
      // random subset re-embeds LATER (negated — still unit-norm): its
      // newest encoding must shadow the original
      val reembedIds = rows.map(_._1).filter(_ => rnd.nextInt(5) == 0).toSet
      val reembeds = rows.filter(r => reembedIds(r._1))
        .map { case (id, v) => (id, v.map(x => -x)) }
      val batches = Array.fill(nBatches)(
        scala.collection.mutable.Buffer.empty[(Long, Seq[Float])])
      rows.foreach(r => batches(rnd.nextInt(nBatches)) += r)
      // re-embeds always land in a batch AFTER their original (append to
      // a final extra batch) — the upsert discipline the changelog fold
      // guarantees upstream
      val dir = java.nio.file.Files.createTempDirectory("vprop").toString
      val epochs = batches.toSeq.map(_.toSeq) :+ reembeds
      val replaysHeld = driveWithReplays(rnd, dir, epochs.size) { i =>
        Streams.vectorIndexBatch(epochs(i).toDF("vec_id", "embedding"),
          i.toLong, dir, coarse, books)
      }(Streams.compactVectorIndex(spark, dir, _))
      val latest = rows.filterNot(r => reembedIds(r._1)) ++ reembeds
      val batchIdx = Vectors.encodeForIndex(
        latest.toDF("vec_id", "embedding"), coarse, books)
      def content(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("cluster"), col("codes"))
          .as[(Long, Int, Seq[Int])].collect().toSet
      val got = content(Streams.readVectorIndex(spark, dir))
      val expected = content(batchIdx)
      (Prop(got == expected) :| s"fold diverged: ${got.size} vs ${expected.size}") &&
        (Prop(replaysHeld) :| "a re-delivered epoch moved the table version")
    }

  property("T30 postings fold over random batch splits (rewrites + deletes) serves == batch BM25 of the latest corpus") =
    forAllNoShrink(Gen.choose(1, 3), Gen.long) { (nBatches, seed) =>
      import spark.implicits._
      import graft.operators.Text
      val terms = Seq("rare", "common")
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 24L).map { i =>
        val gate = if (rnd.nextInt(3) == 0) "rare " else ""
        i -> (gate + "common " + Seq.fill(1 + rnd.nextInt(6))(
          s"w${rnd.nextInt(5)}").mkString(" "))
      }
      // random subset REWRITTEN later (may gain or lose the gate token —
      // the stale-posting trap), random disjoint subset DELETED later
      val rewriteIds = docs.map(_._1).filter(_ => rnd.nextInt(4) == 0).toSet
      val deleteIds = docs.map(_._1)
        .filter(i => !rewriteIds(i) && rnd.nextInt(5) == 0).toSet
      val rewrites = docs.filter(d => rewriteIds(d._1)).map { case (i, _) =>
        i -> (if (rnd.nextBoolean()) "rare common rewritten"
              else "common rewritten only") }
      val batches = Array.fill(nBatches)(
        scala.collection.mutable.Buffer.empty[(Long, String)])
      docs.foreach(d => batches(rnd.nextInt(nBatches)) += d)
      val dir = java.nio.file.Files.createTempDirectory("pprop").toString
      // rewrites and deletes land AFTER every original (the changelog
      // fold guarantees this ordering upstream)
      val epochs = batches.toSeq.map(b => (b.toSeq, Seq.empty[Long])) :+
        ((rewrites, deleteIds.toSeq))
      val replaysHeld = driveWithReplays(rnd, dir, epochs.size) { i =>
        Streams.postingsApplyBatch(epochs(i)._1.toDF("doc_id", "text"),
          epochs(i)._2.toDF("doc_id"), i.toLong, dir)
      }(Streams.compactPostings(spark, dir, _))
      val latest = (docs.toMap ++ rewrites.toMap -- deleteIds).toSeq
      val served = Streams.servedBm25(spark, dir, terms)
        .as[(Long, Long, Long)].collect().toSeq
      val batch = Text.bm25Retrieve(latest.toDF("doc_id", "text"), terms)
        .as[(Long, Long, Long)].collect().toSeq
      (Prop(served == batch) :| s"served $served != batch $batch") &&
        (Prop(replaysHeld) :| "a re-delivered epoch moved the table version")
    }

  property("T35 positional fold over random batch splits (rewrites + deletes) serves == batch phrase match of the latest corpus") =
    forAllNoShrink(Gen.choose(1, 3), Gen.long) { (nBatches, seed) =>
      import spark.implicits._
      import graft.operators.Text
      val phrase = Seq("data", "change", "capture")
      val rnd = new scala.util.Random(seed)
      // random docs: some carry the phrase (possibly repeatedly), some
      // carry all tokens scrambled (the adjacency trap), some neither
      def mkText(): String = rnd.nextInt(3) match {
        case 0 => Seq.fill(1 + rnd.nextInt(2))("data change capture")
          .mkString(" ") + s" pad${rnd.nextInt(4)}"
        case 1 => s"data pad${rnd.nextInt(4)} change capture x"
        case _ => s"w${rnd.nextInt(5)} w${rnd.nextInt(5)} filler"
      }
      val docs = (1L to 24L).map(i => i -> mkText())
      // random subset REWRITTEN later (may gain or lose adjacency — the
      // stale-position trap), random disjoint subset DELETED later
      val rewriteIds = docs.map(_._1).filter(_ => rnd.nextInt(4) == 0).toSet
      val deleteIds = docs.map(_._1)
        .filter(i => !rewriteIds(i) && rnd.nextInt(5) == 0).toSet
      val rewrites = docs.filter(d => rewriteIds(d._1))
        .map { case (i, _) => i -> mkText() }
      val batches = Array.fill(nBatches)(
        scala.collection.mutable.Buffer.empty[(Long, String)])
      docs.foreach(d => batches(rnd.nextInt(nBatches)) += d)
      val dir = java.nio.file.Files.createTempDirectory("posprop").toString
      val epochs = batches.toSeq.map(b => (b.toSeq, Seq.empty[Long])) :+
        ((rewrites, deleteIds.toSeq))
      val replaysHeld = driveWithReplays(rnd, dir, epochs.size) { i =>
        Streams.positionsApplyBatch(epochs(i)._1.toDF("doc_id", "text"),
          epochs(i)._2.toDF("doc_id"), i.toLong, dir)
      }(Streams.compactPositions(spark, dir, _))
      val latest = (docs.toMap ++ rewrites.toMap -- deleteIds).toSeq
      val served = Streams.servedPhrase(spark, dir, phrase)
        .as[(Long, Long)].collect().toSeq
      val batch = Text.phraseMatch(latest.toDF("doc_id", "text"), phrase)
        .as[(Long, Long)].collect().toSeq
      (Prop(served == batch) :| s"served $served != batch $batch") &&
        (Prop(replaysHeld) :| "a re-delivered epoch moved the table version")
    }

  property("T36 closure fold over random insert/re-parent/delete batches == batch resolve of the final pointer state") =
    forAll(Gen.choose(1, 3), Gen.long) { (nBatches, seed) =>
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      // reference pointer model. INVARIANT: parent id < node id, kept by
      // every generated op, so the forest stays acyclic by construction
      // (ancestor chains strictly decrease) — cycles have their own spec.
      val model = scala.collection.mutable.LinkedHashMap[Long, Option[Long]]()
      (0L until 4L).foreach(k => model(k) = None)
      (4L until 28L).foreach(k =>
        model(k) = Some(rnd.nextInt(k.toInt).toLong))
      val dir =
        java.nio.file.Files.createTempDirectory("t36prop").toString + "/h"
      Streams.hierarchyBatch(
        model.toSeq.map { case (n, p) => (n, p) }.toDF("node", "parent"),
        0L, dir)
      var next = 28L
      // model-side subtree removal: every live node whose ancestor chain
      // passes through a deleted root goes too
      def subtree(d: Long): Set[Long] = model.keys.filter { n =>
        var cur = Option(n)
        var hit = false
        while (cur.isDefined && !hit) {
          if (cur.get == d) hit = true else cur = model(cur.get)
        }
        hit
      }.toSet
      (1 to nBatches).foreach { b =>
        val ops =
          scala.collection.mutable.Buffer.empty[(Long, Option[Long], String)]
        val touched = scala.collection.mutable.Set.empty[Long]
        // inserts: parent = any live node (always < next)
        val live0 = model.keys.toIndexedSeq
        (1 to 2).foreach { _ =>
          val p = live0(rnd.nextInt(live0.size))
          ops += ((next, Some(p), "u")); touched += next
          model(next) = Some(p); next += 1
        }
        // re-parents: a non-root node moves under a live node with a
        // SMALLER id (preserves the acyclicity invariant)
        (1 to 2).foreach { _ =>
          val movables = model.keys.filter(k => !touched(k) &&
            model(k).isDefined && k > 0).toIndexedSeq
          if (movables.nonEmpty) {
            val k = movables(rnd.nextInt(movables.size))
            val targets = model.keys.filter(t => t < k && !touched(t))
              .toIndexedSeq
            if (targets.nonEmpty) {
              val p = targets(rnd.nextInt(targets.size))
              ops += ((k, Some(p), "u")); touched += k
              model(k) = Some(p)
            }
          }
        }
        // one delete: a live untouched node (its whole subtree goes) or,
        // every so often, an absent id (must no-op)
        val delCand = model.keys.filter(k => !touched(k)).toIndexedSeq
        if (rnd.nextInt(4) == 0) ops += ((next + 1000L, None, "d"))
        else if (delCand.nonEmpty) {
          val d = delCand(rnd.nextInt(delCand.size))
          ops += ((d, None, "d"))
          subtree(d).foreach(model.remove)
        }
        Streams.hierarchyOpsBatch(
          ops.toSeq.toDF("node", "parent", "op"), b.toLong, dir)
      }
      // reference closure off the final model: walk each chain to its root
      val ref = model.keys.map { n =>
        val segs = scala.collection.mutable.ArrayBuffer(n)
        while (model(segs.head).isDefined) segs.prepend(model(segs.head).get)
        (n, segs.head, (segs.size - 1).toLong, segs.mkString("/"))
      }.toSet
      val got = Streams.readHierarchy(spark, dir).get
        .as[(Long, Long, Long, String)].collect().toSet
      Prop(got == ref) :| s"closure diverged: ${got.size} vs ${ref.size}"
    }
}

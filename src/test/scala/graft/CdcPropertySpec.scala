package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.Schemas.{CdcEvent, CdcRow, CdcSource}
import graft.operators.Cdc

/** Property-based invariant (SURVEY.md §5.2.5): for ANY op sequence per
  * key, the distributed window fold (C4) equals a sequential last-writer
  * dictionary replay.
  */
object CdcPropertySpec extends Properties("CdcSnapshot") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark = TestSpark.spark

  def src(lsn: Long) = CdcSource("v", "postgresql", "cdctest", lsn, None,
    "cdctest", "public", "customers", None, Some(lsn), None)

  val genOps: Gen[List[String]] = Gen.listOfN(6,
    Gen.frequency(3 -> "c", 4 -> "u", 2 -> "d", 1 -> "r")).map(l => if (l.isEmpty) List("c") else l)

  val genChangelog: Gen[Map[Long, List[String]]] =
    Gen.mapOfN(5, Gen.zip(Gen.choose(1L, 40L), genOps))

  def materialize(keyed: Map[Long, List[String]]): Seq[CdcEvent] =
    keyed.toSeq.flatMap { case (id, ops) =>
      ops.zipWithIndex.map { case (op, i) =>
        val lsn = id * 1000 + i
        val img = Some(CdcRow(id, Some(s"v$i"), Some("l"), Some(s"$id-$i@x")))
        op match {
          case "d" => CdcEvent(img, None, src(lsn), "d", lsn)
          case o => CdcEvent(None, img, src(lsn), o, lsn)
        }
      }
    }

  /** Sequential truth: last op per key wins (ops are lsn-ordered). */
  def replay(keyed: Map[Long, List[String]]): Map[Long, String] =
    keyed.flatMap { case (id, ops) =>
      val lastIdx = ops.length - 1
      if (ops(lastIdx) == "d") None else Some(id -> s"$id-$lastIdx@x")
    }

  property("window fold == sequential replay for random op sequences") =
    forAll(genChangelog) { keyed =>
      import spark.implicits._
      val events = materialize(keyed)
      Prop.collect(events.size) {
        if (events.isEmpty) Prop.passed
        else {
          import org.apache.spark.sql.functions.col
          val chg = events.toDS.toDF
          val live = col("live")
          // every entry point onto the newest-per-key fold, as (id, email)
          val forms = Seq(
            "snapshot" -> Cdc.snapshot(chg),
            "materializeLatestBy" -> Cdc.materializeLatestBy(chg, Seq("id")),
            "latestWithTombstonesBy" ->
              Cdc.latestWithTombstonesBy(chg, Seq("id")).filter(live),
            "compactedTopicBy" ->
              Cdc.compactedTopicBy(chg, Seq("id")).filter(live),
            "scd2By" ->
              Cdc.scd2By(chg, Seq("id")).filter(col("valid_to").isNull))
          val expected = replay(keyed)
          forms.map { case (name, df) =>
            val got = df.select("id", "email").collect()
              .map(r => r.getLong(0) -> r.getString(1)).toMap
            Prop(got == expected) :| s"$name: got=$got expected=$expected"
          }.reduce(_ && _)
        }
      }
    }

  // ---- C13 toastFill: value ∈ {real, genuine-null, TOAST placeholder} ----
  val genVals: Gen[List[String]] = Gen.listOfN(6, Gen.frequency(
    4 -> Gen.alphaLowerStr.map(s => "v" + s.take(3)),
    2 -> Gen.const("NULL"),
    3 -> Gen.const("TOAST"))).map(l => if (l.isEmpty) List("v") else l)

  def toastEvents(keyed: Map[Long, List[String]]): Seq[CdcEvent] =
    keyed.toSeq.flatMap { case (id, vals) =>
      vals.zipWithIndex.map { case (v, i) =>
        val lsn = id * 1000 + i
        val ln = v match {
          case "NULL" => None
          case "TOAST" => Some(Cdc.toastSentinel)
          case real => Some(real)
        }
        CdcEvent(None, Some(CdcRow(id, Some(s"f$i"), ln, Some(s"$id@x"))),
          src(lsn), if (i == 0) "c" else "u", lsn)
      }
    }

  /** Sequential truth: carry the last non-placeholder value (real or
    * genuine null) forward; a leading placeholder is unknowable (null).
    */
  def toastReplay(keyed: Map[Long, List[String]]): Map[(Long, Long), Option[String]] =
    keyed.flatMap { case (id, vals) =>
      var carry: Option[String] = None // value as of the last non-TOAST event
      vals.zipWithIndex.map { case (v, i) =>
        if (v != "TOAST") carry = if (v == "NULL") None else Some(v)
        (id, id * 1000 + i) -> carry
      }
    }

  property("toastFill == sequential carry-forward for random value sequences") =
    forAll(Gen.mapOfN(5, Gen.zip(Gen.choose(1L, 40L), genVals))) { keyed =>
      import spark.implicits._
      val events = toastEvents(keyed)
      if (events.isEmpty) Prop.passed
      else {
        val got = Cdc.toastFill(events.toDS.toDF, Seq("last_name")).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(3))).toMap
        val expected = toastReplay(keyed)
        Prop(got == expected) :| s"got=$got expected=$expected"
      }
    }

  property("set operations agree with Scala Set algebra on random key sets") =
    forAll(Gen.listOf(Gen.choose(0L, 30L)), Gen.listOf(Gen.choose(0L, 30L))) { (xs, ys) =>
      import spark.implicits._
      val a = xs.toDF("k"); val b = ys.toDF("k")
      val union = a.union(b).distinct().as[Long].collect().toSet
      val inter = a.intersect(b).as[Long].collect().toSet
      val except = a.except(b).as[Long].collect().toSet
      val (sa, sb) = (xs.toSet, ys.toSet)
      Prop(union == (sa | sb) && inter == (sa & sb) && except == (sa -- sb)) :|
        s"sets diverged: u=$union i=$inter e=$except"
    }

  // the widening lattice must behave like a join-semilattice over the
  // observed type set: the order envelopes arrive in, duplicates from
  // redelivery, and incremental vs one-shot observation must all
  // produce the same widened type — driver code, no Spark session
  val genWire: Gen[List[String]] = Gen.nonEmptyListOf(Gen.oneOf(
    "int8", "int16", "int32", "int64", "float", "double",
    "boolean", "string", "bytes"))
  property("wire-type widening is order-invariant, duplicate-invariant, and monotone") =
    forAll(genWire) { ws =>
      val w = Cdc.widenWireTypes(ws)
      val orderInv = Cdc.widenWireTypes(ws.reverse) == w &&
        Cdc.widenWireTypes(scala.util.Random.shuffle(ws)) == w
      val dupInv = Cdc.widenWireTypes(ws ++ ws) == w
      // monotone: adding an observation never un-widens below a prior
      // member's own widened type (numeric ranks only rise; string absorbs)
      def rank(d: org.apache.spark.sql.types.DataType): Int = d match {
        case org.apache.spark.sql.types.IntegerType => 1
        case org.apache.spark.sql.types.LongType    => 2
        case org.apache.spark.sql.types.FloatType   => 3
        case org.apache.spark.sql.types.DoubleType  => 4
        case org.apache.spark.sql.types.BooleanType => 1
        case _                                      => 5 // string: top
      }
      val monotone = ws.forall(t => rank(w) >= rank(Cdc.widenWireTypes(Seq(t))))
      Prop(orderInv && dupInv && monotone) :| s"lattice violated for $ws -> $w"
    }

  property("seqAudit two-phase == naive global-sort on random lsn multisets") =
    forAll(Gen.listOfN(60,
        Gen.frequency(5 -> Gen.choose(0L, 5000L), 1 -> Gen.choose(0L, 50L))),
      Gen.choose(1, 20)) { (lsns0: List[Long], topK: Int) =>
      val lsns = if (lsns0.isEmpty) List(0L) else lsns0
      val sp = spark
      import sp.implicits._
      val got = Cdc.seqAuditBy(lsns.toDF("lsn"), Nil, topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toList
      // naive: sort the multiset, consecutive positive gaps + dup values
      val sorted = lsns.sorted
      val gaps = sorted.zip(sorted.tail)
        .map { case (a, b) => (a, b, b - a - 1, "gap") }
        .filter(_._3 > 0).distinct
      val dups = lsns.groupBy(identity).filter(_._2.size > 1).keys.toList
        .map(v => (v, v, 0L, "dup"))
      val expected = (gaps ++ dups)
        .sortBy { case (p, _, g, _) => (-g, p) }.take(topK)
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("seqAuditBy keyed == independent per-key naive audits merged by severity") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b"),
        Gen.frequency(5 -> Gen.choose(0L, 4000L), 1 -> Gen.choose(0L, 40L)))),
      Gen.choose(1, 15)) { (rows0, topK) =>
      val rows = if (rows0.isEmpty) List(("a", 0L)) else rows0
      val sp = spark
      import sp.implicits._
      val got = Cdc.seqAuditBy(rows.toDF("tab", "lsn"), Seq("tab"), topK)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toList
      def naive(k: String) = {
        val ls = rows.filter(_._1 == k).map(_._2)
        val sorted = ls.sorted
        val gaps = sorted.zip(sorted.drop(1))
          .map { case (a, b) => (k, a, b, b - a - 1, "gap") }
          .filter(_._4 > 0).distinct
        val dups = ls.groupBy(identity).filter(_._2.size > 1).keys.toList
          .map(v => (k, v, v, 0L, "dup"))
        gaps ++ dups
      }
      val expected = (naive("a") ++ naive("b"))
        .sortBy { case (t, p, _, g, _) => (-g, t, p) }.take(topK)
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("snapshot is idempotent under event duplication (at-least-once)") =
    forAll(genChangelog) { keyed =>
      import spark.implicits._
      val events = materialize(keyed)
      if (events.isEmpty) Prop.passed
      else {
        val once = Cdc.snapshot(events.toDS.toDF).collect()
          .map(r => r.getLong(0) -> r.getString(3)).toMap
        val dup = Cdc.snapshot((events ++ events).toDS.toDF).collect()
          .map(r => r.getLong(0) -> r.getString(3)).toMap
        Prop(once == dup) :| s"dup delivery changed the snapshot"
      }
    }

  /** C19 producer roundtrip: for ANY two random snapshots, applying the
    * derived diff onto the first reproduces the second exactly, and the
    * diff is MINIMAL (no row for an unchanged key).
    */
  property("snapshotDiff applied to prev reproduces next; unchanged keys emit nothing") = {
    val genSnap: Gen[Map[Long, (String, String)]] = Gen.mapOfN(8,
      Gen.zip(Gen.choose(1L, 12L),
        Gen.zip(Gen.oneOf("a", "b", "c"), Gen.oneOf("x", "y"))))
    forAll(genSnap, genSnap) { (prevM, nextM) =>
      import spark.implicits._
      def df(m: Map[Long, (String, String)]) =
        m.toSeq.map { case (id, (f, e)) => (id, f, e) }.toDF("id", "fn", "em")
      val diff = Cdc.snapshotDiff(df(prevM), df(nextM), Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(3)), Option(r.getString(5)))).toSeq
      // (id, op, a_fn, a_em)
      val unchanged = prevM.keySet.intersect(nextM.keySet)
        .filter(k => prevM(k) == nextM(k))
      val minimal = diff.forall { case (id, _, _, _) => !unchanged(id) }
      val applied = (prevM -- diff.map(_._1)) ++
        diff.collect { case (id, op, Some(f), Some(e)) if op != "d" =>
          id -> (f, e) }
      Prop(minimal && applied == nextM) :|
        s"diff=$diff applied=$applied next=$nextM"
    }
  }

  // ------------------------------------------------ T23 incremental SCD2
  /** Random batch splits (including out-of-order delivery ACROSS
    * batches) folded through the durable store must equal the batch
    * SCD2 over the concatenated changelog — the compact-state rebuild
    * is exact for any arrival order.
    */
  property("incremental SCD2 over random batch splits == batch fold") =
    forAll(genChangelog, Gen.choose(0, 2), Gen.long) { (keyed, nExtra, seed) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val events = materialize(keyed)
      if (events.isEmpty) Prop.passed
      else {
        val rnd = new scala.util.Random(seed)
        val nBatches = 1 + nExtra
        val batches = Array.fill(nBatches)(
          scala.collection.mutable.Buffer.empty[CdcEvent])
        // random assignment scatters a key's events across batches in
        // random order — late events are the norm here, not the edge
        events.foreach(e => batches(rnd.nextInt(nBatches)) += e)
        val root = java.nio.file.Files.createTempDirectory("scd2p")
          .toString + "/h"
        batches.zipWithIndex.foreach { case (b, i) =>
          graft.streaming.Streams.scd2Batch(
            b.toSeq.toDS.toDF, i.toLong, root)
        }
        def hist(df: org.apache.spark.sql.DataFrame) =
          df.select("id", "valid_from", "valid_to", "email").collect()
            .map(r => (r.getLong(0), r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)),
              r.getString(3))).toSet
        val got = graft.streaming.Streams.readScd2(spark, root)
          .map(hist).getOrElse(Set.empty)
        val expected = hist(Cdc.scd2By(events.toDS.toDF, Seq("id")))
        Prop(got == expected) :| s"got=$got expected=$expected"
      }
    }

  // --------------------------------------------- LakeSink durable replica
  /** The durable replica path: random batch splits of a changelog with
    * deletes, re-creates and redeliveries (the same event, same lsn,
    * again in the same or another batch), applied through
    * [[graft.streaming.LakeSink.applyBatch]] — whose merge does the only
    * newest-per-key fold — must serve exactly [[Cdc.snapshot]] over all
    * the events; replaying an applied batch id commits nothing.
    */
  property("LakeSink.applyBatch over random batch splits == Cdc.snapshot") =
    forAll(genChangelog, Gen.choose(1, 3), Gen.long) { (keyed, nBatches, seed) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      import graft.sources.LakeFormat
      val events = materialize(keyed)
      if (events.isEmpty) Prop.passed
      else {
        val rnd = new scala.util.Random(seed)
        val batches = Array.fill(nBatches)(
          scala.collection.mutable.Buffer.empty[CdcEvent])
        events.foreach { e =>
          batches(rnd.nextInt(nBatches)) += e
          if (rnd.nextInt(4) == 0) batches(rnd.nextInt(nBatches)) += e
        }
        val root = java.nio.file.Files.createTempDirectory("sinkp")
          .toString + "/t"
        LakeFormat.create(spark, root, Seq("id"), statsCols = Seq("id"))
        def apply(i: Int): Unit = graft.streaming.LakeSink.applyBatch(
          batches(i).toSeq.toDS.toDF, root, "prop", i.toLong)
        batches.indices.foreach(apply)
        val tip = LakeFormat.state(spark, root).version
        apply(rnd.nextInt(nBatches))
        val cols = Seq("id", "first_name", "last_name", "email").map(col)
        val got = LakeFormat.snapshot(spark, root).filter(col("live"))
          .select(cols: _*).collect().toSet
        val expected = Cdc.snapshot(events.toDS.toDF).collect().toSet
        Prop(got == expected &&
          LakeFormat.state(spark, root).version == tip) :|
          s"got=$got expected=$expected"
      }
    }

  // ------------------------------------- durable IVM, exactly-once
  /** The durable aggregate ([[graft.streaming.Streams.aggMaintainBatch]])
    * over random contiguous splits of a consistent changelog (c/u/d with
    * true before-images; updates move rows between groups), with random
    * replays of already-applied batch ids — the last one or an older
    * one — must equal [[Cdc.aggMaintain]] over the whole log, and no
    * replay may move the store's table version.
    */
  property("durable IVM over random batch splits and replays == Cdc.aggMaintain") =
    forAll(Gen.choose(1, 24), Gen.choose(1, 4), Gen.long) {
        (nEvents, nBatches, seed) =>
      import spark.implicits._
      import graft.sources.LakeFormat
      import graft.streaming.Streams
      val rnd = new scala.util.Random(seed)
      def img(id: Long, g: String) =
        Some(CdcRow(id, Some(g), Some("l"), Some(s"$id@x")))
      val live = scala.collection.mutable.Map.empty[Long, String]
      val events = (1 to nEvents).map { i =>
        val (lsn, id) = (i.toLong, 1L + rnd.nextInt(6))
        val g = Seq("a", "b", "c")(rnd.nextInt(3))
        live.get(id) match {
          case None =>
            live(id) = g; CdcEvent(None, img(id, g), src(lsn), "c", lsn)
          case Some(old) if rnd.nextBoolean() =>
            live(id) = g; CdcEvent(img(id, old), img(id, g), src(lsn), "u", lsn)
          case Some(old) =>
            live -= id; CdcEvent(img(id, old), None, src(lsn), "d", lsn)
        }
      }
      // contiguous cuts (empty batches allowed): every batch boundary is
      // a consistent prefix of the log
      val cuts = 0 +: Seq.fill(nBatches - 1)(rnd.nextInt(nEvents + 1)).sorted :+
        nEvents
      val batches = cuts.sliding(2).map(w => events.slice(w(0), w(1))).toSeq
      val root = java.nio.file.Files.createTempDirectory("ivmp")
        .toString + "/a"
      val grp = (img: org.apache.spark.sql.Column) => img.getField("first_name")
      def apply(i: Int): Unit = Streams.aggMaintainBatch(
        batches(i).toDS.toDF, i.toLong, root, grp)
      val moved = batches.indices.flatMap { i =>
        apply(i)
        Option.when(rnd.nextBoolean()) {
          val j = rnd.nextInt(i + 1)
          val v = LakeFormat.state(spark, root).version
          apply(j)
          (j, v, LakeFormat.state(spark, root).version)
        }.filter { case (_, v, after) => v != after }
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("grp", "n", "sum_id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = rows(Streams.readAggSnapshot(spark, root))
      val expected = rows(Cdc.aggMaintain(events.toDS.toDF, grp))
      Prop(moved.isEmpty && got == expected) :|
        s"replays that moved the version (id, before, after): $moved; " +
          s"got=$got expected=$expected"
    }

  // -------------------------------------------- C20 audit/repair closure
  /** For ANY corruption of the replica (rows dropped, modified, or
    * invented), the checksum audit + bucket-restricted repair restores
    * the source exactly, and a clean replica always audits clean.
    */
  property("C20 audit+repair closes the loop under random replica corruption") =
    forAll(genChangelog, Gen.long) { (keyed, seed) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val events = materialize(keyed)
      if (events.isEmpty) Prop.passed
      else {
        val rnd = new scala.util.Random(seed)
        val srcState = Cdc.snapshot(events.toDS.toDF).localCheckpoint()
        val rows = srcState.as[(Long, String, String, String)].collect().toSeq
        // corrupt: each row independently kept / dropped / modified, plus
        // possibly one invented row the source never had
        val corrupted = rows.flatMap { r =>
          rnd.nextInt(4) match {
            case 0 => None                                // dropped
            case 1 => Some(r.copy(_4 = r._4 + ".corrupt")) // modified
            case _ => Some(r)                              // kept
          }
        } ++ (if (rnd.nextBoolean()) Seq((999L, "ghost", "g", "g@x")) else Nil)
        val rep = corrupted.toDF("id", "first_name", "last_name", "email")
        val nB = 4
        val audit = Cdc.reconcileChecksums(srcState, rep, Seq("id"), nB)
        val repair = Cdc.repairFromAudit(srcState, rep, audit, Seq("id"), nB)
        val repaired = rep.join(repair.select("id"), Seq("id"), "left_anti")
          .unionByName(repair.filter(col("op") =!= "d").select(col("id"),
            col("a_first_name").as("first_name"),
            col("a_last_name").as("last_name"),
            col("a_email").as("email")))
        val ok1 = repaired.orderBy("id").collect().toSeq ==
          srcState.orderBy("id").collect().toSeq
        val ok2 = Cdc.reconcileChecksums(srcState, repaired, Seq("id"), nB)
          .filter(!col("is_match")).count() == 0
        Prop(ok1 && ok2) :| "repair did not reconcile"
      }
    }
}

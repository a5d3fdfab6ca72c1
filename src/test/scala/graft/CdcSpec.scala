package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.Schemas.{CdcEvent, CdcRow, CdcSource}
import graft.operators.Cdc

/** CDC semantics over hand-built envelopes — mechanizes the reference's
  * manual insert-then-inspect demo (ez-cdc README.md:307-333) and the
  * FIXTURES.md §B scenario matrix.
  */
class CdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def src(lsn: Long): CdcSource = CdcSource("2.4.2.Final", "postgresql",
    "cdctest", 1700000000000L + lsn, Some("false"), "cdctest", "public",
    "customers", Some(lsn / 10), Some(lsn), None)

  def ev(id: Long, op: String, lsn: Long, before: Option[CdcRow],
      after: Option[CdcRow]): CdcEvent =
    CdcEvent(before, after, src(lsn), op, 1700000000000L + lsn)

  def row(id: Long, fn: String, ln: String, em: String): Option[CdcRow] =
    Some(CdcRow(id, Option(fn), Option(ln), Option(em)))

  test("README demo: two inserts materialize to two rows, before=null, op=c") {
    val events = Seq(
      ev(1, "c", 10, None, row(1, "alex", "foley", "afoley@gmail.com")),
      ev(2, "c", 20, None, row(2, "john", "doe", "jdoe@gmail.com")))
    val df = events.toDS.toDF
    assert(df.filter(col("before").isNotNull).count() === 0)
    assert(df.filter(col("op") === "c").count() === 2)
    val snap = Cdc.snapshot(df).orderBy("id").collect()
    assert(snap.length === 2)
    assert(snap(0).getString(1) === "alex" && snap(0).getString(3) === "afoley@gmail.com")
    assert(snap(1).getString(1) === "john")
  }

  test("c->u->u->d removes the key; c->u keeps latest image") {
    val events = Seq(
      ev(10, "c", 100, None, row(10, "a", "x", "a@x")),
      ev(10, "u", 101, row(10, "a", "x", "a@x"), row(10, "a2", "x", "a@x")),
      ev(10, "u", 102, row(10, "a2", "x", "a@x"), row(10, "a3", "x", "a@x")),
      ev(10, "d", 103, row(10, "a3", "x", "a@x"), None),
      ev(11, "c", 200, None, row(11, "b", "y", "b@y")),
      ev(11, "u", 201, row(11, "b", "y", "b@y"), row(11, "b", "y", "b2@y")))
    val snap = Cdc.snapshot(events.toDS.toDF).orderBy("id").collect()
    assert(snap.map(_.getLong(0)).toSeq === Seq(11L))
    assert(snap(0).getString(3) === "b2@y")
  }

  test("out-of-order arrival: lsn order wins, not arrival order") {
    val events = Seq( // arrival order deliberately scrambled
      ev(12, "u", 302, row(12, "v2", "z", "z@z"), row(12, "v3", "z", "z@z")),
      ev(12, "c", 300, None, row(12, "v1", "z", "z@z")),
      ev(12, "u", 301, row(12, "v1", "z", "z@z"), row(12, "v2", "z", "z@z")))
    val snap = Cdc.snapshot(events.toDS.toDF).collect()
    assert(snap.length === 1 && snap(0).getString(1) === "v3")
  }

  test("op=r snapshot reads participate like inserts") {
    val events = Seq(
      ev(13, "r", 400, None, row(13, "pre", "s", "s@s")),
      ev(13, "u", 401, row(13, "pre", "s", "s@s"), row(13, "post", "s", "s@s")))
    val snap = Cdc.snapshot(events.toDS.toDF).collect()
    assert(snap(0).getString(1) === "post")
  }

  test("before/after diff emits exactly the changed columns") {
    val events = Seq(
      ev(14, "u", 500, row(14, "f", "l", "e@e"), row(14, "f", "l", "e2@e")),
      ev(15, "u", 501, row(15, "f", "l", "e@e"), row(15, "f2", "l2", "e@e")))
    val d = Cdc.beforeAfterDiff(events.toDS.toDF).orderBy("id").collect()
    assert(d(0).getString(2) === "email")
    assert(d(1).getString(2) === "first_name,last_name")
  }

  test("envelope parse tolerates schema drift: extra fields ignored, missing fields null") {
    val wire = Seq(
      // Debezium 2.x adds fields across versions — extras must not break parse
      ("""{"op":"c","after":{"id":7,"first_name":"x","new_field":"?"},"source":{"lsn":5,"sequence":"[1,2]"},"ts_ms":1,"unknown_top":42}""", 7L),
      // minimal envelope: absent optional fields surface as nulls
      ("""{"op":"d","before":{"id":8},"source":{"lsn":6},"ts_ms":2}""", 8L))
      .toDF("value", "k")
    val parsed = Cdc.parseEnvelope(wire).select("e.after.id", "e.op", "e.source.lsn",
      "e.after.email", "e.transaction").collect()
    assert(parsed.length === 2)
    assert(parsed(0).getLong(0) === 7L && parsed(0).getString(1) === "c")
    assert(parsed(0).isNullAt(3) && parsed(0).isNullAt(4))
    assert(parsed(1).getString(1) === "d" && parsed(1).getLong(2) === 6L)
  }

  test("SCD2 history: intervals chain per key, delete closes without opening") {
    val events = Seq(
      ev(40, "c", 100, None, row(40, "f", "l", "v1@x")),
      ev(40, "u", 101, row(40, "f", "l", "v1@x"), row(40, "f", "l", "v2@x")),
      ev(40, "d", 102, row(40, "f", "l", "v2@x"), None),
      ev(41, "c", 200, None, row(41, "g", "m", "w1@x")))
    val h = Cdc.scd2By(events.toDS.toDF, Seq("id"))
      .orderBy("id", "valid_from").collect()
    assert(h.length === 3)
    assert(h(0).getLong(1) === 100L && h(0).getLong(2) === 101L) // closed by update
    assert(h(1).getLong(1) === 101L && h(1).getLong(2) === 102L) // closed by delete
    assert(h(2).getLong(1) === 200L && h(2).isNullAt(2))         // still open
  }

  test("tombstones (null value) are dropped before parse (main.py:42)") {
    val wire = Seq(
      ("""{"op":"c","after":{"id":1,"first_name":"a"},"source":{"lsn":1},"ts_ms":1}""", 1L),
      (null.asInstanceOf[String], 1L)).toDF("value", "k")
    val parsed = Cdc.parseEnvelope(wire)
    assert(parsed.count() === 1)
  }

  test("transaction blocks: total_order ranks every event of a commit 1..n") {
    val chg = Cdc.changelog(spark, TestSpark.sf)
    val blocks = Cdc.txBlocks(chg).collect()
    assert(blocks.nonEmpty)
    // ops string has exactly n_events entries for every transaction
    blocks.foreach { r =>
      val n = r.getAs[Long]("n_events")
      assert(r.getAs[String]("ops").split(",").length.toLong === n, r.toString)
    }
    // per-event orders are a contiguous 1..n within each tx
    val orders = chg.select(col("transaction.id").as("tx"),
        col("transaction.total_order").as("o"))
      .collect().groupBy(_.getString(0))
    orders.foreach { case (tx, rows) =>
      val os = rows.map(_.getLong(1)).sorted.toSeq
      assert(os === (1L to os.length).toSeq, tx)
    }
  }

  test("tx-consistent snapshot applies whole commits or nothing") {
    val chg = Cdc.changelog(spark, TestSpark.sf)
    // cutoff = the FIRST event of the last transaction: guaranteed to
    // straddle that tx (its later events exceed the cutoff), so atomicity
    // is observable — tx lsn ranges are disjoint, so every earlier tx is
    // complete below it
    val cutoffVal = chg
      .groupBy(col("transaction.id")).agg(
        min(col("source.lsn")).as("lo"), max(col("source.lsn")).as("hi"))
      .orderBy(col("hi").desc).limit(1)
      .collect()(0).getAs[Long]("lo")
    val got = Cdc.txConsistentSnapshot(chg,
      spark.range(1).select(lit(cutoffVal).as("cutoff")))
      .orderBy("id").collect().toSeq
    // naive reference: include exactly the events of txs fully <= cutoff
    val events = chg.select(col("transaction.id").as("tx"), col("source.lsn").as("lsn"))
      .collect()
    val completeTx = events.groupBy(_.getString(0))
      .filter { case (_, rs) => rs.map(_.getLong(1)).max <= cutoffVal }.keySet
    val included = chg.filter(col("transaction.id").isin(completeTx.toSeq: _*))
    val want = Cdc.snapshot(included).orderBy("id").collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
    // and it differs from a naive per-event lsn filter when a tx straddles
    // the cutoff (atomicity is observable, not vacuous)
    val perEvent = Cdc.snapshot(chg.filter(col("source.lsn") <= cutoffVal))
      .orderBy("id").collect().toSeq
    assert(perEvent !== got)
  }

  test("C14 multi-table snapshot: a tx torn across TABLES vanishes from both") {
    val cust = Cdc.changelog(spark, TestSpark.sf)
    val ords = Cdc.ordersChangelog(spark, TestSpark.sf)
    // pick a transaction with events in BOTH tables, and cut it between
    // its last customers event and its last orders event: complete in the
    // customers stream alone, torn in the union — the cross-table
    // atomicity case a per-table C10 cannot see
    val spanning = cust.select(col("transaction.id").as("tx"),
        col("source.lsn").as("lsn"), lit("c").as("t"))
      .unionAll(ords.select(col("transaction.id").as("tx"),
        col("source.lsn").as("lsn"), lit("o").as("t")))
      .groupBy("tx").agg(
        max(when(col("t") === "c", col("lsn"))).as("c_hi"),
        max(when(col("t") === "o", col("lsn"))).as("o_hi"))
      .filter(col("c_hi").isNotNull && col("o_hi").isNotNull &&
        col("o_hi") > col("c_hi"))
      // take the LATEST such tx so every earlier commit block (disjoint,
      // ascending lsn ranges) stays complete below the cutoff
      .orderBy(col("c_hi").desc).limit(1).collect()(0)
    val (tornTx, cutoffVal) = (spanning.getString(0), spanning.getLong(1))
    val cutoff = spark.range(1).select(lit(cutoffVal).as("cutoff"))
    val Seq(custC, ordsC) = Cdc.multiTableCompleteTx(Seq(cust, ords), cutoff)
    // the torn tx contributes NOTHING to either side, even though every
    // one of its customers events is at-or-below the cutoff
    assert(cust.filter(col("transaction.id") === tornTx &&
      col("source.lsn") <= cutoffVal).count() > 0)
    assert(custC.filter(col("transaction.id") === tornTx).count() === 0)
    assert(ordsC.filter(col("transaction.id") === tornTx).count() === 0)
    // transactions fully below the cutoff in BOTH tables survive in both
    val whole = custC.select(col("transaction.id").as("tx")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(whole.nonEmpty)
    val ordTx = ordsC.select(col("transaction.id").as("tx")).distinct().collect()
      .map(_.getString(0)).toSet
    // every surviving orders tx is also fully applied on the customers
    // side (or has no customers events at all)
    val custAllTx = cust.select(col("transaction.id").as("tx")).distinct()
      .collect().map(_.getString(0)).toSet
    assert((ordTx intersect custAllTx) subsetOf whole)
    // and the materialized join carries no row whose order OR customer
    // state came from the torn tx: no order of the torn tx's commit block
    // appears, and the torn tx's customers show their PRE-tx state (their
    // ids are absent entirely here, since all a customer's events share
    // one tx in the fixture schedule)
    val snapO = Cdc.materializeLatestBy(ordsC, Seq("id"))
    val tornBlock = tornTx.stripPrefix("tx-").toLong
    assert(snapO.filter(col("custkey") >= tornBlock * 10 &&
      col("custkey") < tornBlock * 10 + 10).count() === 0)
  }

  test("C9 dead-letter routing: malformed records routed, payload retained") {
    import spark.implicits._
    val raw = Seq(
      """{"op":"c","lsn":101,"after":{"id":1,"email":"a@x"}}""",
      """{"op":"d","lsn":104,"after":null}""",
      """{"op":"c","lsn":201,"after":{"id":2,"email"""",  // truncated
      """not json at all""")
      .toDF("raw")
    val routed = Cdc.deadLetterRoute(raw).collect()
    val byRoute = routed.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byRoute === Map("ok" -> 2, "dead" -> 2))
    // ok rows carry the parsed lsn; dead rows keep null lsn + an md5 of the
    // raw payload for replay
    val lsns = routed.filter(_.getString(1) == "ok").map(_.getLong(2)).sorted
    assert(lsns.toSeq === Seq(101L, 104L))
    assert(routed.forall(_.getString(0).length == 32))
  }

  test("R4 envelope wire round trip: serialize -> parse is the identity") {
    val chg = Cdc.changelog(spark, TestSpark.sf)
    val wire = graft.sources.CdcSources.envelopeWire(chg)
    // the wire key is the primary key as a string (compaction contract)
    assert(wire.filter(col("key").isNull).count() === 0)
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.select(
          coalesce(col("after.id"), col("before.id")).as("id"), col("op"),
          col("source.lsn").as("lsn"), col("source.snapshot").as("snap"),
          col("before.email").as("b_em"), col("after.email").as("a_em"),
          col("transaction.total_order").as("tord"))
        .orderBy(col("id"), col("lsn")).collect().toSeq
    val parsed = Cdc.parseEnvelope(wire.select(col("value"))).select(col("e.*"))
    assert(fingerprint(parsed) === fingerprint(chg))
    assert(fingerprint(chg).nonEmpty)
  }

  test("incremental snapshot windows fold to the same state as the plain changelog") {
    val base = Cdc.snapshot(Cdc.changelog(spark, TestSpark.sf))
      .orderBy("id").collect().toSeq
    val incr = Cdc.snapshot(Cdc.incrementalChangelog(spark, TestSpark.sf))
      .orderBy("id").collect().toSeq
    assert(incr === base)
    assert(base.nonEmpty)
    // the extended changelog really carries incremental-snapshot events,
    // and none of them resurrects a deleted key
    val marks = Cdc.incrementalChangelog(spark, TestSpark.sf)
      .filter(col("source.snapshot") === "incremental")
    assert(marks.count() > 0)
  }

  test("C13 TOAST fill: placeholder re-hydrates, genuine nulls survive, delete resets the carry") {
    val S = Cdc.toastSentinel
    val events = Seq(
      // key 1: insert with real value → update ships placeholder → fill
      ev(1, "c", 100, None, row(1, "a", "big-doc-v1", "a@x")),
      ev(1, "u", 101, row(1, "a", null, "a@x"), row(1, "a2", S, "a@x")),
      // key 1 continues: genuine NULL set, then another placeholder — the
      // fill must carry the NULL forward, not skip back to big-doc-v1
      ev(1, "u", 102, row(1, "a2", null, "a@x"), row(1, "a2", null, "a@x")),
      ev(1, "u", 103, row(1, "a2", null, "a@x"), row(1, "a3", S, "a@x")),
      // key 2: FIRST event already a placeholder → unknowable, stays null
      ev(2, "u", 200, None, row(2, "b", S, "b@y")),
      // key 3: value → delete → re-insert with placeholder: the delete
      // must have reset the carry (no resurrection of pre-delete data)
      ev(3, "c", 300, None, row(3, "c", "keep-v1", "c@z")),
      ev(3, "d", 301, row(3, "c", "keep-v1", "c@z"), None),
      ev(3, "c", 302, None, row(3, "c2", S, "c@z")))
    val got = Cdc.toastFill(events.toDS.toDF, Seq("last_name"))
      .orderBy("id", "lsn").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(3)), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (1L, 100L, Some("big-doc-v1"), false),
      (1L, 101L, Some("big-doc-v1"), true),  // re-hydrated
      (1L, 102L, None, false),               // genuine null
      (1L, 103L, None, true),                // fills the NULL, not v1
      (2L, 200L, None, true),                // unknowable
      (3L, 300L, Some("keep-v1"), false),
      (3L, 301L, None, false),               // delete row: no after image
      (3L, 302L, None, true)))               // carry reset by the delete
  }

  test("schema drift report: added and removed columns per payload-shape version") {
    import spark.implicits._
    val raw = Seq(
      ("t", 1L, """{"after":{"id":1,"a":1,"b":2}}"""),
      ("t", 2L, """{"after":{"id":2,"b":3,"a":4}}"""),  // same shape, reordered
      ("t", 5L, """{"after":{"id":3,"a":5,"b":6,"c":7}}"""), // + c
      ("t", 9L, """{"after":{"id":4,"a":8,"c":9}}"""))       // - b
      .toDF("tbl", "lsn", "raw")
    val got = Cdc.schemaDriftReport(Cdc.payloadSchemaVersions(raw))
      .orderBy("since_lsn")
      .select("since_lsn", "n_events", "fields", "added", "removed")
      .as[(Long, Long, String, String, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, "a,b,id", "a,b,id", ""),
      (5L, 1L, "a,b,c,id", "c", ""),
      (9L, 1L, "a,c,id", "", "b")))
  }

  test("wire-type widening lattice: int precedence, float/double, mixed and non-numeric fallbacks") {
    import org.apache.spark.sql.types._
    assert(Cdc.widenWireTypes(Seq("int32")) === IntegerType)
    assert(Cdc.widenWireTypes(Seq("int64")) === LongType)
    assert(Cdc.widenWireTypes(Seq("int8", "int16", "int32")) === IntegerType)
    assert(Cdc.widenWireTypes(Seq("int32", "int64")) === LongType)
    assert(Cdc.widenWireTypes(Seq("float")) === FloatType)
    assert(Cdc.widenWireTypes(Seq("float", "double")) === DoubleType)
    // int/float mix promotes to double (the Debezium converter promotion)
    assert(Cdc.widenWireTypes(Seq("int64", "float")) === DoubleType)
    assert(Cdc.widenWireTypes(Seq("boolean")) === BooleanType)
    // any disagreement involving a non-numeric type falls back to string
    assert(Cdc.widenWireTypes(Seq("int32", "string")) === StringType)
    assert(Cdc.widenWireTypes(Seq("boolean", "int32")) === StringType)
    // unknown wire types (bytes, logical decimals) type conservatively
    assert(Cdc.widenWireTypes(Seq("bytes")) === StringType)
  }

  test("typedSchemaFromWire reads the self-describing schema block and widens across versions") {
    import org.apache.spark.sql.types._
    val raw = Seq(
      // v1: loyalty_pts declared int32
      """{"schema":{"fields":[{"field":"id","type":"int64"},
        |{"field":"email","type":"string"},{"field":"loyalty_pts","type":"int32"}]},
        |"payload":{"op":"c","key":1,"after":{"id":1,"email":"a@x","loyalty_pts":7}}}"""
        .stripMargin.replace("\n", ""),
      // v2: upstream ALTER to int64 + added a double column
      """{"schema":{"fields":[{"field":"id","type":"int64"},
        |{"field":"email","type":"string"},{"field":"loyalty_pts","type":"int64"},
        |{"field":"score","type":"double"}]},
        |"payload":{"op":"u","key":1,"after":{"id":1,"email":"a@x",
        |"loyalty_pts":5000000000,"score":0.5}}}"""
        .stripMargin.replace("\n", "")).toDF("raw")
    val st = Cdc.typedSchemaFromWire(raw)
    assert(st.fieldNames.toSeq === Seq("email", "id", "loyalty_pts", "score"))
    assert(st("id").dataType === LongType)
    assert(st("email").dataType === StringType)
    assert(st("loyalty_pts").dataType === LongType) // int32 ∨ int64
    assert(st("score").dataType === DoubleType)
  }

  test("evolveSnapshotBy folds a composite (tenant, id) message key across schema versions") {
    import org.apache.spark.sql.types._
    // same id under two tenants; v2 adds loyalty_pts; delete wins (b,1)
    val raw = Seq(
      (10L, """{"op":"c","key":{"tenant":"a","id":1},"after":{"tenant":"a","id":1,"email":"a1@x"}}"""),
      (11L, """{"op":"c","key":{"tenant":"b","id":1},"after":{"tenant":"b","id":1,"email":"b1@x"}}"""),
      (20L, """{"op":"u","key":{"tenant":"a","id":1},"after":{"tenant":"a","id":1,"email":"a1b@x","loyalty_pts":5000000000}}"""),
      (21L, """{"op":"d","key":{"tenant":"b","id":1},"after":null}"""))
      .toDF("lsn", "raw")
    val after = StructType(Seq(
      StructField("tenant", StringType), StructField("id", LongType),
      StructField("email", StringType), StructField("loyalty_pts", LongType)))
    val got = Cdc.evolveSnapshotBy(raw, after, Seq("tenant", "id"))
      .orderBy("tenant", "id").collect()
    assert(got.length === 1) // (b,1) deleted; single-key fold would merge keys
    assert(got(0).getString(0) === "a" && got(0).getLong(1) === 1L)
    assert(got(0).getAs[String]("email") === "a1b@x")
    assert(got(0).getAs[Long]("loyalty_pts") === 5000000000L)
  }

  test("evolveSnapshot folds a bare STRING (UUID) message key — key type derives from the typed wire schema") {
    // the r8 verdict's residual: a bare scalar key hardcoded long would
    // null-parse every UUID and collapse the fold onto one phantom key.
    // The wire's self-describing schema declares id: string (C16), so the
    // derived after-schema types the key correctly.
    val raw = Seq(
      (10L, """{"schema":{"fields":[{"field":"id","type":"string"},{"field":"email","type":"string"}]},"payload":{"op":"c","key":"7b9d-a1","after":{"id":"7b9d-a1","email":"a@x"}}}"""),
      (11L, """{"schema":{"fields":[{"field":"id","type":"string"},{"field":"email","type":"string"}]},"payload":{"op":"c","key":"7b9d-b2","after":{"id":"7b9d-b2","email":"b@x"}}}"""),
      (20L, """{"schema":{"fields":[{"field":"id","type":"string"},{"field":"email","type":"string"}]},"payload":{"op":"u","key":"7b9d-a1","after":{"id":"7b9d-a1","email":"a2@x"}}}"""),
      (21L, """{"schema":{"fields":[{"field":"id","type":"string"},{"field":"email","type":"string"}]},"payload":{"op":"d","key":"7b9d-b2","after":null}}"""))
      .toDF("lsn", "raw")
    val widened = Cdc.typedSchemaFromWire(raw)
    assert(widened("id").dataType ===
      org.apache.spark.sql.types.StringType)
    val got = Cdc.evolveSnapshotBy(
      raw.withColumn("raw", get_json_object(col("raw"), "$.payload")), widened,
      Seq("id"))
      .orderBy("id").collect()
    // two distinct UUID keys folded separately; the deleted one is gone
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("7b9d-a1", "a2@x")))
  }

  test("evolveSnapshot: an UNDECLARED bare key falls back to string and still folds per key") {
    import org.apache.spark.sql.types._
    // after-schema without the key field: the long fallback of old nulled
    // string keys silently; the string fallback is lossless for any scalar
    val raw = Seq(
      (10L, """{"op":"c","key":"u-1","after":{"email":"a@x"}}"""),
      (11L, """{"op":"c","key":"u-2","after":{"email":"b@x"}}"""),
      (20L, """{"op":"u","key":"u-1","after":{"email":"a2@x"}}"""))
      .toDF("lsn", "raw")
    val after = StructType(Seq(StructField("email", StringType)))
    val got = Cdc.evolveSnapshotBy(raw, after, Seq("key"))
      .orderBy("key").collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("u-1", "a2@x"), ("u-2", "b@x")))
  }

  test("typedSchemaFromWire fails loudly on a stream with no schema blocks") {
    val raw = Seq("""{"payload":{"op":"c","key":1,"after":{"id":1}}}""")
      .toDF("raw")
    val e = intercept[IllegalArgumentException] {
      Cdc.typedSchemaFromWire(raw)
    }
    assert(e.getMessage.contains("evolvedAfterSchema"))
  }

  test("crossCollectionOrder: data_collection_order matches the producer stamp; total_order is a dense cross-table rank") {
    val cust = Cdc.changelog(spark, TestSpark.sf)
    val ords = Cdc.ordersChangelog(spark, TestSpark.sf)
    val view = Cdc.crossCollectionOrder(Seq(cust, ords))
    // per-collection rank must agree with the Debezium-exact stamp the
    // orders builder writes (the recompute and the producer share only
    // the contract, not code)
    val stamped = ords.select(
      col("transaction.id").as("tx_id"), lit("orders").as("tbl"),
      col("source.lsn").as("lsn"),
      coalesce(col("after.id"), col("before.id")).as("key"),
      col("transaction.data_collection_order").as("dco"))
    val joined = view.filter(col("tbl") === "orders")
      .join(stamped, Seq("tx_id", "tbl", "lsn", "key"))
    assert(joined.filter(col("data_collection_order") =!= col("dco")).count() === 0)
    assert(joined.count() === ords.count())
    // total_order is dense 1..n within every commit
    val dense = view.groupBy("tx_id").agg(
      count(lit(1)).as("n"), max("total_order").as("m"),
      min("total_order").as("lo"))
    assert(dense.filter(col("n") =!= col("m") || col("lo") =!= 1L).count() === 0)
    // and the two-table commits really interleave: some commit must have
    // an orders event ranked BETWEEN two customers events (the reason the
    // per-collection stamp cannot stand in for the cross-table rank)
    val interleaved = view.groupBy("tx_id").agg(
      max(when(col("tbl") === "customers", col("total_order"))).as("max_c"),
      min(when(col("tbl") === "orders", col("total_order"))).as("min_o"))
      .filter(col("min_o") < col("max_c"))
    assert(interleaved.count() > 0)
  }

  test("crossCollectionOrder ranks a composite (tenant, id) key deterministically — same-lsn events disambiguate on the full tuple") {
    // two logs; the events at lsn 30 differ ONLY in the second key column
    // (id), so a ranker keying on tenant alone would tie nondeterministically
    def log(tbl: String, rows: Seq[(String, Long, Long, String)]) =
      rows.toDF("tenant", "id", "lsn", "op").selectExpr(
        "named_struct('id', concat('tx-', cast(lsn div 100 as string)), " +
          "'total_order', 0L, 'data_collection_order', 0L) AS transaction",
        s"named_struct('lsn', lsn, 'table', '$tbl') AS source",
        "CASE WHEN op <> 'd' THEN named_struct('tenant', tenant, 'id', id) END AS after",
        "CASE WHEN op <> 'c' THEN named_struct('tenant', tenant, 'id', id) END AS before",
        "op")
    val a = log("accounts", Seq(
      ("t1", 2L, 30L, "c"), ("t1", 1L, 30L, "c"), ("t2", 1L, 10L, "c")))
    val b = log("orders", Seq(
      ("t1", 1L, 30L, "d"), ("t1", 3L, 20L, "u")))
    val view = Cdc.crossCollectionOrder(Seq(a, b), Seq("tenant", "id"))
      .orderBy("tx_id", "total_order")
      .select("tx_id", "tbl", "key_tenant", "key_id", "total_order",
        "data_collection_order")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(view === Seq(
      ("tx-0", "accounts", "t2", 1L, 1L, 1L), // lsn 10
      ("tx-0", "orders", "t1", 3L, 2L, 1L),   // lsn 20
      // lsn 30 three-way: tbl asc, then (tenant, id) tuple asc —
      // accounts (t1,1) < accounts (t1,2) < orders (t1,1)
      ("tx-0", "accounts", "t1", 1L, 3L, 2L),
      ("tx-0", "accounts", "t1", 2L, 4L, 3L),
      ("tx-0", "orders", "t1", 1L, 5L, 2L)))
  }

  test("IVM delta-fold: group transfer on update, retraction to absence on delete") {
    val events = Seq(
      ev(1, "c", 10, None, row(1, "a", "x", "e1")),
      ev(2, "c", 20, None, row(2, "a", "x", "e2")),
      // update moves key 2 from group a to group b: -1 to a, +1 to b
      ev(2, "u", 21, row(2, "a", "x", "e2"), row(2, "b", "x", "e2")),
      // update with UNCHANGED group must cancel to a no-op for key 1
      ev(1, "u", 11, row(1, "a", "x", "e1"), row(1, "a", "x", "e1b")),
      ev(3, "c", 30, None, row(3, "c", "x", "e3")),
      // delete retracts group c entirely — net 0 rows must mean ABSENT
      ev(3, "d", 31, row(3, "c", "x", "e3"), None))
    val chg = events.toDS.toDF
    val ivm = Cdc.aggMaintain(chg, _.getField("first_name"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ivm === Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    // delta fold ≡ recompute over the materialized snapshot
    val snap = Cdc.snapshot(chg)
      .groupBy(col("first_name"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
      .orderBy("first_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ivm === snap)
  }

  test("snapshotDiff re-derives the net changelog: c/u/d per key, null-safe compare, untouched keys silent") {
    val prev = Seq(
      (1L, Some("a"), Some("e1")),         // unchanged → no row
      (2L, Some("b"), Some("e2")),         // email changes → u
      (4L, Some("d"), Some("e4")),         // gone in next → d
      (5L, None: Option[String], Some("e5"))) // null fn gains a value → u
      .toDF("id", "fn", "em")
    val next = Seq(
      (1L, Some("a"), Some("e1")),
      (2L, Some("b"), Some("e2x")),
      (3L, Some("c"), Some("e3")),         // born after prev → c
      (5L, Some("z"), Some("e5")))
      .toDF("id", "fn", "em")
    val diff = Cdc.snapshotDiff(prev, next, Seq("id")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(4)),
        Option(r.getString(3)), Option(r.getString(5)))).toSeq
    // (id, op, b_fn, b_em, a_fn, a_em)
    assert(diff === Seq(
      (2L, "u", Some("b"), Some("e2"), Some("b"), Some("e2x")),
      (3L, "c", None, None, Some("c"), Some("e3")),
      (4L, "d", Some("d"), Some("e4"), None, None),
      (5L, "u", None, Some("e5"), Some("z"), Some("e5"))))
    // applying the diff onto prev reproduces next exactly (the producer
    // contract: a downstream replica folding these events converges)
    val applied = prev.join(
        Cdc.snapshotDiff(prev, next, Seq("id")).select("id"),
        Seq("id"), "left_anti")
      .unionByName(
        Cdc.snapshotDiff(prev, next, Seq("id")).filter(col("op") =!= "d")
          .select(col("id"), col("a_fn").as("fn"), col("a_em").as("em")))
      .as[(Long, Option[String], Option[String])].collect().toSet
    assert(applied ===
      next.as[(Long, Option[String], Option[String])].collect().toSet)
  }

  test("C20 replica reconciliation: audit flags exactly the diverged buckets; bucket-restricted repair closes the loop") {
    // upstream truth: 12 creates, updates on ids % 3 == 0, one delete
    val all =
      (1L to 12L).map(id => ev(id, "c", id * 100, None,
        row(id, s"f$id", "l", s"$id@x"))) ++
      Seq(3L, 6L, 9L, 12L).map(id => ev(id, "u", id * 100 + 1,
        row(id, s"f$id", "l", s"$id@x"), row(id, s"F$id", "l", s"$id@x"))) ++
      Seq(ev(9L, "d", 902 + 1, row(9L, "F9", "l", "9@x"), None))
    val chg = all.toDS.toDF
    // the replica's consumer dropped every update event
    val rep = Cdc.snapshot(chg.filter(col("op") =!= "u"))
    val srcState = Cdc.snapshot(chg)
    val nB = 8
    val audit = Cdc.reconcileChecksums(srcState, rep, Seq("id"), nB)
    // diverged keys: 3, 6, 12 (9 was deleted on both sides)
    val bucketOf = (Seq(3L, 6L, 12L).toDF("id")
      .withColumn("b", expr(
        s"CAST(conv(substr(md5(CAST(CAST(id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $nB"))
      .select("b").as[Long].collect().toSet)
    val flagged = audit.filter(!col("is_match")).select("bucket")
      .as[Long].collect().toSet
    assert(flagged === bucketOf)
    // the repair equals the UNRESTRICTED state diff — restriction loses nothing
    val repair = Cdc.repairFromAudit(srcState, rep, audit, Seq("id"), nB)
    val fullDiff = Cdc.snapshotDiff(rep, srcState, Seq("id"))
    assert(repair.orderBy("id").collect().toSeq ===
      fullDiff.orderBy("id").collect().toSeq)
    // applying the repair to the replica reproduces the source exactly
    val repaired = rep.join(repair.select("id"), Seq("id"), "left_anti")
      .unionByName(repair.filter(col("op") =!= "d").select(col("id"),
        col("a_first_name").as("first_name"), col("a_last_name").as("last_name"),
        col("a_email").as("email")))
    assert(repaired.orderBy("id").collect().toSeq ===
      srcState.orderBy("id").collect().toSeq)
    val reAudit = Cdc.reconcileChecksums(srcState, repaired, Seq("id"), nB)
    assert(reAudit.filter(!col("is_match")).count() === 0)
    // a consistent replica audits clean and repairs to zero rows
    val clean = Cdc.reconcileChecksums(srcState, srcState, Seq("id"), nB)
    assert(clean.filter(!col("is_match")).count() === 0)
    assert(Cdc.repairFromAudit(srcState, srcState, clean, Seq("id"), nB)
      .count() === 0)
  }

  test("C23 outbox router: only inserts publish; updates, deletes, and foreign ops are dropped") {
    val rows = Seq(
      ("c", "OrderCreated", 7L, "p1", 10L),
      ("c", "InvoiceIssued", 7L, "p2", 20L),
      ("u", "OrderCreated", 7L, "p1", 30L),   // purge-job touch: dropped
      ("d", "OrderCreated", 7L, "p1", 40L),   // outbox cleanup: dropped
      ("c", "OrderCreated", 9L, "p3", 50L))
    val outbox = rows.toDF("op", "at", "aid", "payload", "lsn")
      .select(col("op"),
        struct(col("at").as("aggregatetype"), col("aid").as("aggregateid"),
          col("payload").as("payload")).as("after"),
        struct(col("lsn").as("lsn")).as("source"))
    val routed = Cdc.outboxRoute(outbox).orderBy("lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(routed.toSeq === Seq(
      ("outbox.event.OrderCreated", "7", "p1", 10L),
      ("outbox.event.InvoiceIssued", "7", "p2", 20L),
      ("outbox.event.OrderCreated", "9", "p3", 50L)))
  }

  test("composite-key SCD2: (tenant, id) histories stay independent; attributes schema-derived; single-key form agrees") {
    // CdcRow has (id, first_name, last_name, email) — reuse first_name as
    // the tenant column for a (first_name, id) composite key
    def ev2(t: String, id: Long, op: String, lsn: Long, em: String): CdcEvent = {
      val img = Some(CdcRow(id, Some(t), Some("l"), Some(em)))
      op match {
        case "c" => CdcEvent(None, img, src(lsn), "c", lsn)
        case "u" => CdcEvent(img, img, src(lsn), "u", lsn)
        case "d" => CdcEvent(img, None, src(lsn), "d", lsn)
      }
    }
    val events = Seq(
      // tenant "a", id 1: two versions then delete
      ev2("a", 1, "c", 100, "e1"),
      ev2("a", 1, "u", 110, "e2"),
      ev2("a", 1, "d", 120, "e2"),
      // tenant "b", SAME id 1: independent history
      ev2("b", 1, "c", 105, "f1"),
      ev2("b", 1, "u", 130, "f2"))
    val chg = events.toDS.toDF
    val hist = Cdc.scd2By(chg, Seq("first_name", "id"))
      .orderBy("first_name", "id", "valid_from")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(5)))
    // attrs derived from schema: last_name then email (id, first_name are keys)
    assert(hist.toSeq === Seq(
      ("a", 1L, 100L, Some(110L), "e1"),
      ("a", 1L, 110L, Some(120L), "e2"),   // closed by the delete
      ("b", 1L, 105L, Some(130L), "f1"),   // NOT closed by tenant a's events
      ("b", 1L, 130L, None, "f2")))
    // key columns keep their own names, as in latestWithTombstonesBy
    assert(Cdc.scd2By(chg, Seq("first_name", "id")).columns.toSeq ===
      Seq("first_name", "id", "valid_from", "valid_to", "last_name", "email"))
    // the single-key form interleaves both tenants into ONE history of id 1
    val single = Cdc.scd2By(chg, Seq("id"))
      .select("id", "valid_from", "valid_to", "first_name", "email")
      .orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3),
        r.getString(4)))
    assert(single.toSeq === Seq(
      (1L, 100L, Some(105L), "a", "e1"),
      (1L, 105L, Some(110L), "b", "f1"),
      (1L, 110L, Some(120L), "a", "e2"),
      (1L, 130L, None, "b", "f2")))
  }

  test("C26 erasure sweep: erased keys lose every PII attribute across their whole history, the log structure survives, and derived stores inherit the redaction") {
    val chg = Cdc.changelog(spark, TestSpark.sf)
    val erased = chg.filter(col("op") === "d")
      .select(coalesce(col("after.id"), col("before.id")).as("id")).distinct()
    val erasedIds = erased.as[Long].collect().toSet
    assert(erasedIds.nonEmpty)
    val swept = Cdc.erasureSweep(chg, erased)
    // structural identity: same cardinality, same lsn multiset — the C24
    // continuity audit sees an unchanged sequence
    assert(swept.count() === chg.count())
    assert(swept.select(col("source.lsn"))
      .except(chg.select(col("source.lsn"))).count() === 0)
    // redacted flag ≡ membership in the erased set, and every flagged row
    // carries zero PII on either image while keeping its key
    assert(swept.filter(col("redacted"))
      .select(coalesce(col("after.id"), col("before.id"))).as[Long]
      .collect().toSet === erasedIds)
    assert(swept.filter(col("redacted")).filter(
      col("before.first_name").isNotNull || col("before.last_name").isNotNull ||
      col("before.email").isNotNull || col("after.first_name").isNotNull ||
      col("after.last_name").isNotNull || col("after.email").isNotNull)
      .count() === 0)
    assert(swept.filter(col("redacted"))
      .filter(coalesce(col("after.id"), col("before.id")).isNull)
      .count() === 0)
    // non-erased rows byte-identical to the original log
    assert(swept.filter(!col("redacted")).drop("redacted")
      .except(chg.filter(!coalesce(col("after.id"), col("before.id"))
        .isin(erasedIds.toSeq: _*))).count() === 0)
    // idempotence: sweeping the swept log changes nothing
    assert(Cdc.erasureSweep(swept.drop("redacted"), erased)
      .except(swept).count() === 0)
    // derived stores inherit: the fixture's erased cohort is delete-final,
    // so the snapshot is unchanged; the SCD2 history keeps its interval
    // structure but carries no attribute values for erased keys
    assert(Cdc.snapshot(swept.drop("redacted"))
      .except(Cdc.snapshot(chg)).count() === 0)
    val histSwept = Cdc.scd2By(swept.drop("redacted"), Seq("id"))
    val histOrig = Cdc.scd2By(chg, Seq("id"))
    assert(histSwept.filter(col("id").isin(erasedIds.toSeq: _*))
      .filter(col("email").isNotNull).count() === 0)
    assert(histSwept.filter(col("id").isin(erasedIds.toSeq: _*)).count() ===
      histOrig.filter(col("id").isin(erasedIds.toSeq: _*)).count())
    assert(histSwept.filter(!col("id").isin(erasedIds.toSeq: _*))
      .except(histOrig.filter(!col("id").isin(erasedIds.toSeq: _*)))
      .count() === 0)
  }

  test("C26 generality: the sweep derives its attribute set from the image schema — an evolved PII column and a differently-shaped composite-key table both redact without a code change") {
    val chg = Cdc.changelog(spark, TestSpark.sf)
    val erased = chg.filter(col("op") === "d")
      .select(coalesce(col("after.id"), col("before.id")).as("id")).distinct()
    val erasedIds = erased.as[Long].collect().toSet
    // SCHEMA EVOLUTION (C15/C16): a `phone` column appears in the
    // envelope after the sweep code was written. A hardcoded attribute
    // list would silently let it survive; the schema-derived sweep must
    // null it for erased keys like any other non-key attribute.
    val evolved = chg
      .withColumn("after", when(col("after").isNotNull, col("after")
        .withField("phone", concat(lit("p-"), col("after.id")))))
      .withColumn("before", when(col("before").isNotNull, col("before")
        .withField("phone", concat(lit("p-"), col("before.id")))))
    val swept = Cdc.erasureSweep(evolved, erased)
    assert(swept.filter(col("redacted")).filter(
      col("after.phone").isNotNull || col("before.phone").isNotNull)
      .count() === 0)
    assert(swept.filter(!col("redacted") && col("after").isNotNull)
      .filter(col("after.phone").isNull).count() === 0)
    // DIFFERENT CAPTURED TABLE (C14): the orders log's image struct
    // (id, custkey, status, total) — matched on the SUBJECT key custkey,
    // record identity (id, custkey) kept, schema-derived attrs nulled.
    val ochg = Cdc.ordersChangelog(spark, TestSpark.sf)
    val erasedCust = erased.select(col("id").as("custkey"))
    val osw = Cdc.erasureSweep(ochg, erasedCust,
      matchCols = Seq("custkey"), keepCols = Some(Seq("id", "custkey")))
    val flagged = osw.filter(col("redacted"))
    assert(flagged.count() > 0)
    assert(flagged.filter(
      col("after.status").isNotNull || col("after.total").isNotNull ||
      col("before.status").isNotNull || col("before.total").isNotNull)
      .count() === 0)
    assert(flagged.filter(col("after").isNotNull)
      .filter(col("after.id").isNull || col("after.custkey").isNull)
      .count() === 0)
    // every flagged row belongs to an erased subject; none missed
    assert(flagged
      .select(coalesce(col("after.custkey"), col("before.custkey")))
      .as[Long].collect().toSet.subsetOf(erasedIds))
    assert(osw.filter(!col("redacted"))
      .filter(coalesce(col("after.custkey"), col("before.custkey"))
        .isin(erasedIds.toSeq: _*)).count() === 0)
  }
}

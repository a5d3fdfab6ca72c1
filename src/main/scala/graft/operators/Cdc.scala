package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Schemas, Staged, Tables}
import graft.sources.LakeFormat

/** CDC core (SURVEY.md §2.2 C1–C8): the capability surface implied by the
  * reference's Debezium envelope stream (ez-cdc `README.md:331`,
  * `python/cdc_test/main.py:39-47`), re-expressed as declarative Spark
  * combinators.
  *
  * The driver fixtures carry no changelog table, so a deterministic one is
  * derived **in-query** from the `customer` parquet — the identical
  * derivation is written as a CTE in each oracle SQL, so Spark and DuckDB
  * materialize byte-identical changelogs with zero side files and no
  * wall-clock/randomness (SURVEY.md §7.4 determinism constraint).
  *
  * Scenario coverage (FIXTURES.md §B): snapshot reads (`op='r'`), inserts,
  * single + double updates per key, deletes, tombstones (null message
  * value), and a second captured table for include-list filtering. The lsn
  * is the total-order key (single-partition topic,
  * `docker-compose.yml:36`).
  *
  * Scale: every operator is key-partitioned — snapshot materialization is a
  * window over the primary key (shards across executors; no global sort);
  * the streaming twin (graft.streaming.CdcStream) keeps per-key state in
  * flatMapGroupsWithState.
  */
object Cdc {
  type Q = (SparkSession, String) => DataFrame

  /** The mutation schedule, keyed on id = c_custkey:
    *   id%10<2 → op 'r' (initial snapshot row), lsn=100·id
    *   else    → op 'c',                        lsn=100·id+1
    *   id%3=0  → op 'u' (email change),         lsn=100·id+2
    *   id%9=0  → op 'u' (first_name change),    lsn=100·id+3
    *   id%7=0  → op 'd',                        lsn=100·id+4
    * source.ts_ms = 1700000000000 + lsn.
    */
  private def base(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("id"),
      lower(col("c_mktsegment")).as("fn0"),
      translate(lower(col("c_name")), "#", "_").as("ln0"),
      concat(translate(lower(col("c_name")), "#", "."), lit("@example.com")).as("em0"))
    .withColumn("em1", concat(lit("upd."), col("em0")))
    .withColumn("fn1", concat(col("fn0"), lit("x")))

  private val nullRow: Column = lit(null).cast(Schemas.rowType)

  private def img(fn: Column, ln: Column, em: Column): Column =
    struct(col("id").as("id"), fn.as("first_name"), ln.as("last_name"), em.as("email"))

  private def source(lsn: Column, snapshot: Column, table: String): Column = struct(
    lit("2.4.2.Final").as("version"), lit("postgresql").as("connector"),
    lit("cdctest").as("name"), (lit(1700000000000L) + lsn).as("ts_ms"),
    snapshot.as("snapshot"), lit("cdctest").as("db"), lit("public").as("schema"),
    lit(table).as("table"), (lsn / 10).cast("long").as("txId"), lsn.as("lsn"),
    lit(null).cast("long").as("xmin"))

  private def event(b: DataFrame, opCode: String, lsn: Column, before: Column,
      after: Column, table: String = "customers"): DataFrame = {
    val snap = if (opCode == "r") lit("true") else lit("false")
    b.select(
      before.as("before"), after.as("after"),
      source(lsn, snap, table).as("source"),
      lit(opCode).as("op"), (lit(1700000000000L) + lsn).as("ts_ms"),
      lit(null).cast(Schemas.transactionType).as("transaction"))
  }

  // opCode is always a literal at the call sites, so the snapshot flag is
  // decided here at plan-build time — a `when(lit("r") === "r", …)` column
  // would be constant-folded anyway but emits a "trivially true equals
  // predicate" WARN per envelope into every driver log
  private def envelope(opCode: String, lsn: Column, before: Column,
      after: Column, table: String = "customers",
      snap: Option[Column] = None): Column = struct(
    before.as("before"), after.as("after"),
    source(lsn,
      snap.getOrElse(lit(if (opCode == "r") "true" else "false")),
      table).as("source"),
    lit(opCode).as("op"), (lit(1700000000000L) + lsn).as("ts_ms"),
    lit(null).cast(Schemas.transactionType).as("transaction"))

  /** The envelope-shaped changelog for the `customers` table (C1's typed
    * output shape; FIXTURES.md §B). Built in a SINGLE parquet scan: each
    * customer expands to its 1–4 events via a null-filtered array explode
    * (vs a 5-way union that re-reads the table five times — at 100 TB the
    * difference is 5 scans vs 1).
    */
  /** NOTE on checkpoint parallelism: the producer's last exchange is
    * small enough at bench scale that AQE folds it to ~one partition and
    * the checkpoint inherits that, serializing every consumer's first
    * stage. Re-partitioning the SHARED staging to the session's shuffle
    * parallelism was tried and rejected by measurement — it fixed the
    * two consumers with heavy per-row work (the evolve queries' JSON
    * synth+parse) but regressed every light consumer with 32-way
    * task-launch overhead (cdc_seq_audit_by 0.69 → 1.89 s standalone).
    * The heavy consumers parallelize their OWN hot input instead
    * ([[cdcSchemaEvolve]]/[[cdcSchemaEvolveTyped]]).
    */
  def changelog(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"cdc_changelog:$dir")(buildChangelog(spark, dir))

  private def buildChangelog(spark: SparkSession, dir: String): DataFrame = {
    val b = base(spark, dir)
    val img0 = img(col("fn0"), col("ln0"), col("em0"))
    val img1 = img(col("fn0"), col("ln0"), col("em1"))
    val img2 = img(col("fn1"), col("ln0"), col("em1"))
    val latest = when(col("id") % 9 === 0, img2)
      .when(col("id") % 3 === 0, img1).otherwise(img0)
    val events = array(
      when(col("id") % 10 < 2, envelope("r", col("id") * 100, nullRow, img0)),
      when(col("id") % 10 >= 2, envelope("c", col("id") * 100 + 1, nullRow, img0)),
      when(col("id") % 3 === 0, envelope("u", col("id") * 100 + 2, img0, img1)),
      when(col("id") % 9 === 0, envelope("u", col("id") * 100 + 3, img1, img2)),
      when(col("id") % 7 === 0, envelope("d", col("id") * 100 + 4, latest, nullRow)))
    val flat = b.select(explode(filter(events, e => e.isNotNull)).as("e")).select("e.*")
    // Populate the Debezium transaction block (README.md:331: {id,
    // total_order, data_collection_order}): synthetic commit batches of 10
    // consecutive keys — tx id = lsn DIV 1000 (lsn = 100·id + k, so one tx
    // spans ids 10t..10t+9); total_order = the event's rank within its
    // commit; data_collection_order equals it (single captured table).
    val wTx = Window.partitionBy(expr("source.lsn DIV 1000"))
      .orderBy(col("source.lsn"))
    flat
      .withColumn("__tord", row_number().over(wTx).cast("long"))
      .withColumn("transaction", struct(
        concat(lit("tx-"), expr("source.lsn DIV 1000").cast("string")).as("id"),
        col("__tord").as("total_order"),
        col("__tord").as("data_collection_order")))
      .drop("__tord")
  }

  /** Oracle-side twin of [[changelog]]: a flat CTE (structs flattened to
    * b_ / a_ prefixed columns) producing identical values in DuckDB.
    */
  val changelogCte: String =
    """WITH base AS (
      | SELECT c_custkey AS id, lower(c_mktsegment) AS fn0,
      |  translate(lower(c_name), '#', '_') AS ln0,
      |  translate(lower(c_name), '#', '.') || '@example.com' AS em0,
      |  'upd.' || translate(lower(c_name), '#', '.') || '@example.com' AS em1,
      |  lower(c_mktsegment) || 'x' AS fn1
      | FROM customer),
      |chg AS (
      | SELECT id, 'r' AS op, id*100 AS lsn, CAST(NULL AS VARCHAR) AS b_fn, CAST(NULL AS VARCHAR) AS b_ln, CAST(NULL AS VARCHAR) AS b_em, fn0 AS a_fn, ln0 AS a_ln, em0 AS a_em FROM base WHERE id % 10 < 2
      | UNION ALL SELECT id, 'c', id*100+1, NULL, NULL, NULL, fn0, ln0, em0 FROM base WHERE id % 10 >= 2
      | UNION ALL SELECT id, 'u', id*100+2, fn0, ln0, em0, fn0, ln0, em1 FROM base WHERE id % 3 = 0
      | UNION ALL SELECT id, 'u', id*100+3, fn0, ln0, em1, fn1, ln0, em1 FROM base WHERE id % 9 = 0
      | UNION ALL SELECT id, 'd', id*100+4,
      |   CASE WHEN id % 9 = 0 THEN fn1 ELSE fn0 END, ln0,
      |   CASE WHEN id % 3 = 0 THEN em1 ELSE em0 END,
      |   NULL, NULL, NULL FROM base WHERE id % 7 = 0)""".stripMargin

  // ---------------------------------------------------------------- C4+C5
  /** Snapshot materialization: fold c/u/d/r into the latest live row per
    * primary key, ordered by source.lsn (C5's total order). Key-partitioned
    * window — the plan shuffles once on the PK and shards at any scale.
    * Library combinator: works on any envelope-shaped DataFrame.
    */
  def snapshot(changelog: DataFrame): DataFrame =
    materializeLatestBy(changelog, Seq("id"))

  val cdcSnapshot: Q = (spark, dir) => snapshot(changelog(spark, dir)).orderBy(col("id"))
  val cdcSnapshotSql: String = changelogCte +
    """
      |SELECT id, a_fn AS first_name, a_ln AS last_name, a_em AS email
      |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn FROM chg)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY id""".stripMargin

  // ------------------------------------------------------------------- C2
  /** Route events by op code (the filter/tag split a consumer applies). */
  def opRoute(changelog: DataFrame): DataFrame =
    changelog.groupBy(col("op")).agg(count(lit(1)).as("n"))

  val cdcOpRoute: Q = (spark, dir) => opRoute(changelog(spark, dir)).orderBy(col("op"))
  val cdcOpRouteSql: String = changelogCte +
    "\nSELECT op, CAST(count(*) AS BIGINT) AS n FROM chg GROUP BY 1 ORDER BY 1"

  // ------------------------------------------------------------------- C6
  /** Changed-column set per update — the computation REPLICA IDENTITY FULL
    * exists to enable (`init.sql:9-10`). Null-safe comparison (<=>).
    */
  def beforeAfterDiff(changelog: DataFrame): DataFrame = {
    def changed(field: String): Column =
      when(!(col(s"before.$field") <=> col(s"after.$field")), lit(field))
    changelog.filter(col("op") === "u")
      .select(col("after.id").as("id"), col("source.lsn").as("lsn"),
        concat_ws(",", changed("first_name"), changed("last_name"), changed("email"))
          .as("changed_cols"))
  }

  val cdcDiff: Q = (spark, dir) => beforeAfterDiff(changelog(spark, dir)).orderBy(col("id"), col("lsn"))
  val cdcDiffSql: String = changelogCte +
    """
      |SELECT id, lsn, concat_ws(',',
      |  CASE WHEN b_fn IS DISTINCT FROM a_fn THEN 'first_name' END,
      |  CASE WHEN b_ln IS DISTINCT FROM a_ln THEN 'last_name' END,
      |  CASE WHEN b_em IS DISTINCT FROM a_em THEN 'email' END) AS changed_cols
      |FROM chg WHERE op = 'u' ORDER BY id, lsn""".stripMargin

  // ---------------------------------------------------------------- C1+C8
  /** Envelope JSON parse (C1) with tombstone guard (C8): serialize the
    * changelog to self-describing JSON strings (R4's wire format), inject
    * null-value tombstones after each delete (Debezium emits (key, null)
    * for log compaction), then parse back with the explicit envelope
    * schema — the null guard mirrors `main.py:42` (`if value:`).
    */
  def parseEnvelope(raw: DataFrame): DataFrame =
    raw.filter(col("value").isNotNull)
      .select(from_json(col("value"), Schemas.envelopeType).as("e"))

  val cdcParseEnvelope: Q = (spark, dir) => {
    val wire = changelog(spark, dir)
      .select(to_json(struct(col("before"), col("after"), col("source"),
        col("op"), col("ts_ms"), col("transaction"))).as("value"),
        col("after.id").as("k"))
    val tombstones = wire.filter(col("value").contains("\"op\":\"d\""))
      .select(lit(null).cast("string").as("value"), col("k"))
    parseEnvelope(wire.unionByName(tombstones))
      .select(coalesce(col("e.after.id"), col("e.before.id")).as("id"),
        col("e.op").as("op"), col("e.source.lsn").as("lsn"),
        col("e.after.email").as("email"))
      .orderBy(col("id"), col("lsn"))
  }
  val cdcParseEnvelopeSql: String = changelogCte +
    "\nSELECT id, op, lsn, a_em AS email FROM chg ORDER BY id, lsn"

  // ------------------------------------------------------------------- C5
  /** Per-key ordering stats over the lsn total order (max_by = the
    * "latest event wins" primitive).
    */
  def changeOrdering(changelog: DataFrame): DataFrame =
    changelog
      .withColumn("key", coalesce(col("after.id"), col("before.id")))
      .groupBy(col("key").as("id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("source.lsn")).as("first_lsn"),
        max(col("source.lsn")).as("last_lsn"),
        max_by(col("op"), col("source.lsn")).as("last_op"))

  val cdcOrdering: Q = (spark, dir) => changeOrdering(changelog(spark, dir)).orderBy(col("id"))
  val cdcOrderingSql: String = changelogCte +
    """
      |SELECT id, CAST(count(*) AS BIGINT) AS n_events, min(lsn) AS first_lsn,
      | max(lsn) AS last_lsn, arg_max(op, lsn) AS last_op
      |FROM chg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- C7+C8
  /** Include-list table filter (`customers_conf.json:12` semantics) over a
    * multi-table stream: nation-table events are interleaved, then filtered
    * out by source.table before the per-op count.
    */
  val cdcTableFilter: Q = (spark, dir) => {
    val n = Tables.nation(spark, dir).select(
      col("n_nationkey").cast("long").as("id"),
      lower(col("n_name")).as("fn0"), lit("n").as("ln0"), lit("n@x").as("em0"))
    val nationEvents = event(n, "c", lit(9000000L) + col("id"), nullRow,
      img(col("fn0"), col("ln0"), col("em0")), table = "nations")
    changelog(spark, dir).unionByName(nationEvents)
      .filter(col("source.table") === "customers")
      .groupBy(col("op")).agg(count(lit(1)).as("n"))
      .orderBy(col("op"))
  }
  // After the include-list filter the nation events vanish → same as opRoute.
  val cdcTableFilterSql: String = cdcOpRouteSql

  // ------------------------------------------------------------- SCD2 form
  /** Slowly-changing-dimension type-2 history: every row version with its
    * validity interval [valid_from, valid_to) in lsn order; open versions
    * have valid_to NULL; deletes close the last interval without opening a
    * new one. The other classic CDC materialization besides latest-state
    * (C4) — "maintaining data replicas" per the reference's motivation
    * (README.md:56-63).
    *
    * Keyed by the FULL key tuple (the C17 discipline: every fold takes
    * `Seq[String]` keys), key columns under their own names as in
    * [[latestWithTombstonesBy]]; the tracked attributes are every
    * non-key after-image field, schema-derived — callers project the
    * ones they need (one version row per event either way). One window
    * over the key tuple: one keyed shuffle.
    */
  def scd2By(changelog: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd2By needs at least one key column")
    val attrs = changelog.select(col("after.*")).columns.toSeq
      .filterNot(keyCols.contains)
    val keyed = changelog.select(keyCols.map(k =>
        coalesce(col(s"after.`$k`"), col(s"before.`$k`")).as(k)) ++
      Seq(col("op"), col("source.lsn").as("lsn")) ++
      attrs.map(a => col(s"after.`$a`").as(a)): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("lsn").asc)
    keyed
      .withColumn("valid_to", lead(col("lsn"), 1).over(w))
      .filter(col("op") =!= "d")
      .select(keyCols.map(col) ++
        Seq(col("lsn").as("valid_from"), col("valid_to")) ++
        attrs.map(col): _*)
  }

  /** Point-in-time read over an SCD2 history: the table's state as of
    * `asOfLsn` is the version row whose interval covers it — one
    * FILTER over the history, no changelog re-fold. This is why SCD2
    * is kept at all: any historical state is a predicate, and with the
    * history in a lake table the filter composes with file-stats
    * pruning. Interval semantics make the boundary exact: a version
    * created AT the cutoff is visible, a delete AT the cutoff has
    * already closed its interval (matching C4's fold, where the delete
    * wins at its own lsn).
    */
  def scd2AsOf(history: DataFrame, asOfLsn: Column): DataFrame =
    history
      .filter(col("valid_from") <= asOfLsn &&
        (col("valid_to").isNull || col("valid_to") > asOfLsn))
      .drop("valid_from", "valid_to")

  val cdcScd2: Q = (spark, dir) =>
    scd2By(changelog(spark, dir), Seq("id"))
      .orderBy(col("id"), col("valid_from"))
  val cdcScd2Sql: String = changelogCte +
    """
      |SELECT id, valid_from, valid_to, first_name, last_name, email FROM (
      | SELECT id, op, lsn AS valid_from,
      |  lead(lsn, 1) OVER (PARTITION BY id ORDER BY lsn) AS valid_to,
      |  a_fn AS first_name, a_ln AS last_name, a_em AS email
      | FROM chg)
      |WHERE op <> 'd'
      |ORDER BY id, valid_from""".stripMargin

  /** C21 — the SCD2 time-travel contract as an oracle query: the state
    * the history reports at a mid-stream cutoff must equal the C4
    * snapshot fold of the changelog truncated at that cutoff. The
    * oracle computes the truncated fold directly; Spark travels through
    * the history — agreement proves interval semantics carry exactly
    * the information the fold does.
    */
  val cdcScd2AsOf: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val cutoff = chg.agg(expr("max(source.lsn) * 6 DIV 10").as("cutoff"))
    scd2AsOf(
      scd2By(chg, Seq("id")).crossJoin(broadcast(cutoff)),
      col("cutoff"))
      .drop("cutoff")
      .orderBy(col("id"))
  }
  val cdcScd2AsOfSql: String = changelogCte +
    """,
      |cut AS (SELECT (max(lsn) * 6) // 10 AS cutoff FROM chg)
      |SELECT id, a_fn AS first_name, a_ln AS last_name, a_em AS email
      |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |      FROM chg, cut WHERE lsn <= cutoff)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY id""".stripMargin

  // ----------------------------------- C23 outbox event router
  /** The transactional-outbox router (Debezium's outbox event router
    * SMT, the public pattern for exactly-once domain events): the
    * application INSERTs one row per domain event into an outbox table
    * inside its business transaction; CDC captures that table; the
    * router turns each INSERT envelope into a publishable record —
    * topic derived from `aggregatetype`, partition key from
    * `aggregateid` (all events of one aggregate stay ordered on one
    * partition), value = the payload verbatim. Everything that is NOT
    * an outbox insert is dropped: updates/deletes to the outbox table
    * (housekeeping jobs purging published rows) must not re-publish —
    * the SMT's documented behavior. Pure per-row projection + filter:
    * embarrassingly parallel, runs identically inside foreachBatch.
    */
  def outboxRoute(outbox: DataFrame,
      topicPrefix: String = "outbox.event"): DataFrame =
    outbox.filter(col("op") === "c")
      .select(
        concat(lit(topicPrefix + "."), col("after.aggregatetype")).as("topic"),
        col("after.aggregateid").cast("string").as("key"),
        col("after.payload").as("value"),
        col("source.lsn").as("lsn"))

  /** C23 query: an outbox changelog synthesized from `orders` — one
    * insert per order (aggregate type from the status, aggregate id =
    * the customer, payload a deterministic string), plus one UPDATE
    * per `% 5 == 0` order (the purge job's touch) that the router must
    * drop. Routed records hash-exact.
    */
  val cdcOutboxRoute: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val after = struct(
      col("o_orderkey").as("id"),
      when(col("o_orderstatus") === "O", lit("OrderCreated"))
        .when(col("o_orderstatus") === "P", lit("OrderPending"))
        .otherwise(lit("OrderFulfilled")).as("aggregatetype"),
      col("o_custkey").as("aggregateid"),
      concat(lit("order-"), col("o_orderkey"),
        lit(":cents-"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("payload"))
    val inserts = o.select(
      lit("c").as("op"), after.as("after"),
      struct((col("o_orderkey") * 10).as("lsn")).as("source"))
    val purges = o.filter(col("o_orderkey") % 5 === 0).select(
      lit("u").as("op"), after.as("after"),
      struct((col("o_orderkey") * 10 + 1).as("lsn")).as("source"))
    outboxRoute(inserts.unionByName(purges)).orderBy(col("lsn"))
  }
  val cdcOutboxRouteSql: String =
    """SELECT 'outbox.event.' ||
      |  CASE o_orderstatus WHEN 'O' THEN 'OrderCreated'
      |   WHEN 'P' THEN 'OrderPending' ELSE 'OrderFulfilled' END AS topic,
      | CAST(o_custkey AS VARCHAR) AS "key",
      | 'order-' || o_orderkey || ':cents-' ||
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS "value",
      | o_orderkey * 10 AS lsn
      |FROM orders ORDER BY lsn""".stripMargin

  // ---------------------- C22 temporal dimension join (SCD2 consumer)
  /** The Kimball type-2 dimension join — the reason warehouses keep
    * SCD2 at all: each fact row joins the dimension VERSION that was
    * valid at the fact's own time, so last year's order reports last
    * year's customer attributes. Equi-key (custkey = id) plus the
    * interval containment as a join residual: Catalyst plans the
    * equi-key join (sort-merge / shuffled-hash — never a cartesian)
    * and evaluates the range predicate on matched pairs; intervals are
    * disjoint per key, so each fact matches AT MOST one version and
    * the left join preserves fact cardinality exactly (facts dated
    * before the key's first version or after its delete carry null
    * attributes — visible history, not an error). Synthetic fact time:
    * `custkey·100 + orderkey % 7` lands orders across the customer's
    * whole lsn range, exercising before-create, every version, and
    * after-delete.
    */
  val cdcScd2Join: Q = (spark, dir) => {
    val hist = scd2By(changelog(spark, dir), Seq("id"))
      .select(col("id"), col("valid_from"), col("valid_to"), col("email"))
    val facts = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("orderkey"),
        col("o_custkey").as("custkey"))
      .withColumn("flsn", col("custkey") * 100 + col("orderkey") % 7)
    facts.join(hist,
        facts("custkey") === hist("id") &&
          col("flsn") >= col("valid_from") &&
          (col("valid_to").isNull || col("flsn") < col("valid_to")),
        "left")
      .select(col("orderkey"), col("custkey"), col("flsn"), col("email"))
      .orderBy(col("orderkey"))
  }
  val cdcScd2JoinSql: String = changelogCte +
    """,
      |hist AS (SELECT id, valid_from, valid_to, email FROM (
      | SELECT id, op, lsn AS valid_from,
      |  lead(lsn, 1) OVER (PARTITION BY id ORDER BY lsn) AS valid_to,
      |  a_em AS email
      | FROM chg) WHERE op <> 'd')
      |SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      | o_custkey * 100 + o_orderkey % 7 AS flsn, email
      |FROM orders LEFT JOIN hist
      | ON o_custkey = hist.id
      | AND o_custkey * 100 + o_orderkey % 7 >= valid_from
      | AND (valid_to IS NULL OR o_custkey * 100 + o_orderkey % 7 < valid_to)
      |ORDER BY orderkey""".stripMargin

  // ------------------------------------------------- transaction blocks
  /** Per-transaction atomic change sets: group envelope events by
    * `transaction.id`, order within the group by `transaction.total_order`
    * (README.md:331) — the view a consumer needs to apply a commit's rows
    * together instead of event-by-event. Key-partitioned groupBy: shards
    * by transaction at any scale.
    */
  def txBlocks(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(col("transaction.id").as("tx_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("source.lsn")).as("first_lsn"),
        max(col("source.lsn")).as("last_lsn"),
        countDistinct(coalesce(col("after.id"), col("before.id"))).as("n_keys"),
        expr("""array_join(transform(array_sort(
          collect_list(struct(transaction.total_order AS o, op AS op))),
          x -> x.op), ',')""").as("ops"))

  val cdcTxBlocks: Q = (spark, dir) =>
    txBlocks(changelog(spark, dir)).orderBy(col("tx_id"))
  // total_order ranks by lsn, so the oracle's ORDER BY lsn is the same order
  val cdcTxBlocksSql: String = changelogCte +
    """
      |SELECT 'tx-' || CAST(lsn // 1000 AS VARCHAR) AS tx_id,
      | CAST(count(*) AS BIGINT) AS n_events, min(lsn) AS first_lsn,
      | max(lsn) AS last_lsn, CAST(count(DISTINCT id) AS BIGINT) AS n_keys,
      | string_agg(op, ',' ORDER BY lsn) AS ops
      |FROM chg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Transactionally consistent snapshot: materialize only COMPLETE
    * transactions whose last event is at or below the cutoff lsn — a
    * commit is applied atomically or not at all, never half (the guarantee
    * a replica consumer needs when reading mid-stream). The cutoff is
    * supplied as a 1-row broadcast so the whole operator stays one
    * declarative plan.
    */
  def txConsistentSnapshot(changelog: DataFrame, cutoff: DataFrame): DataFrame = {
    val wTx = Window.partitionBy(col("transaction.id"))
    val complete = changelog
      .withColumn("__tx_last", max(col("source.lsn")).over(wTx))
      .crossJoin(broadcast(cutoff))
      .filter(col("__tx_last") <= col("cutoff"))
      .drop("__tx_last", "cutoff")
    snapshot(complete)
  }

  val cdcTxSnapshot: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    // deterministic mid-stream cutoff: 60% of the max lsn
    val cutoff = chg.agg(expr("max(source.lsn) * 6 DIV 10").as("cutoff"))
    txConsistentSnapshot(chg, cutoff).orderBy(col("id"))
  }
  val cdcTxSnapshotSql: String = changelogCte +
    """,
      |txl AS (SELECT *, max(lsn) OVER (PARTITION BY lsn // 1000) AS tx_last FROM chg),
      |cut AS (SELECT (max(lsn) * 6) // 10 AS cutoff FROM chg)
      |SELECT id, a_fn AS first_name, a_ln AS last_name, a_em AS email
      |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |      FROM txl, cut WHERE tx_last <= cutoff)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY id""".stripMargin

  // ------------------------------- C19 snapshot diff → changelog export
  /** Snapshot DIFF → changelog re-derivation (the replica as a
    * PRODUCER): given the same table's materialized snapshot at two
    * points, re-derive the net change events between them — `c` for
    * keys born after the first, `d` for keys gone by the second, `u`
    * for keys whose image changed (null-safe per column), no row for
    * untouched keys. This closes the CDC loop in the producing
    * direction: a consumer that materializes snapshots can re-publish
    * a downstream changelog (the re-emission half of the Debezium
    * ecosystem the reference sits in) without access to the upstream
    * WAL, at the cost of collapsing intermediate states — the NET
    * diff, the same semantics as an incremental-snapshot chunk. The
    * output's `b_`/`a_` columns are exactly the envelope's
    * before/after images, so `CdcSources.envelopeWire` can serialize
    * the result straight back onto the wire.
    *
    * Scale: one full outer join keyed by PK — each side shuffles once
    * (two [[graft.sources.LakeFormat.readAsOf]] versions of one lake
    * table diff the same way), and the per-column null-safe comparison
    * is codegen'd row work. Nothing concentrates; nothing is driver-side.
    */
  def snapshotDiff(prev: DataFrame, next: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = next.columns.filterNot(keys.contains).toSeq
    val p = prev.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"b_$c")) :+ lit(1).as("__p"): _*)
    val n = next.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"a_$c")) :+ lit(1).as("__n"): _*)
    val changed = dataCols.map(c => !(col(s"b_$c") <=> col(s"a_$c")))
      .reduce(_ || _)
    p.join(n, keys, "full")
      .withColumn("op",
        when(col("__p").isNull, lit("c"))
          .when(col("__n").isNull, lit("d"))
          .when(changed, lit("u")))
      .filter(col("op").isNotNull)
      .drop("__p", "__n")
      .select(keys.map(col) ++ (col("op") +:
        dataCols.flatMap(c => Seq(col(s"b_$c"), col(s"a_$c")))): _*)
  }

  val cdcSnapshotDiff: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    // the replica as of 60% of the stream vs the final replica — the
    // same deterministic mid-stream cutoff idiom as cdc_tx_snapshot
    val cutoff = chg.agg(expr("max(source.lsn) * 6 DIV 10").as("cutoff"))
    val prev = snapshot(
      chg.crossJoin(broadcast(cutoff))
        .filter(col("source.lsn") <= col("cutoff")).drop("cutoff"))
    snapshotDiff(prev, snapshot(chg), Seq("id")).orderBy(col("id"))
  }
  val cdcSnapshotDiffSql: String = changelogCte +
    """,
      |cut AS (SELECT (max(lsn) * 6) // 10 AS cutoff FROM chg),
      |snap1 AS (SELECT id, a_fn, a_ln, a_em
      | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |       FROM chg, cut WHERE lsn <= cutoff)
      | WHERE rn = 1 AND op <> 'd'),
      |snap2 AS (SELECT id, a_fn, a_ln, a_em
      | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |       FROM chg)
      | WHERE rn = 1 AND op <> 'd')
      |SELECT coalesce(p.id, n.id) AS id,
      | CASE WHEN p.id IS NULL THEN 'c' WHEN n.id IS NULL THEN 'd'
      |  WHEN p.a_fn IS DISTINCT FROM n.a_fn OR p.a_ln IS DISTINCT FROM n.a_ln
      |   OR p.a_em IS DISTINCT FROM n.a_em THEN 'u' END AS op,
      | p.a_fn AS b_first_name, n.a_fn AS a_first_name,
      | p.a_ln AS b_last_name, n.a_ln AS a_last_name,
      | p.a_em AS b_email, n.a_em AS a_email
      |FROM snap1 p FULL JOIN snap2 n ON p.id = n.id
      |WHERE CASE WHEN p.id IS NULL THEN 'c' WHEN n.id IS NULL THEN 'd'
      |  WHEN p.a_fn IS DISTINCT FROM n.a_fn OR p.a_ln IS DISTINCT FROM n.a_ln
      |   OR p.a_em IS DISTINCT FROM n.a_em THEN 'u' END IS NOT NULL
      |ORDER BY id""".stripMargin

  /** Re-wrap a [[snapshotDiff]] result as a minimal envelope-shaped
    * changelog (before/after structs, op, source.lsn) — the b_/a_
    * columns ARE the envelope images, so the exported diff feeds every
    * downstream consumer in this library (C4 folds, keyed stores,
    * gates) unchanged: a replica can CHAIN from another replica's
    * export with no upstream WAL access. Debezium conventions kept:
    * inserts carry null `before`, deletes null `after`.
    */
  def diffAsChangelog(diff: DataFrame, keys: Seq[String],
      lsn: Column): DataFrame = {
    val dataCols = diff.columns.filter(_.startsWith("b_"))
      .map(_.stripPrefix("b_")).toSeq
    val beforeS = struct(keys.map(col) ++
      dataCols.map(c => col(s"b_$c").as(c)): _*)
    val afterS = struct(keys.map(col) ++
      dataCols.map(c => col(s"a_$c").as(c)): _*)
    diff.select(
      when(col("op") === "c", lit(null)).otherwise(beforeS).as("before"),
      when(col("op") === "d", lit(null)).otherwise(afterS).as("after"),
      struct(lsn.cast("long").as("lsn")).as("source"),
      col("op"))
  }

  // --------------------------- C20 replica reconciliation (audit + repair)
  /** Order-independent bucket checksums over a materialized state — the
    * replica-verification half of the CDC contract ("maintaining data
    * replicas", reference README.md:62-63): a consumer that folds the
    * changelog can silently diverge from the source (dropped events,
    * torn restore, operator error), and the only scalable detector is a
    * checksum pass, not a row-level compare. The pt-table-checksum /
    * data-validation shape: each row canonicalizes to one string (null
    * sentinel, '|' separators), hashes to a 60-bit integer (15 md5 hex
    * digits — DuckDB-portable, XOR-safe under BIGINT), and buckets by an
    * md5 hash of its key; per bucket the engine keeps only a row count
    * and the XOR of the row hashes. XOR is commutative/associative, so
    * the aggregation is map-side combined and partition-order
    * independent — at 100 TB the pass is one full scan with an
    * nBuckets-row shuffle, and the comparison with the source's
    * checksum table moves nBuckets rows per side, not the tables.
    */
  def bucketChecksums(state: DataFrame, keys: Seq[String],
      nBuckets: Int): DataFrame = {
    val dataCols = state.columns.toSeq
    val canon = concat_ws("|",
      dataCols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    val keyCanon = concat_ws("|", keys.map(c => col(c).cast("string")): _*)
    state
      .withColumn("__kc", keyCanon)
      .withColumn("__canon", canon)
      .withColumn("bucket", expr(
        s"CAST(conv(substr(md5(CAST(__kc AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $nBuckets"))
      .withColumn("__h", expr(
        "CAST(conv(substr(md5(CAST(__canon AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("checksum"))
  }

  /** Audit a replica against the source of truth: full outer join of the
    * two nBuckets-row checksum tables → per bucket, both row counts and
    * a match verdict. A bucket differing in ANY row (content or
    * presence) mismatches: the XOR of 60-bit md5 hashes only collides if
    * the differing rows' hashes cancel exactly. Buckets absent on one
    * side read as 0 rows (a replica missing a whole key range still
    * audits, it doesn't NPE).
    */
  def reconcileChecksums(src: DataFrame, replica: DataFrame,
      keys: Seq[String], nBuckets: Int): DataFrame =
    reconcileChecksumTables(
      bucketChecksums(src, keys, nBuckets),
      bucketChecksums(replica, keys, nBuckets))

  /** The comparison half alone, over two PRECOMPUTED checksum tables
    * (bucket, n_rows, checksum) — the shape the continuous audit (T24)
    * needs, where the source side arrives as published data rather
    * than being recomputed from a local copy of the source.
    */
  def reconcileChecksumTables(srcCs: DataFrame,
      repCs: DataFrame): DataFrame = {
    val s = srcCs
      .withColumnRenamed("n_rows", "src_rows")
      .withColumnRenamed("checksum", "src_sum")
    val r = repCs
      .withColumnRenamed("n_rows", "rep_rows")
      .withColumnRenamed("checksum", "rep_sum")
    s.join(r, Seq("bucket"), "full")
      .select(col("bucket"),
        coalesce(col("src_rows"), lit(0L)).as("src_rows"),
        coalesce(col("rep_rows"), lit(0L)).as("rep_rows"),
        (coalesce(col("src_rows"), lit(0L)) === coalesce(col("rep_rows"), lit(0L)) &&
          col("src_sum") <=> col("rep_sum")).as("is_match"))
  }

  private def withAuditBucket(df: DataFrame, keys: Seq[String],
      nBuckets: Int): DataFrame =
    df.withColumn("__kc",
        concat_ws("|", keys.map(c => col(c).cast("string")): _*))
      .withColumn("bucket", expr(
        s"CAST(conv(substr(md5(CAST(__kc AS BINARY)), 1, 8), 16, 10) AS BIGINT) % $nBuckets"))
      .drop("__kc")

  /** The repair half: restrict BOTH states to the audit's mismatched
    * buckets (a tiny bucket-id list, broadcast), then compute the exact
    * per-key repair events with [[snapshotDiff]]. This is the chunked
    * re-sync pattern: the row-level compare — the expensive part — scans
    * only divergent buckets, so a replica that is 99.9% consistent
    * repairs by reading 0.1% of the keyspace instead of re-snapshotting
    * the table. The emitted diff rewraps via [[diffAsChangelog]] and
    * folds back through C4, which is how the spec closes the loop
    * (replica + repair ≡ source).
    */
  def repairFromAudit(src: DataFrame, replica: DataFrame, audit: DataFrame,
      keys: Seq[String], nBuckets: Int): DataFrame = {
    val bad = audit.filter(!col("is_match")).select(col("bucket"))
    def restrict(df: DataFrame): DataFrame =
      withAuditBucket(df, keys, nBuckets)
        .join(broadcast(bad), Seq("bucket"), "left_semi")
        .drop("bucket")
    snapshotDiff(restrict(replica), restrict(src), keys)
  }

  /** C20 audit query: the replica lost every second-update event (op='u'
    * at lsn ≡ 3 mod 100 — a consumer outage window), so keys with id % 9
    * = 0 that survive to the final state diverge. 16-bucket audit; the
    * oracle recomputes both folds, both checksum tables, and the
    * verdicts — counts, XORs, and booleans all hash-exact cross-engine.
    */
  val cdcReplicaAudit: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val lost = chg.filter(!(col("op") === "u" && col("source.lsn") % 100 === 3))
    reconcileChecksums(snapshot(chg), snapshot(lost), Seq("id"), 16)
      .orderBy(col("bucket"))
  }
  private def auditCs(src: String): String =
    s"""SELECT bucket, CAST(count(*) AS BIGINT) AS n, bit_xor(h) AS s FROM (
       | SELECT CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS bucket,
       |  CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '|' ||
       |    coalesce(a_fn, chr(1)) || '|' || coalesce(a_ln, chr(1)) || '|' ||
       |    coalesce(a_em, chr(1))), 1, 15)) AS BIGINT) AS h
       | FROM $src) GROUP BY 1""".stripMargin
  val cdcReplicaAuditSql: String = changelogCte +
    s""",
       |snap_src AS (SELECT id, a_fn, a_ln, a_em
       | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
       |       FROM chg)
       | WHERE rn = 1 AND op <> 'd'),
       |snap_rep AS (SELECT id, a_fn, a_ln, a_em
       | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
       |       FROM chg WHERE NOT (op = 'u' AND lsn % 100 = 3))
       | WHERE rn = 1 AND op <> 'd'),
       |cs_src AS (${auditCs("snap_src")}),
       |cs_rep AS (${auditCs("snap_rep")})
       |SELECT coalesce(s.bucket, r.bucket) AS bucket,
       | coalesce(s.n, 0) AS src_rows, coalesce(r.n, 0) AS rep_rows,
       | (coalesce(s.n, 0) = coalesce(r.n, 0)
       |   AND s.s IS NOT DISTINCT FROM r.s) AS is_match
       |FROM cs_src s FULL JOIN cs_rep r ON s.bucket = r.bucket
       |ORDER BY bucket""".stripMargin

  /** C20 repair query: the exact per-key repair events for the audit
    * scenario above, computed only over mismatched buckets. Every repair
    * here is an update (the lost events were updates), and the oracle is
    * the UNRESTRICTED fold-vs-fold diff — equality proves the bucket
    * restriction loses nothing.
    */
  val cdcReplicaRepair: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val lost = chg.filter(!(col("op") === "u" && col("source.lsn") % 100 === 3))
    val src = snapshot(chg)
    val rep = snapshot(lost)
    val audit = reconcileChecksums(src, rep, Seq("id"), 16)
    repairFromAudit(src, rep, audit, Seq("id"), 16).orderBy(col("id"))
  }
  val cdcReplicaRepairSql: String = changelogCte +
    """,
      |snap_src AS (SELECT id, a_fn, a_ln, a_em
      | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |       FROM chg)
      | WHERE rn = 1 AND op <> 'd'),
      |snap_rep AS (SELECT id, a_fn, a_ln, a_em
      | FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |       FROM chg WHERE NOT (op = 'u' AND lsn % 100 = 3))
      | WHERE rn = 1 AND op <> 'd')
      |SELECT coalesce(p.id, n.id) AS id,
      | CASE WHEN p.id IS NULL THEN 'c' WHEN n.id IS NULL THEN 'd'
      |  WHEN p.a_fn IS DISTINCT FROM n.a_fn OR p.a_ln IS DISTINCT FROM n.a_ln
      |   OR p.a_em IS DISTINCT FROM n.a_em THEN 'u' END AS op,
      | p.a_fn AS b_first_name, n.a_fn AS a_first_name,
      | p.a_ln AS b_last_name, n.a_ln AS a_last_name,
      | p.a_em AS b_email, n.a_em AS a_email
      |FROM snap_rep p FULL JOIN snap_src n ON p.id = n.id
      |WHERE CASE WHEN p.id IS NULL THEN 'c' WHEN n.id IS NULL THEN 'd'
      |  WHEN p.a_fn IS DISTINCT FROM n.a_fn OR p.a_ln IS DISTINCT FROM n.a_ln
      |   OR p.a_em IS DISTINCT FROM n.a_em THEN 'u' END IS NOT NULL
      |ORDER BY id""".stripMargin

  // ------------------------------- C14 multi-table consistent snapshot
  /** Envelope changelog for a SECOND captured table (`orders`), with
    * transactions SHARED with the customers changelog: order events for
    * customer c take lsns inside c's centi-block — lsn = 100·c + 5 + 3·(
    * o_orderkey % 30) + j, j ∈ {0 create, 1 update, 2 delete} — so j stays
    * ≤ 99 and every orders event lands in the same `lsn DIV 1000` commit
    * as its customer's events. That is exactly how a real WAL looks: one
    * transaction UPDATEs a customer and INSERTs their orders, and Debezium
    * stamps both tables' envelopes with the same transaction id
    * (the multi-topic shape ez-cdc's include-list points at,
    * `customers_conf.json:12`). Two orders of one customer may collide on
    * an lsn (distinct PKs, so no fold is affected); each ORDER's own
    * events stay strictly ordered by construction.
    *
    * Schedule, keyed on o_orderkey: create for every order; status update
    * for o_orderkey % 4 = 0; delete for o_orderkey % 9 = 0.
    */
  def ordersChangelog(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"cdc_changelog_orders:$dir")(buildOrdersChangelog(spark, dir))

  private def buildOrdersChangelog(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(spark, dir).select(
      col("o_orderkey").as("id"), col("o_custkey").as("ck"),
      lower(col("o_orderstatus")).as("st0"),
      round(col("o_totalprice"), 2).as("total"))
    def img(status: Column): Column = struct(col("id").as("id"),
      col("ck").as("custkey"), status.as("status"), col("total").as("total"))
    val nullImg = lit(null).cast(
      "struct<id:bigint,custkey:bigint,status:string,total:double>")
    val lsn0 = col("ck") * 100 + 5 + (col("id") % 30) * 3
    def oenv(opCode: String, lsn: Column, before: Column, after: Column): Column =
      struct(before.as("before"), after.as("after"),
        source(lsn, lit("false"), "orders").as("source"),
        lit(opCode).as("op"), (lit(1700000000000L) + lsn).as("ts_ms"))
    val latest = when(col("id") % 4 === 0, img(lit("shipped"))).otherwise(img(col("st0")))
    val events = array(
      oenv("c", lsn0, nullImg, img(col("st0"))),
      when(col("id") % 4 === 0, oenv("u", lsn0 + 1, img(col("st0")), img(lit("shipped")))),
      when(col("id") % 9 === 0, oenv("d", lsn0 + 2, latest, nullImg)))
    val flat = b.select(explode(filter(events, e => e.isNotNull)).as("e")).select("e.*")
    // Per-COLLECTION rank (the id tiebreak keeps it deterministic under
    // colliding lsns): data_collection_order is Debezium-exact; total_order
    // is set to the same per-collection value, NOT the true
    // cross-collection rank — computing that would make each table's
    // builder scan the other table (the orders-per-customer distribution
    // is data-dependent, no closed formula). Consumers that need the
    // global commit order key on (transaction.id, source.lsn), which IS
    // that order — the C14 cutoff, gate, and folds all do — or recompute
    // the Debezium cross-collection rank via crossCollectionOrder.
    val wTx = Window.partitionBy(expr("source.lsn DIV 1000"))
      .orderBy(col("source.lsn"), coalesce(col("after.id"), col("before.id")))
    flat
      .withColumn("__tord", row_number().over(wTx).cast("long"))
      .withColumn("transaction", struct(
        concat(lit("tx-"), expr("source.lsn DIV 1000").cast("string")).as("id"),
        col("__tord").as("total_order"),
        col("__tord").as("data_collection_order")))
      .drop("__tord")
  }

  /** Oracle-side twin of [[ordersChangelog]] (flat CTE named `ochg`),
    * shared by every oracle that replays the orders log. Declared before
    * first use — object vals initialize in declaration order.
    */
  val ordersChangelogCte: String =
    """ochg AS (
      | SELECT o_orderkey AS oid, o_custkey AS ck, 'c' AS op,
      |   100*o_custkey + 5 + 3*(o_orderkey % 30) AS lsn,
      |   lower(o_orderstatus) AS status, round(o_totalprice, 2) AS total
      | FROM orders
      | UNION ALL SELECT o_orderkey, o_custkey, 'u',
      |   100*o_custkey + 6 + 3*(o_orderkey % 30), 'shipped', round(o_totalprice, 2)
      |  FROM orders WHERE o_orderkey % 4 = 0
      | UNION ALL SELECT o_orderkey, o_custkey, 'd',
      |   100*o_custkey + 7 + 3*(o_orderkey % 30), NULL, NULL
      |  FROM orders WHERE o_orderkey % 9 = 0)""".stripMargin

  /** Debezium-exact CROSS-COLLECTION transaction order, computed where it
    * belongs — in the consumer, over the UNION of every captured table's
    * log (the fixture producer stamps `transaction.total_order` with the
    * per-collection rank because the true cross-collection rank has no
    * closed per-table formula — [[ordersChangelog]] documents why). One
    * key-partitioned window per rank, both sharing the transaction-id
    * shuffle: `total_order` ranks a commit's events across ALL
    * collections and `data_collection_order` within the event's own
    * collection (`README.md:331` names both fields), ordered by
    * (lsn, table, key) — lsn IS the WAL order; the (table, key) tiebreak
    * only disambiguates the fixture's documented same-lsn order pairs,
    * deterministically. Returns the projected consumer view
    * (tx_id, lsn, tbl, key, op, total_order, data_collection_order);
    * join back on (tx_id, tbl, lsn, key) to re-stamp full envelopes.
    *
    * COMPOSITE keys (the C17 generality, extended to the ranker): pass
    * the full key tuple as `keyCols` — each key column is taken from the
    * after-image with before-image fallback (exactly the fold's key
    * extraction) and the tiebreak orders by the WHOLE tuple, so two
    * same-lsn events of one table differing only in a later key column
    * still rank deterministically. A single-column key keeps the
    * historical `key` output column; a composite key emits one
    * `key_<col>` column per key column.
    */
  def crossCollectionOrder(logs: Seq[DataFrame],
      keyCols: Seq[String] = Seq("id")): DataFrame = {
    require(keyCols.nonEmpty, "crossCollectionOrder needs at least one key column")
    val keyNames =
      if (keyCols.sizeIs == 1) Seq("key") else keyCols.map(k => s"key_$k")
    val uni = logs.map(l => l.select(Seq(
        col("transaction.id").as("tx_id"),
        col("source.lsn").as("lsn"),
        col("source.table").as("tbl")) ++
      keyCols.zip(keyNames).map { case (k, n) =>
        coalesce(col(s"after.`$k`"), col(s"before.`$k`")).as(n) } :+
      col("op"): _*)).reduce(_ unionByName _)
    val keyRefs = keyNames.map(col)
    val wTx = Window.partitionBy(col("tx_id"))
      .orderBy(col("lsn") +: col("tbl") +: keyRefs: _*)
    val wCol = Window.partitionBy(col("tx_id"), col("tbl"))
      .orderBy(col("lsn") +: keyRefs: _*)
    uni
      .withColumn("total_order", row_number().over(wTx).cast("long"))
      .withColumn("data_collection_order", row_number().over(wCol).cast("long"))
  }

  /** Registered query: per-transaction blocks over the customers+orders
    * union with the TRUE cross-collection total_order — the C14 sibling
    * of [[cdcTxBlocks]]. The `ops` string concatenates `table:op` in
    * total_order rank order, so the oracle value-checks the full
    * cross-collection permutation of every commit, not just counts.
    */
  val cdcTxTotalOrder: Q = (spark, dir) =>
    crossCollectionOrder(Seq(changelog(spark, dir), ordersChangelog(spark, dir)))
      .groupBy(col("tx_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("tbl")).as("n_tables"),
        expr("""array_join(transform(array_sort(
          collect_list(struct(total_order AS o, concat(tbl, ':', op) AS t))),
          x -> x.t), ',')""").as("ops"))
      .orderBy(col("tx_id"))
  val cdcTxTotalOrderSql: String = changelogCte + ",\n" +
    ordersChangelogCte + """,
      |uni AS (
      | SELECT lsn // 1000 AS txn, lsn, 'customers' AS tbl, id AS key, op FROM chg
      | UNION ALL SELECT lsn // 1000, lsn, 'orders', oid, op FROM ochg),
      |ranked AS (SELECT *, row_number()
      |  OVER (PARTITION BY txn ORDER BY lsn, tbl, key) AS tord FROM uni)
      |SELECT 'tx-' || CAST(txn AS VARCHAR) AS tx_id,
      | CAST(count(*) AS BIGINT) AS n_events,
      | CAST(count(DISTINCT tbl) AS BIGINT) AS n_tables,
      | string_agg(tbl || ':' || op, ',' ORDER BY tord) AS ops
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** C10 extended across tables: a commit is applied to EVERY captured
    * table or to none. The per-tx high-water lsn is computed over the
    * UNION of all logs' (transaction.id, lsn) pairs, and each log keeps
    * only events of transactions fully at-or-below the cutoff — so a
    * transaction torn by the cutoff in ANY table disappears from ALL of
    * them, which is the invariant a replica consumer needs before it may
    * join the two materialized tables (a half-applied commit would join a
    * new order against a pre-commit customer row).
    *
    * ORDERING CONTRACT for cross-collection consumers: order a commit's
    * events by `(transaction.id, source.lsn)` — which IS the global
    * commit order (everything here does: this cutoff, the T12 gate, the
    * C4 folds). The producer-stamped `transaction.total_order` carries
    * only the per-collection rank (`ordersChangelog` documents why); a
    * consumer that needs the Debezium cross-collection total_order
    * recomputes it over the union via [[crossCollectionOrder]]
    * (oracle-checked by `cdc_tx_total_order`).
    *
    * Scale: the tx-last table is data-proportional (one row per commit),
    * so it is NOT broadcast — each log filters through a left-semi join
    * keyed on transaction id, the same keyed-shuffle shape as the
    * snapshot fold that follows.
    */
  def multiTableCompleteTx(logs: Seq[DataFrame], cutoff: DataFrame): Seq[DataFrame] = {
    val txLast = logs
      .map(_.select(col("transaction.id").as("__tx"), col("source.lsn").as("__lsn")))
      .reduce(_ unionAll _)
      .groupBy(col("__tx")).agg(max(col("__lsn")).as("__last"))
    val complete = txLast.crossJoin(broadcast(cutoff))
      .filter(col("__last") <= col("cutoff"))
      .select(col("__tx"))
    logs.map(log =>
      log.join(complete, log("transaction.id") === complete("__tx"), "left_semi"))
  }

  /** Latest live row per key for ANY envelope changelog, keyed by a
    * COMPOSITE primary key — the multi-tenant `(tenant_id, id)` shape any
    * real deployment hits (the reference's table has a single serial PK,
    * `init.sql:3`: [[snapshot]] is this at `Seq("id")`). The live rows of
    * [[latestWithTombstonesBy]]: key columns first, then every non-key
    * after-image field. One window partitioned by the full key tuple —
    * the shuffle keys on all columns at once, so cardinality and skew
    * behavior only improve vs a single column.
    */
  def materializeLatestBy(changelog: DataFrame, keyCols: Seq[String]): DataFrame =
    latestWithTombstonesBy(changelog, keyCols).filter(col("live"))
      .drop("live", "lsn")

  /** Winner per composite key INCLUDING tombstones, for ANY
    * envelope-shaped frame — the mergeable shape
    * [[graft.sources.LakeFormat.merge]] folds across micro-batches: a
    * delete must retain its winning lsn so a redelivered older update
    * cannot resurrect the row. Output:
    * key columns (top level), `live`, `lsn`, then every non-key
    * after-image field, schema-derived. The newest-per-key fold
    * ([[graft.sources.LakeFormat.newestPerKey]] by lsn) of
    * [[eventsWithTombstonesBy]].
    */
  def latestWithTombstonesBy(changelog: DataFrame,
      keyCols: Seq[String]): DataFrame =
    LakeFormat.newestPerKey(eventsWithTombstonesBy(changelog, keyCols),
      keyCols.map(col), col("lsn").desc)

  /** One row per envelope in the [[latestWithTombstonesBy]] shape
    * (key columns, `live`, `lsn`, after-image), for ANY envelope-shaped
    * frame and composite key — unfolded: [[graft.sources.LakeFormat.merge]]
    * folds any number of rows per key against the stored rows in its own
    * window, so a sink hands it this projection and skips a fold (and
    * its shuffle) of its own.
    */
  def eventsWithTombstonesBy(changelog: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "CDC key folds need at least one key column")
    val valueFields = changelog.select("after.*").columns
      .filterNot(keyCols.contains)
    changelog.select(keyCols.map(k =>
        coalesce(col(s"after.`$k`"), col(s"before.`$k`")).as(k)) ++
      Seq((col("op") =!= "d").as("live"), col("source.lsn").as("lsn")) ++
      valueFields.map(f => col(s"after.`$f`").as(f)): _*)
  }

  /** Registered composite-key query: the orders changelog folded by
    * (custkey, id) — a two-column key (partition key + PK, the
    * multi-tenant layout). Every order's events carry the same custkey,
    * so the fold result equals the single-key fold; what the oracle
    * value-checks is that the two-column window partitions correctly
    * (a key-tuple bug would merge different orders of one customer or
    * split one order's events).
    */
  val cdcSnapshotComposite: Q = (spark, dir) =>
    materializeLatestBy(ordersChangelog(spark, dir), Seq("custkey", "id"))
      .select(col("custkey"), col("id").as("orderkey"),
        col("status"), col("total"))
      .orderBy(col("custkey"), col("orderkey"))
  val cdcSnapshotCompositeSql: String =
    """WITH """ + ordersChangelogCte + """
      |SELECT ck AS custkey, oid AS orderkey, status, total
      |FROM (SELECT *, row_number()
      |        OVER (PARTITION BY ck, oid ORDER BY lsn DESC) AS rn
      |      FROM ochg)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY custkey, orderkey""".stripMargin

  /** Registered query: transaction-consistent snapshot of customers AND
    * orders at one cutoff, then the replica-side join. Deleted customers
    * drop their orders from the join (inner — a replica FK lookup).
    */
  val cdcMultitableSnapshot: Q = (spark, dir) => {
    val cust = changelog(spark, dir)
    val ords = ordersChangelog(spark, dir)
    val cutoff = cust.select(col("source.lsn").as("lsn"))
      .unionAll(ords.select(col("source.lsn").as("lsn")))
      .agg(expr("max(lsn) * 6 DIV 10").as("cutoff"))
    val Seq(custC, ordsC) = multiTableCompleteTx(Seq(cust, ords), cutoff)
    val snapC = snapshot(custC)
    val snapO = materializeLatestBy(ordsC, Seq("id"))
    snapO.select(col("id").as("orderkey"), col("custkey"),
        col("status"), col("total"))
      .join(snapC.select(col("id").as("custkey"), col("first_name"), col("email")),
        "custkey")
      .select(col("orderkey"), col("custkey"), col("first_name"), col("email"),
        col("status"), col("total"))
      .orderBy(col("orderkey"))
  }
  val cdcMultitableSnapshotSql: String = changelogCte + ",\n" +
    ordersChangelogCte + """,
      |alltx AS (SELECT lsn // 1000 AS tx, lsn FROM chg
      |          UNION ALL SELECT lsn // 1000, lsn FROM ochg),
      |cut AS (SELECT (max(lsn) * 6) // 10 AS cutoff FROM alltx),
      |txlast AS (SELECT tx, max(lsn) AS tx_last FROM alltx GROUP BY 1),
      |ctx AS (SELECT tx FROM txlast, cut WHERE tx_last <= cutoff),
      |snap_c AS (SELECT * FROM (
      |  SELECT id, op, a_fn, a_em,
      |   row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |  FROM chg WHERE lsn // 1000 IN (SELECT tx FROM ctx)) WHERE rn = 1 AND op <> 'd'),
      |snap_o AS (SELECT * FROM (
      |  SELECT oid, ck, op, status, total,
      |   row_number() OVER (PARTITION BY oid ORDER BY lsn DESC) AS rn
      |  FROM ochg WHERE lsn // 1000 IN (SELECT tx FROM ctx)) WHERE rn = 1 AND op <> 'd')
      |SELECT o.oid AS orderkey, o.ck AS custkey, c.a_fn AS first_name,
      | c.a_em AS email, o.status, o.total
      |FROM snap_o o JOIN snap_c c ON o.ck = c.id
      |ORDER BY orderkey""".stripMargin

  // -------------------------------------------------------- change-rate
  /** Operational monitoring: change volume per op per source-commit hour —
    * the first query anyone points at a CDC stream.
    */
  val cdcRate: Q = (spark, dir) =>
    changelog(spark, dir)
      .groupBy((col("source.ts_ms") / lit(3600000L)).cast("long").as("hour_bucket"),
        col("op"))
      .agg(count(lit(1)).as("n"),
        countDistinct(coalesce(col("after.id"), col("before.id"))).as("n_keys"))
      .orderBy(col("hour_bucket"), col("op"))
  val cdcRateSql: String = changelogCte +
    """
      |SELECT CAST((1700000000000 + lsn) // 3600000 AS BIGINT) AS hour_bucket, op,
      | CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT id) AS BIGINT) AS n_keys
      |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- C9 dead-letter routing
  /** Malformed-envelope routing: a real Kafka topic carries raw value
    * bytes, and a consumer must not die on an unparsable record (the
    * reference's consumer would — `main.py:43` json.loads with no guard).
    * [[deadLetterRoute]] parses raw JSON against the envelope schema and
    * routes rows: parse success → `ok` with extracted fields, failure →
    * `dead` with the raw payload retained for replay. Pure per-row
    * expression work (from_json + md5) — embarrassingly parallel at any
    * scale, no shuffle until a consumer aggregates.
    *
    * The oracle-checked query derives raw value strings in-query (manual
    * concat — portable, unlike engine-specific to_json field ordering) and
    * corrupts every lsn % 13 == 0 record by truncation; both engines see
    * byte-identical strings, so md5(raw) hash-matches.
    */
  def deadLetterRoute(raw: DataFrame): DataFrame = {
    // PERMISSIVE from_json yields a null-FIELD struct on malformed input
    // (never a null struct), so routing keys off the corrupt-record column
    val parsed = from_json(col("raw"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "op STRING, lsn BIGINT, after STRUCT<id: BIGINT, email: STRING>, _corrupt STRING"),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
    raw.select(
      md5(col("raw").cast("binary")).as("raw_md5"),
      when(parsed.getField("_corrupt").isNotNull, "dead").otherwise("ok").as("route"),
      when(parsed.getField("_corrupt").isNotNull, lit(null).cast("long"))
        .otherwise(parsed.getField("lsn")).as("lsn"))
  }

  val cdcDeadletter: Q = (spark, dir) => {
    val raw0 = changelog(spark, dir).select(
      col("source.lsn").as("gen_lsn"),
      concat(
        lit("{\"op\":\""), col("op"),
        lit("\",\"lsn\":"), col("source.lsn").cast("string"),
        lit(",\"after\":"),
        when(col("after").isNull, lit("null")).otherwise(concat(
          lit("{\"id\":"), col("after.id").cast("string"),
          lit(",\"email\":\""), col("after.email"), lit("\"}"))),
        lit("}")).as("raw"))
    val corrupted = raw0.select(
      when(pmod(col("gen_lsn"), lit(13)) === 0,
        col("raw").substr(lit(1), length(col("raw")) - 3))
        .otherwise(col("raw")).as("raw"))
    deadLetterRoute(corrupted).orderBy(col("raw_md5"))
  }
  val cdcDeadletterSql: String = changelogCte +
    """,
      |raw0 AS (
      | SELECT lsn AS gen_lsn,
      |  '{"op":"' || op || '","lsn":' || lsn || ',"after":' ||
      |  CASE WHEN a_em IS NULL THEN 'null'
      |       ELSE '{"id":' || id || ',"email":"' || a_em || '"}' END ||
      |  '}' AS raw
      | FROM chg),
      |c AS (SELECT CASE WHEN gen_lsn % 13 = 0
      |  THEN substr(raw, 1, length(raw) - 3) ELSE raw END AS raw FROM raw0)
      |SELECT md5(raw) AS raw_md5,
      | CASE WHEN json_valid(raw) THEN 'ok' ELSE 'dead' END AS route,
      | CASE WHEN json_valid(raw) THEN CAST(json_extract(raw, '$.lsn') AS BIGINT)
      |      ELSE NULL END AS lsn
      |FROM c ORDER BY raw_md5""".stripMargin

  // -------------------------------------- incremental snapshot (Debezium)
  /** Changelog with interleaved INCREMENTAL-snapshot windows — the
    * `snapshot='incremental'` member of the envelope enum
    * (`README.md:331`: allowed `true,last,false,incremental`): a chunked
    * re-read of existing rows running concurrently with live capture
    * (Debezium's DDD-3 signal-based snapshot). Two synthetic chunks:
    *
    *  - chunk A (keys id%10=0): read EARLY — emits the post-insert image at
    *    lsn 100·id+1, BELOW any later live update/delete for the key, so
    *    the fold must let live changes win over the stale snapshot row;
    *  - chunk B (keys id%10=5, still live): read LATE — re-emits the
    *    current image at lsn 100·id+10, above the key's live events, so
    *    the fold must be idempotent under re-snapshot. Deleted keys are
    *    never re-emitted (an incremental snapshot only reads existing
    *    rows — re-emitting one would resurrect the delete).
    *
    * Because every snapshot event carries its read-time lsn, C4's
    * last-writer-wins-by-lsn fold is already correct under arbitrary
    * interleaving: [[cdcIncrSnapshot]] proves the extended fold equals the
    * plain [[cdcSnapshot]] state.
    */
  def incrementalChangelog(spark: SparkSession, dir: String): DataFrame =
    Staged(spark, s"cdc_changelog_incr:$dir")({
      val b = base(spark, dir)
      val img0 = img(col("fn0"), col("ln0"), col("em0"))
      val img1 = img(col("fn0"), col("ln0"), col("em1"))
      val img2 = img(col("fn1"), col("ln0"), col("em1"))
      val latest = when(col("id") % 9 === 0, img2)
        .when(col("id") % 3 === 0, img1).otherwise(img0)
      val incrSnap = Some(lit("incremental"): Column)
      val events = array(
        when(col("id") % 10 === 0,
          envelope("r", col("id") * 100 + 1, nullRow, img0, snap = incrSnap)),
        when(col("id") % 10 === 5 && col("id") % 7 =!= 0,
          envelope("r", col("id") * 100 + 10, nullRow, latest, snap = incrSnap)))
      changelog(spark, dir).unionByName(
        b.select(explode(filter(events, e => e.isNotNull)).as("e")).select("e.*"))
    })

  /** Fold over the incremental-snapshot-extended changelog; `src_snapshot`
    * records which rows were last served by the incremental re-read vs live
    * events. The (id, name, email) state must hash-match [[cdcSnapshot]]'s.
    */
  val cdcIncrSnapshot: Q = (spark, dir) => {
    val keyed = incrementalChangelog(spark, dir)
      .withColumn("key", coalesce(col("after.id"), col("before.id")))
    LakeFormat.newestPerKey(keyed, Seq(col("key")), col("source.lsn").desc)
      .filter(col("op") =!= "d")
      .select(col("key").as("id"), col("after.first_name"),
        col("after.last_name"), col("after.email"),
        col("source.snapshot").as("src_snapshot"))
      .orderBy(col("id"))
  }
  val cdcIncrSnapshotSql: String = changelogCte +
    """,
      |incr AS (
      | SELECT id, 'r' AS op, id*100+1 AS lsn, fn0 AS a_fn, ln0 AS a_ln, em0 AS a_em
      | FROM base WHERE id % 10 = 0
      | UNION ALL SELECT id, 'r', id*100+10,
      |  CASE WHEN id % 9 = 0 THEN fn1 ELSE fn0 END, ln0,
      |  CASE WHEN id % 3 = 0 THEN em1 ELSE em0 END
      | FROM base WHERE id % 10 = 5 AND id % 7 <> 0),
      |all_chg AS (
      | SELECT id, op, lsn, a_fn, a_ln, a_em,
      |  CASE WHEN op = 'r' THEN 'true' ELSE 'false' END AS snapshot FROM chg
      | UNION ALL
      | SELECT id, op, lsn, a_fn, a_ln, a_em, 'incremental' FROM incr)
      |SELECT id, a_fn AS first_name, a_ln AS last_name, a_em AS email,
      | snapshot AS src_snapshot
      |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |      FROM all_chg)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY id""".stripMargin

  // --------------------------------------------- C13 TOAST reconstruction
  /** Debezium "unavailable value" (Postgres TOAST) reconstruction: when a
    * captured table's REPLICA IDENTITY is not FULL, an UPDATE that leaves
    * a TOASTed column untouched ships the placeholder string
    * `__debezium_unavailable_value` instead of the real (large) value, and
    * the consumer must re-hydrate it from the key's last known value.
    * (ez-cdc sets REPLICA IDENTITY FULL — `init.sql:10` — precisely to
    * dodge this; a replica pipeline on the default identity hits it on the
    * first TOASTed update.)
    *
    * [[toastFill]] carries each listed column's last known value forward
    * per key in lsn order. Genuine NULLs are preserved — they travel as a
    * tag through the ignoreNulls carry instead of being skipped — and a
    * delete resets the carry (state after a delete is "no row", so a
    * post-delete placeholder must not resurrect pre-delete data). A key
    * whose FIRST event already carries the placeholder stays null:
    * unknowable without a re-snapshot.
    *
    * Scale: one key-partitioned running window (shards by key exactly like
    * C4); everything else is per-row expression work.
    */
  val toastSentinel = "__debezium_unavailable_value"

  def toastFill(changelog: DataFrame, cols: Seq[String],
      sentinel: String = toastSentinel): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("source.lsn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyed = changelog
      .withColumn("key", coalesce(col("after.id"), col("before.id")))
    val filled = cols.foldLeft(keyed) { (df, c) =>
      val v = col(s"after.$c")
      // placeholder → null (skipped by the ignoreNulls carry); anything
      // else → a one-field struct, so a genuine null (incl. the null
      // after-image of a delete) travels as struct(null) — a NON-null
      // tag — and overwrites the carry. Structural, not in-band: a real
      // column value can never collide with the tag (the old '<<NULL>>'
      // string marker would have been silently rewritten to null).
      val tagged = when(v === sentinel, lit(null)).otherwise(struct(v.as("v")))
      val carried = last(tagged, ignoreNulls = true).over(w)
      df.withColumn(c, carried.getField("v"))
        .withColumn(s"${c}_was_toast", coalesce(v === sentinel, lit(false)))
    }
    filled.select(Seq(col("key").as("id"), col("source.lsn").as("lsn"),
      col("op")) ++ cols.flatMap(c => Seq(col(c), col(s"${c}_was_toast"))): _*)
  }

  /** Registered query: simulate default replica identity by replacing
    * `after.last_name` with the placeholder on every update (the fixture's
    * updates never change last_name — exactly the unchanged-TOAST shape),
    * then reconstruct it. The oracle replays the corruption AND the fill.
    */
  val cdcToastFill: Q = (spark, dir) => {
    val corrupted = changelog(spark, dir).withColumn("after",
      col("after").withField("last_name",
        when(col("op") === "u", lit(toastSentinel))
          .otherwise(col("after.last_name"))))
    toastFill(corrupted, Seq("last_name"))
      .withColumnRenamed("last_name_was_toast", "was_toast")
      .orderBy(col("id"), col("lsn"))
  }
  val cdcToastFillSql: String = changelogCte +
    s""",
      |corr AS (SELECT id, op, lsn,
      |  CASE WHEN op = 'u' THEN '$toastSentinel' ELSE a_ln END AS a_ln_t
      | FROM chg),
      |f AS (SELECT id, op, lsn,
      |  last_value(CASE WHEN a_ln_t = '$toastSentinel' THEN NULL
      |                  ELSE struct_pack(v := a_ln_t) END IGNORE NULLS)
      |    OVER (PARTITION BY id ORDER BY lsn
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried,
      |  coalesce(a_ln_t = '$toastSentinel', false) AS was_toast
      | FROM corr)
      |SELECT id, lsn, op,
      | carried.v AS last_name,
      | was_toast
      |FROM f ORDER BY id, lsn""".stripMargin

  // ------------------------------------------------- schema-change drift
  /** Distinct payload shapes per table: the sorted field set of each
    * event's `after` object (extracted from the raw wire JSON — the
    * self-describing schema the reference consumer discards, `main.py:43`)
    * with its first-seen lsn and event count.
    *
    * Scale: the per-event key extraction is pure expression work; the
    * groupBy collapses to (#tables × #schema-versions) rows via map-side
    * combine BEFORE any window runs, so the drift window below never sees
    * more than a handful of rows per table — no hot-table skew.
    */
  def payloadSchemaVersions(raw: DataFrame): DataFrame =
    raw.select(col("tbl"), col("lsn"),
      array_join(array_sort(json_object_keys(
        get_json_object(col("raw"), "$.after"))), ",").as("fields"))
      .groupBy(col("tbl"), col("fields"))
      .agg(min(col("lsn")).as("since_lsn"), count(lit(1)).as("n_events"))

  /** Drift report: one row per schema version per table, with the columns
    * added/removed vs the previous version — the alert a replica pipeline
    * pages on when upstream DDL lands. Version boundaries are first-seen
    * lsns (assumes monotone schema evolution within a capture window; a
    * revert A→B→A folds into its first run).
    */
  def schemaDriftReport(versions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl")).orderBy(col("since_lsn"))
    def delta(a: Column, b: Column): Column =
      array_join(array_sort(array_except(split(a, ","), split(b, ","))), ",")
    versions
      .withColumn("prev_fields", lag(col("fields"), 1).over(w))
      .select(col("tbl"), col("since_lsn"), col("n_events"), col("fields"),
        col("prev_fields"),
        when(col("prev_fields").isNull, col("fields"))
          .otherwise(delta(col("fields"), col("prev_fields"))).as("added"),
        when(col("prev_fields").isNull, lit(""))
          .otherwise(delta(col("prev_fields"), col("fields"))).as("removed"))
  }

  /** Registered drift query: wire JSON derived in-query (portable manual
    * concat, as in [[cdcDeadletter]]) with two DDL events at 50% / 80% of
    * the lsn range — `phone` added, then `last_name` dropped.
    */
  val cdcSchemaDrift: Q = (spark, dir) => {
    val chg = changelog(spark, dir).filter(col("op") =!= "d")
    val cuts = chg.agg(expr("max(source.lsn) * 5 DIV 10").as("c1"),
      expr("max(source.lsn) * 8 DIV 10").as("c2"))
    def obj(parts: Column*): Column = concat(
      lit("{\"id\":") +: col("after.id").cast("string") +: parts :+ lit("\"}"): _*)
    val fnEm = Seq(
      lit(",\"first_name\":\""), col("after.first_name"),
      lit("\",\"email\":\""), col("after.email"))
    val ln = Seq(lit("\",\"last_name\":\""), col("after.last_name"))
    val phone = Seq(lit("\",\"phone\":\"555-0100"))
    val raw = chg.crossJoin(broadcast(cuts)).select(
      lit("customers").as("tbl"), col("source.lsn").as("lsn"),
      concat(lit("{\"op\":\""), col("op"), lit("\",\"after\":"),
        when(col("source.lsn") >= col("c2"), obj(fnEm ++ phone: _*))
          .when(col("source.lsn") >= col("c1"), obj(fnEm ++ ln ++ phone: _*))
          .otherwise(obj(fnEm ++ ln: _*)),
        lit("}")).as("raw"))
    schemaDriftReport(payloadSchemaVersions(raw))
      .orderBy(col("tbl"), col("since_lsn"))
  }
  val cdcSchemaDriftSql: String = changelogCte +
    """,
      |cuts AS (SELECT (max(lsn)*5)//10 AS c1, (max(lsn)*8)//10 AS c2 FROM chg),
      |raw AS (
      | SELECT 'customers' AS tbl, lsn,
      |  '{"op":"' || op || '","after":' ||
      |  CASE
      |   WHEN lsn >= c2 THEN '{"id":' || id || ',"first_name":"' || a_fn ||
      |     '","email":"' || a_em || '","phone":"555-0100"}'
      |   WHEN lsn >= c1 THEN '{"id":' || id || ',"first_name":"' || a_fn ||
      |     '","email":"' || a_em || '","last_name":"' || a_ln || '","phone":"555-0100"}'
      |   ELSE '{"id":' || id || ',"first_name":"' || a_fn ||
      |     '","email":"' || a_em || '","last_name":"' || a_ln || '"}'
      |  END || '}' AS raw
      | FROM chg, cuts WHERE op <> 'd'),
      |keyed AS (SELECT tbl, lsn,
      |  array_to_string(list_sort(json_keys(raw, '$.after')), ',') AS fields FROM raw),
      |versions AS (SELECT tbl, fields, min(lsn) AS since_lsn,
      |  CAST(count(*) AS BIGINT) AS n_events FROM keyed GROUP BY 1, 2),
      |drift AS (SELECT tbl, since_lsn, n_events, fields,
      |  lag(fields) OVER (PARTITION BY tbl ORDER BY since_lsn) AS prev_fields
      | FROM versions)
      |SELECT tbl, since_lsn, n_events, fields, prev_fields,
      | CASE WHEN prev_fields IS NULL THEN fields
      |  ELSE coalesce(array_to_string(list_sort(list_filter(string_split(fields, ','),
      |    x -> NOT list_contains(string_split(prev_fields, ','), x))), ','), '') END AS added,
      | CASE WHEN prev_fields IS NULL THEN ''
      |  ELSE coalesce(array_to_string(list_sort(list_filter(string_split(prev_fields, ','),
      |    x -> NOT list_contains(string_split(fields, ','), x))), ','), '') END AS removed
      |FROM drift ORDER BY tbl, since_lsn""".stripMargin

  // ------------------------------------------ C15 schema-evolution APPLY
  /** Widened after-image schema derived from the OBSERVED payload shapes —
    * the detect step ([[payloadSchemaVersions]]) feeding the apply step:
    * the union of every field set any envelope carried, so a reader built
    * from it parses v1 and v2 (and vN) messages alike, with absent fields
    * surfacing as null. This is exactly why the reference keeps the
    * envelope self-describing (ez-cdc README.md:331 — the schema rides
    * with every message): consumers evolve without coordination.
    *
    * The driver materialization is bounded by construction: one row per
    * (table, schema-version), i.e. #tables × #DDL-changes — the IVF
    * sample-fit class, never data-proportional. Fields type as wire
    * strings except the key (long) — the shape-only form; for
    * type-carrying envelopes use [[typedSchemaFromWire]], which reads the
    * per-field types the wire transmits and widens them across versions.
    */
  /** Session-scoped memo of DERIVED READER SCHEMAS keyed by the wire
    * stream's canonicalized plan — the schema-registry discipline: a
    * consumer derives (or fetches) the reader schema once per stream
    * vintage, not once per query execution. Both detect passes
    * ([[evolvedAfterSchema]], [[typedSchemaFromWire]]) are pure
    * functions of the deterministic stream, and each costs a full
    * changelog scan + JSON shape extraction (~0.5 s at sf0.1) that the
    * evolve queries re-paid at every construction. Same lifecycle as
    * [[graft.Staged]]: per live session, first derivation pays inside
    * its timed window, stopped sessions evicted opportunistically.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
      org.apache.spark.sql.types.StructType]
  private def memoSchema(raw: DataFrame, tag: String)(
      derive: => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    schemaCache.filterInPlace { case ((s, _, _), _) =>
      !s.sparkContext.isStopped }
    // the CANONICALIZED PLAN OBJECT is the key (structural equality —
    // for a LocalRelation that includes the rows themselves; its
    // toString does NOT, which would alias different literal tables)
    val key = (raw.sparkSession, tag,
      raw.queryExecution.logical.canonicalized)
    schemaCache.getOrElseUpdate(key, derive)
  }

  /** MEMOIZATION CONTRACT (applies to [[typedSchemaFromWire]] too): the
    * per-session cache keys on the CANONICALIZED LOGICAL PLAN, and
    * Spark's file-relation equality is by root path, not contents — so
    * for a PATH-backed stream the memo assumes the path's data is
    * immutable for the session's lifetime (true of every fixture and of
    * the epoch-dir store convention, where new data means a NEW path).
    * A consumer re-deriving the reader schema after appending to the
    * SAME path — i.e. mid-stream DDL on a mutable location — must call
    * [[evolvedAfterSchemaUncached]] / [[typedSchemaFromWireUncached]],
    * which recompute unconditionally.
    */
  def evolvedAfterSchema(raw: DataFrame,
      keyField: String = "id"): org.apache.spark.sql.types.StructType =
    memoSchema(raw, s"shape|$keyField")(
      evolvedAfterSchemaUncached(raw, keyField))

  /** Uncached [[evolvedAfterSchema]] — for mutable-path streams whose
    * contents may have changed since the last derivation. */
  def evolvedAfterSchemaUncached(raw: DataFrame,
      keyField: String = "id"): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val shapes = payloadSchemaVersions(raw)
      .select(col("fields")).na.drop().distinct()
      .collect().map(_.getString(0))
    val fields = shapes.filter(_.nonEmpty).flatMap(_.split(","))
      .distinct.sorted
    fields.foldLeft(new StructType()) { (st, f) =>
      st.add(f, if (f == keyField) LongType else StringType)
    }
  }

  /** TYPED widened schema from the envelope's SELF-DESCRIBING schema
    * object — the reason the reference's wire format carries a `schema`
    * block with every message (ez-cdc README.md:331 declares `id: int32`,
    * `first_name: string`, … per message): a consumer can type its reader
    * without a registry round-trip. `raw` must carry a `raw` column whose
    * JSON has a top-level `{"schema":{"fields":[{"field":…,"type":…}…]}}`
    * (Kafka-Connect JSON-converter shape). Each message's declared
    * (field, type) pairs are aggregated DISTRIBUTED-side down to one row
    * per field with its distinct wire-type set (bounded by #fields ×
    * #DDL-changes — the one-row-per-schema-version class), then widened
    * on the driver with numeric precedence:
    *
    *  - int8/int16/int32 < int64 (a column ALTERed int→bigint types as
    *    long, and pre-DDL int values fold into it losslessly);
    *  - float < double; an int/float mix widens to double (the Debezium
    *    converter's own promotion — possible precision loss at the 2^53
    *    boundary is upstream's contract, not introduced here);
    *  - any disagreement involving a non-numeric type falls back to
    *    string (the value is preserved verbatim; nothing is dropped).
    *
    * Unknown wire types (bytes, logical decimals, …) type as string —
    * conservative, lossless, and explicit here rather than failing the
    * reader mid-stream.
    */
  private val intWire = Map("int8" -> 1, "int16" -> 2, "int32" -> 3, "int64" -> 4)
  private def wireToSpark(w: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    w match {
      case "int8" | "int16" | "int32" => IntegerType
      case "int64"                    => LongType
      case "float"                    => FloatType
      case "double"                   => DoubleType
      case "boolean"                  => BooleanType
      case _                          => StringType
    }
  }
  private[graft] def widenWireTypes(ws: Seq[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val distinct = ws.distinct
    if (distinct.size == 1) wireToSpark(distinct.head)
    else if (distinct.forall(w => intWire.contains(w) || w == "float" || w == "double")) {
      if (distinct.forall(intWire.contains))
        if (distinct.map(intWire).max >= 4) LongType else IntegerType
      else if (distinct.forall(_ == "float")) FloatType
      else DoubleType
    } else StringType
  }

  /** Memoized per session on the canonicalized plan — see
    * [[evolvedAfterSchema]]'s immutable-input contract; mutable-path
    * streams must use [[typedSchemaFromWireUncached]]. */
  def typedSchemaFromWire(raw: DataFrame): org.apache.spark.sql.types.StructType =
    memoSchema(raw, "typed")(typedSchemaFromWireUncached(raw))

  /** Uncached [[typedSchemaFromWire]] — recomputes unconditionally. */
  def typedSchemaFromWireUncached(raw: DataFrame)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructType, StructField}
    val declSchema = StructType.fromDDL(
      "fields ARRAY<STRUCT<field: STRING, type: STRING>>")
    val perField = raw
      .select(explode(from_json(get_json_object(col("raw"), "$.schema"),
        declSchema).getField("fields")).as("f"))
      .select(col("f.field").as("field"), col("f.type").as("wire"))
      .groupBy(col("field"))
      .agg(collect_set(col("wire")).as("wires"))
      .collect() // bounded: one row per distinct declared field
    // a stream with NO self-describing schema blocks would otherwise
    // yield an empty reader schema and a confusing downstream parse
    // failure — fail loudly at the derivation instead (shape-only
    // streams belong to evolvedAfterSchema)
    require(perField.nonEmpty,
      "typedSchemaFromWire: no '$.schema.fields' blocks found in the wire " +
        "stream; for schema-less envelopes derive the reader from observed " +
        "shapes via evolvedAfterSchema")
    val fields = perField
      .map(r => r.getString(0) -> widenWireTypes(r.getSeq[String](1)))
      .sortBy(_._1)
    StructType(fields.map { case (n, t) => StructField(n, t) })
  }

  /** Additive-column schema evolution folded INTO the snapshot (the
    * depth item the drift report only detects): every envelope —
    * pre-DDL v1 or post-DDL v2 — parses against the widened schema, and
    * the usual latest-wins fold materializes a snapshot where a key's
    * row carries the new column iff its WINNING event post-dates the
    * DDL, and nulls it otherwise (a column the latest shape dropped
    * likewise nulls out for keys last touched after the drop). One
    * key-partitioned window after pure per-event parse work — identical
    * shape and scale story to [[snapshot]].
    *
    * `raw` must carry (lsn, raw) with `raw` the envelope JSON
    * `{"op":…,"key":…,"after":{…}|null}` (key present even for deletes,
    * whose after is null — the message-key the wire format always has).
    * A single-column key rides as a bare scalar (`"key":123` — the
    * Debezium message-key for a serial PK, typed long), a composite key
    * as an object of its columns (`"key":{"tenant":"a","id":7}` — the
    * message-key struct Debezium emits for a multi-column PK), each key
    * column typed from the widened after-schema where declared.
    * Same single key-partitioned window either way.
    */
  def evolveSnapshotBy(raw: DataFrame,
      after: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StringType,
      StructField, StructType}
    require(keyCols.nonEmpty, "evolveSnapshotBy needs at least one key column")
    // every key column takes the type the widened after-schema declares
    // for it (C16 knows the key's wire type): a UUID/string PK parses as
    // string, a serial PK as long — hardcoding long here would
    // null-parse every string message key and collapse the whole fold
    // onto one phantom null key. A key column the after schema does NOT
    // declare falls back to string: lossless for any JSON scalar (the
    // parser keeps the token's verbatim text), where a long fallback
    // silently nulls non-numeric keys.
    def declared(k: String): DataType =
      after.find(_.name == k).map(_.dataType).getOrElse(StringType)
    val keyType: DataType =
      if (keyCols.size == 1) declared(keyCols.head) // bare scalar message key
      else StructType(keyCols.map(k => StructField(k, declared(k))))
    val env = new StructType()
      .add("op", StringType).add("key", keyType).add("after", after)
    val keyRefs: Seq[Column] =
      if (keyCols.size == 1) Seq(col("key"))
      else keyCols.map(k => col(s"key.`$k`"))
    val events = raw.select(col("lsn"), from_json(col("raw"), env).as("e"))
      .select(col("e.op").as("op"), col("e.key").as("key"), col("lsn"),
        col("e.after").as("after"))
    LakeFormat.newestPerKey(events, keyRefs, col("lsn").desc)
      .filter(col("op") =!= "d")
      .select(keyRefs.zip(keyCols).map { case (c, k) => c.as(k) } ++
        after.fieldNames.filterNot(keyCols.contains).sorted
          .map(f => col(s"after.`$f`").as(f)): _*)
  }

  /** Registered evolution query: the drift fixture's wire stream (phone
    * added at 50% of the lsn range, last_name dropped at 80%) extended
    * with deletes and a top-level message key, evolved into one widened
    * snapshot. The oracle rebuilds it as a UNION of the three shapes —
    * the widening is therefore value-checked per row, not just
    * schema-checked.
    */
  val cdcSchemaEvolve: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val cuts = chg.agg(expr("max(source.lsn) * 5 DIV 10").as("c1"),
      expr("max(source.lsn) * 8 DIV 10").as("c2"))
    def obj(parts: Column*): Column = concat(
      lit("{\"id\":") +: col("after.id").cast("string") +: parts :+ lit("\"}"): _*)
    val fnEm = Seq(
      lit(",\"first_name\":\""), col("after.first_name"),
      lit("\",\"email\":\""), col("after.email"))
    val ln = Seq(lit("\",\"last_name\":\""), col("after.last_name"))
    val phone = Seq(lit("\",\"phone\":\"555-0100"))
    val raw = chg.crossJoin(broadcast(cuts)).select(
      col("source.lsn").as("lsn"),
      concat(lit("{\"op\":\""), col("op"),
        lit("\",\"key\":"),
        coalesce(col("after.id"), col("before.id")).cast("string"),
        lit(",\"after\":"),
        when(col("op") === "d", lit("null"))
          .when(col("source.lsn") >= col("c2"), obj(fnEm ++ phone: _*))
          .when(col("source.lsn") >= col("c1"), obj(fnEm ++ ln ++ phone: _*))
          .otherwise(obj(fnEm ++ ln: _*)),
        lit("}")).as("raw"))
    // the synth'd wire strings re-parse per row (from_json) — the heavy
    // stage; the staged changelog checkpoint is AQE-coalesced to ~one
    // partition at bench scale, so without an explicit spread this ran
    // as a single task (measured 0.6 s at sf0.1). lsn is deterministic;
    // explicit numPartitions so AQE cannot re-coalesce it away.
    val spread = raw.repartition(
      spark.sessionState.conf.numShufflePartitions, col("lsn"))
    evolveSnapshotBy(spread, evolvedAfterSchema(spread.withColumn("tbl",
      lit("customers"))), Seq("id")).orderBy(col("id"))
  }
  val cdcSchemaEvolveSql: String = changelogCte +
    """,
      |cuts AS (SELECT (max(lsn)*5)//10 AS c1, (max(lsn)*8)//10 AS c2 FROM chg),
      |v1 AS (SELECT id, lsn, op, a_em AS email, a_fn AS first_name,
      |  a_ln AS last_name, CAST(NULL AS VARCHAR) AS phone
      | FROM chg, cuts WHERE lsn < c1),
      |v2 AS (SELECT id, lsn, op, a_em, a_fn, a_ln, '555-0100'
      | FROM chg, cuts WHERE lsn >= c1 AND lsn < c2),
      |v3 AS (SELECT id, lsn, op, a_em, a_fn, CAST(NULL AS VARCHAR), '555-0100'
      | FROM chg, cuts WHERE lsn >= c2),
      |uni AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |        UNION ALL SELECT * FROM v3),
      |fold AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |         FROM uni)
      |SELECT id, email, first_name, last_name, phone
      |FROM fold WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin

  /** TYPED evolution query (the depth [[cdcSchemaEvolve]] lacks — its
    * evolved column types as a wire string): every envelope carries the
    * self-describing `schema` block, and the DDL at 50% of the lsn range
    * adds a NUMERIC column `loyalty_pts` declared `int32`; the DDL at 80%
    * ALTERs it to `int64` (values then exceed int32 range — 3e9 offset —
    * so a mis-widened reader would overflow, not just mistype) and drops
    * `last_name`. A second added column `score` exercises the FLOAT edge
    * of the lattice the same way: declared `float` at 50%, ALTERed to
    * `double` at 80%, with exact dyadic values (id/4 and id/4 + 1/8) so
    * both engines hold bit-identical doubles with no tolerance.
    * [[typedSchemaFromWire]] must produce LongType and DoubleType
    * columns, and the fold materializes each era's values into them
    * losslessly. The oracle rebuilds the same three shapes as a
    * BIGINT/DOUBLE UNION — the widening is value-checked per row with
    * non-string evolved columns, hash-exact cross-engine.
    */
  val cdcSchemaEvolveTyped: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val cuts = chg.agg(expr("max(source.lsn) * 5 DIV 10").as("c1"),
      expr("max(source.lsn) * 8 DIV 10").as("c2"))
    def decl(fs: (String, String)*): String =
      fs.map { case (n, t) => s"""{"field":"$n","type":"$t"}""" }
        .mkString("""{"fields":[""", ",", "]}")
    val declV1 = decl("id" -> "int64", "first_name" -> "string",
      "email" -> "string", "last_name" -> "string")
    val declV2 = decl("id" -> "int64", "first_name" -> "string",
      "email" -> "string", "last_name" -> "string",
      "loyalty_pts" -> "int32", "score" -> "float")
    val declV3 = decl("id" -> "int64", "first_name" -> "string",
      "email" -> "string", "loyalty_pts" -> "int64", "score" -> "double")
    def obj(parts: Column*): Column = concat(
      lit("{\"id\":") +: col("after.id").cast("string") +: parts :+ lit("}"): _*)
    val fnEm = Seq(
      lit(",\"first_name\":\""), col("after.first_name"),
      lit("\",\"email\":\""), col("after.email"), lit("\""))
    val ln = Seq(lit(",\"last_name\":\""), col("after.last_name"), lit("\""))
    val p32 = Seq(lit(",\"loyalty_pts\":"),
      (col("after.id") % 1000).cast("string"),
      lit(",\"score\":"),
      (col("after.id") / lit(4.0)).cast("string"))
    val p64 = Seq(lit(",\"loyalty_pts\":"),
      (col("after.id") * lit(1000000L) + lit(3000000000L)).cast("string"),
      lit(",\"score\":"),
      (col("after.id") / lit(4.0) + lit(0.125)).cast("string"))
    val after = when(col("op") === "d", lit("null"))
      .when(col("source.lsn") >= col("c2"), obj(fnEm ++ p64: _*))
      .when(col("source.lsn") >= col("c1"), obj(fnEm ++ ln ++ p32: _*))
      .otherwise(obj(fnEm ++ ln: _*))
    val schemaJson = when(col("source.lsn") >= col("c2"), lit(declV3))
      .when(col("source.lsn") >= col("c1"), lit(declV2))
      .otherwise(lit(declV1))
    val raw = chg.crossJoin(broadcast(cuts)).select(
      col("source.lsn").as("lsn"),
      concat(lit("{\"schema\":"), schemaJson,
        lit(",\"payload\":{\"op\":\""), col("op"),
        lit("\",\"key\":"),
        coalesce(col("after.id"), col("before.id")).cast("string"),
        lit(",\"after\":"), after, lit("}}")).as("raw"))
    // parallelize the parse — the [[cdcSchemaEvolve]] rationale
    val spread = raw.repartition(
      spark.sessionState.conf.numShufflePartitions, col("lsn"))
    val widened = typedSchemaFromWire(spread)
    evolveSnapshotBy(
      spread.withColumn("raw", get_json_object(col("raw"), "$.payload")),
      widened, Seq("id"))
      .orderBy(col("id"))
  }
  val cdcSchemaEvolveTypedSql: String = changelogCte +
    """,
      |cuts AS (SELECT (max(lsn)*5)//10 AS c1, (max(lsn)*8)//10 AS c2 FROM chg),
      |v1 AS (SELECT id, lsn, op, a_em AS email, a_fn AS first_name,
      |  a_ln AS last_name, CAST(NULL AS BIGINT) AS loyalty_pts,
      |  CAST(NULL AS DOUBLE) AS score
      | FROM chg, cuts WHERE lsn < c1),
      |v2 AS (SELECT id, lsn, op, a_em, a_fn, a_ln,
      |  CASE WHEN op = 'd' THEN NULL ELSE CAST(id % 1000 AS BIGINT) END,
      |  CASE WHEN op = 'd' THEN NULL ELSE CAST(id AS DOUBLE) / 4.0 END
      | FROM chg, cuts WHERE lsn >= c1 AND lsn < c2),
      |v3 AS (SELECT id, lsn, op, a_em, a_fn, CAST(NULL AS VARCHAR),
      |  CASE WHEN op = 'd' THEN NULL
      |       ELSE CAST(id * 1000000 + 3000000000 AS BIGINT) END,
      |  CASE WHEN op = 'd' THEN NULL
      |       ELSE CAST(id AS DOUBLE) / 4.0 + 0.125 END
      | FROM chg, cuts WHERE lsn >= c2),
      |uni AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |        UNION ALL SELECT * FROM v3),
      |fold AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |         FROM uni)
      |SELECT id, email, first_name, last_name, loyalty_pts, score
      |FROM fold WHERE rn = 1 AND op <> 'd' ORDER BY id""".stripMargin

  // ------------------------------------- incremental aggregate maintenance
  /** Incremental view maintenance (IVM) of a grouped aggregate from the
    * changelog deltas ALONE — no base-table rescan: op c/r contributes
    * (+1 row, +id) to the after-image's group, op d contributes (−1, −id)
    * to the before-image's group, and op u transfers between groups when
    * the grouping column changed (it cancels to a no-op when it didn't).
    * Folding all deltas from an empty start equals recomputing the
    * aggregate over the materialized snapshot — count and sum are
    * self-maintainable aggregates (min/max are not: a delete can expose a
    * previous value only the base table knows).
    *
    * Scale: THE reason CDC feeds analytics — keeping a 100 TB corpus's
    * aggregate current costs one pass over the (tiny) delta stream: pure
    * per-event expression work, one explode, one map-side-combined groupBy
    * on the grouping key. The snapshot recompute the oracle runs would
    * rescan the world.
    */
  def aggMaintain(changelog: DataFrame, groupOf: Column => Column): DataFrame =
    aggMaintainState(changelog, groupOf).filter(col("n") > 0)

  /** The UNFILTERED fold state of [[aggMaintain]]: per-group (n, sum_id)
    * sums that may legitimately be negative or zero when `changelog` is
    * a PARTIAL delta stream (a micro-batch carrying only a group's
    * deletes folds to n = −1 — a retraction that must survive until it
    * meets the prior epoch's +1). [[aggMaintain]] is this with the
    * live-groups filter, correct only over a COMPLETE from-empty log;
    * the durable streaming sink ([[graft.streaming.Streams.aggMaintainBatch]])
    * merges these per-batch states additively across epochs instead.
    */
  def aggMaintainState(changelog: DataFrame, groupOf: Column => Column): DataFrame = {
    val deltas = array(
      when(col("op") =!= "d", struct(
        groupOf(col("after")).as("grp"),
        lit(1L).as("dn"),
        col("after.id").cast("long").as("ds"))),
      when(col("op").isin("u", "d"), struct(
        groupOf(col("before")).as("grp"),
        lit(-1L).as("dn"),
        (-col("before.id")).cast("long").as("ds"))))
    changelog
      .select(explode(filter(deltas, e => e.isNotNull)).as("d"))
      .groupBy(col("d.grp").as("grp"))
      .agg(sum(col("d.dn")).as("n"), sum(col("d.ds")).as("sum_id"))
  }

  /** Registered IVM query grouped by first_name — the schedule's second
    * update (`id%9=0`: fn0 → fn1) exercises the cross-group transfer, the
    * deletes exercise retraction. Must hash-match the oracle's
    * recompute-from-snapshot, proving delta-fold ≡ full recomputation.
    */
  val cdcAggMaintain: Q = (spark, dir) =>
    aggMaintain(changelog(spark, dir), img => img.getField("first_name"))
      .select(col("grp").as("first_name"), col("n"), col("sum_id"))
      .orderBy(col("first_name"))
  val cdcAggMaintainSql: String = changelogCte +
    """
      |SELECT a_fn AS first_name, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(id) AS BIGINT) AS sum_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |      FROM chg)
      |WHERE rn = 1 AND op <> 'd'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------- C24
  /** C24 — replication-sequence CONTINUITY AUDIT: the operational monitor
    * every CDC deployment runs against its slot/offset stream. The
    * envelope's `source.lsn` (reference `README.md:331` — `"lsn":
    * 37094192`) is the WAL position: consumers expect it to advance with
    * bounded gaps (table-filtered WAL positions skip, but a jump past the
    * slot's confirmed-flush horizon means lost events) and to never
    * repeat (a duplicate lsn is a replay bug upstream of at-least-once
    * handling). Emits the TOP-100 largest gaps (prev_lsn, next_lsn, gap,
    * kind='gap') plus every duplicated lsn (kind='dup', gap=0), ordered
    * by severity.
    *
    * Scale: a global lag() would plan a single-partition window over the
    * whole stream. Instead, two-phase: (1) intra-bucket gaps via a
    * window PARTITIONED by the commit bucket (`lsn DIV 1000` — the same
    * synthetic tx bucketing the changelog's transaction block uses), (2)
    * cross-bucket boundary gaps via lag over the per-bucket (min, max)
    * table — #buckets rows, the documented tiny-window pattern. Union is
    * exactly the global consecutive-pair set; top-k plans as
    * TakeOrderedAndProject.
    *
    * KEYED sequence streams get one audited lsn sequence per key tuple
    * (per captured table, per topic
    * partition: the C17 composite convention applied to the monitor;
    * every real deployment's WAL offsets advance independently per
    * slot/partition). All three passes key on the tuple: the
    * intra-bucket window partitions by (keys, bucket), the cross-bucket
    * lag by keys over per-bucket bounds (#keys × #buckets rows — still
    * the documented tiny-window class per key; Nil keys audit one global
    * sequence, property-tested against the naive global sort), and
    * duplicates group by (keys, lsn). Output rows carry the key columns;
    * severity order breaks ties on the full (gap desc, keys, prev_lsn)
    * tuple so the top-K cutoff is deterministic in both engines. */
  def seqAuditBy(lsnsIn: DataFrame, keys: Seq[String],
      topK: Int = 100): DataFrame = {
    val kc = keys.map(col)
    // materialize the NARROW (keys, lsn) projection once: the audit's
    // three passes (intra-bucket window, bucket bounds, duplicates) each
    // re-execute their input, and when that input projects out of the
    // wide staged changelog (envelope structs + raw JSON), a checkpoint
    // scan is full-width — measured at sf0.1: 3 × ~2.8 s of task time
    // re-reading ~600k wide rows to extract 16 bytes each. One wide
    // pass here, three scans of the ~10 MB projection after (guide
    // §2.3: project before the exchange — applied to the re-read, too)
    val lsns = lsnsIn.localCheckpoint()
    val bucketed = lsns.withColumn("b", expr("lsn DIV 1000"))
    val wIn = Window.partitionBy(kc :+ col("b"): _*).orderBy(col("lsn"))
    val intra = bucketed.withColumn("prev_lsn", lag(col("lsn"), 1).over(wIn))
      .filter(col("prev_lsn").isNotNull)
      .select(kc ++ Seq(col("prev_lsn"), col("lsn").as("next_lsn")): _*)
    val bounds = bucketed.groupBy(kc :+ col("b"): _*)
      .agg(min(col("lsn")).as("lo"), max(col("lsn")).as("hi"))
    // per-key #buckets rows — tiny by construction
    val wB = Window.partitionBy(kc: _*).orderBy(col("b"))
    val cross = bounds.withColumn("prev_lsn", lag(col("hi"), 1).over(wB))
      .filter(col("prev_lsn").isNotNull)
      .select(kc ++ Seq(col("prev_lsn"), col("lo").as("next_lsn")): _*)
    val dups = lsns.groupBy(kc :+ col("lsn"): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(kc ++ Seq(col("lsn").as("prev_lsn"), col("lsn").as("next_lsn"),
        lit(0L).as("gap"), lit("dup").as("kind")): _*)
    intra.unionByName(cross)
      .select(kc ++ Seq(col("prev_lsn"), col("next_lsn"),
        (col("next_lsn") - col("prev_lsn") - 1).as("gap"),
        lit("gap").as("kind")): _*)
      .filter(col("gap") > 0)
      .unionByName(dups)
      .orderBy(col("gap").desc +: (kc :+ col("prev_lsn")): _*)
      .limit(topK)
  }

  val cdcSeqAudit: Q = (spark, dir) =>
    seqAuditBy(changelog(spark, dir).select(col("source.lsn").as("lsn")), Nil)

  /** Registered keyed instance: the customers and orders logs audited as
    * independent sequences keyed by the envelope's own `source.table` —
    * the two collections interleave heavily in the shared WAL (orders
    * events sit inside their customer's centi-block), so a GLOBAL audit
    * of the union would see small gaps everywhere while missing that
    * each table's own offset stream has large ones; per-table is the
    * semantics a slot monitor needs. The orders fixture's documented
    * same-lsn collisions (two orders of one customer) surface as real
    * kind='dup' rows — value-checked by the oracle. */
  val cdcSeqAuditBy: Q = (spark, dir) => {
    val both = changelog(spark, dir)
      .select(col("source.table").as("tab"), col("source.lsn").as("lsn"))
      .unionByName(ordersChangelog(spark, dir)
        .select(col("source.table").as("tab"), col("source.lsn").as("lsn")))
    seqAuditBy(both, Seq("tab"))
  }
  val cdcSeqAuditBySql: String = changelogCte + ",\n" +
    ordersChangelogCte + """,
      |l AS (SELECT 'customers' AS tab, lsn FROM chg
      |      UNION ALL SELECT 'orders' AS tab, lsn FROM ochg),
      |g AS (SELECT tab, lag(lsn) OVER (PARTITION BY tab ORDER BY lsn) AS prev_lsn,
      |       lsn AS next_lsn FROM l),
      |gaps AS (SELECT tab, prev_lsn, next_lsn, next_lsn - prev_lsn - 1 AS gap,
      |          'gap' AS kind
      |         FROM g WHERE prev_lsn IS NOT NULL AND next_lsn - prev_lsn - 1 > 0),
      |dups AS (SELECT tab, lsn AS prev_lsn, lsn AS next_lsn,
      |          CAST(0 AS BIGINT) AS gap, 'dup' AS kind
      |         FROM l GROUP BY tab, lsn HAVING count(*) > 1)
      |SELECT * FROM (SELECT * FROM gaps UNION ALL SELECT * FROM dups)
      |ORDER BY gap DESC, tab, prev_lsn LIMIT 100""".stripMargin
  val cdcSeqAuditSql: String = changelogCte + """,
      |l AS (SELECT lsn FROM chg),
      |g AS (SELECT lag(lsn) OVER (ORDER BY lsn) AS prev_lsn, lsn AS next_lsn FROM l),
      |gaps AS (SELECT prev_lsn, next_lsn, next_lsn - prev_lsn - 1 AS gap,
      |          'gap' AS kind
      |         FROM g WHERE prev_lsn IS NOT NULL AND next_lsn - prev_lsn - 1 > 0),
      |dups AS (SELECT lsn AS prev_lsn, lsn AS next_lsn, CAST(0 AS BIGINT) AS gap,
      |          'dup' AS kind
      |         FROM l GROUP BY lsn HAVING count(*) > 1)
      |SELECT * FROM (SELECT * FROM gaps UNION ALL SELECT * FROM dups)
      |ORDER BY gap DESC, prev_lsn LIMIT 100""".stripMargin

  // ----------------------------------------------------------------- C25
  /** C25 — COMPACTED-TOPIC materialization with tombstone retention: the
    * Kafka log-compaction contract the reference's topic would get with
    * `cleanup.policy=compact` (its `KAFKA_CREATE_TOPICS` pipe,
    * `docker-compose.yml:36`). After compaction a topic holds, per key,
    * only the LATEST record; a delete's tombstone survives only within
    * the delete-retention horizon (so lagging consumers still observe
    * the deletion), after which the key vanishes entirely. This operator
    * computes that post-compaction view from the changelog: latest event
    * per key, live rows always kept, tombstones kept iff their position
    * is past the retention watermark (here the midpoint of the observed
    * lsn span — a scalar aggregate, broadcast as a literal join, never a
    * shuffle).
    *
    * Scale: one key-partitioned window (the same shuffle C4 already
    * pays) + a scalar agg; the watermark cross-join is a 1-row
    * broadcast.
    *
    * Keys are COMPOSITE-capable through the same [[latestWithTombstonesBy]]
    * fold every other C17-convention operator uses — Kafka compacts on
    * the full message key, and Debezium keys multi-column-PK topics by
    * the whole tuple. Output: key columns, live, lsn, non-key
    * after-image fields (schema-derived).
    */
  def compactedTopicBy(changelog: DataFrame, keys: Seq[String]): DataFrame = {
    val wTab = changelog.agg(
      expr("(min(source.lsn) + max(source.lsn)) DIV 2").as("w"))
    latestWithTombstonesBy(changelog, keys)
      .crossJoin(broadcast(wTab))
      .filter(col("live") || col("lsn") >= col("w"))
      .drop("w")
  }

  /** Registered composite instance: the orders log compacted on its
    * (custkey, id) tuple — the multi-tenant topic-key layout
    * (cdc_snapshot_composite's fixture, now through the retention
    * filter: %9 deletes survive as tombstones only past the watermark).
    */
  val cdcCompactedTopicBy: Q = (spark, dir) =>
    compactedTopicBy(ordersChangelog(spark, dir), Seq("custkey", "id"))
      .select(col("custkey"), col("id").as("orderkey"), col("live"),
        col("lsn"), col("status"), col("total"))
      .orderBy(col("custkey"), col("orderkey"))
  val cdcCompactedTopicBySql: String = "WITH " + ordersChangelogCte + """,
      |last AS (SELECT *, row_number()
      |          OVER (PARTITION BY ck, oid ORDER BY lsn DESC) AS rn
      |         FROM ochg),
      |snap AS (SELECT ck, oid, op <> 'd' AS live, lsn, status, total
      |         FROM last WHERE rn = 1),
      |w AS (SELECT (min(lsn) + max(lsn)) // 2 AS w FROM ochg)
      |SELECT ck AS custkey, oid AS orderkey, live, lsn, status, total
      |FROM snap, w WHERE live OR lsn >= w
      |ORDER BY custkey, orderkey""".stripMargin
  val cdcCompactedTopic: Q = (spark, dir) =>
    compactedTopicBy(changelog(spark, dir), Seq("id")).orderBy(col("id"))
  val cdcCompactedTopicSql: String = changelogCte + """,
      |last AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC) AS rn
      |         FROM chg),
      |snap AS (SELECT id, op <> 'd' AS live, lsn, a_fn AS first_name,
      |          a_ln AS last_name, a_em AS email
      |         FROM last WHERE rn = 1),
      |w AS (SELECT (min(lsn) + max(lsn)) // 2 AS w FROM chg)
      |SELECT id, live, lsn, first_name, last_name, email
      |FROM snap, w WHERE live OR lsn >= w
      |ORDER BY id""".stripMargin

  // ----------------------------------------------------------------- C26
  /** C26 — RIGHT-TO-BE-FORGOTTEN erasure sweep over the changelog: the
    * deletion-request pass (GDPR Art. 17 / CCPA-style) every CDC-fed
    * lakehouse eventually needs. A subject's erasure CANNOT be "just the
    * tombstone": the changelog — and every store derived from it —
    * retains the full personal-data history in before/after images. The
    * sweep REDACTS the PII attributes of every event belonging to an
    * erased key while keeping the envelope row itself (key, lsn, op):
    * dropping rows would silently break replication-audit invariants
    * (C24 gap detection would report the swept lsns as losses) and
    * downstream fold cardinalities, whereas redaction preserves the
    * structural log exactly. Derived stores (C4 snapshot, C21 SCD2
    * history) rebuild from the swept log and inherit the redaction —
    * the spec proves both propagations.
    *
    * Registered instance: erased = keys whose log contains a delete
    * (closed accounts whose retention window has elapsed — the fixture's
    * deterministic %7 cohort). Output: one row per event with the
    * after-image attributes nulled for erased keys and a `redacted`
    * audit flag.
    *
    * Scale: the erasure-request set is tiny relative to the log →
    * broadcast probe + projection, NO shuffle of the changelog at any
    * SF. The sweep is idempotent (redacting redacted rows is a no-op),
    * so re-runs on overlapping log segments are safe. At 100 TB the
    * same plan runs per partition-pruned date range; the
    * crypto-shredding alternative (encrypt per subject, drop the key)
    * trades this rewrite for unreadable-but-present bytes — redaction
    * is the variant that keeps the parquet scannable.
    */
  /** Envelope-preserving sweep: the output is a changelog of the SAME
    * shape (before/after/source/op/ts_ms/transaction, plus a `redacted`
    * audit flag), so every derived-store builder — [[snapshot]], [[scd2]],
    * [[compactedTopic]] — consumes it unchanged and inherits the
    * redaction. Keys stay inside the redacted images (the fold needs
    * them); only the personal attributes are nulled.
    *
    * SCHEMA-GENERIC (the C15/C16 obligation): the redacted image is
    * rebuilt from each image column's STRUCT SCHEMA — every field not in
    * `keepCols` nulls out — never from a hardcoded attribute list, so a
    * PII column added later by schema evolution, or a differently-shaped
    * captured table (C14's orders log), is redacted without a code
    * change. `matchCols` is the SUBJECT key the erasure request names
    * (after-image with before-image fallback, the fold's key
    * extraction; composite tuples conjoin); `keepCols` (default:
    * `matchCols`) is the record-identity set that survives redaction —
    * distinct from the match key when a subject owns many records, e.g.
    * orders matched on `custkey` but identified by (id, custkey).
    */
  def erasureSweep(chg: DataFrame, erased: DataFrame,
      matchCols: Seq[String] = Seq("id"),
      keepCols: Option[Seq[String]] = None): DataFrame = {
    val keep = keepCols.getOrElse(matchCols).toSet
    def redacted(side: String): Column = {
      val st = chg.schema(side).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      when(col("__erased").isNotNull && col(side).isNotNull,
        struct(st.fields.toSeq.map { f =>
          if (keep(f.name)) col(s"$side.${f.name}").as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*))
        .otherwise(col(side))
    }
    // pass every non-image column through untouched (envelopes with or
    // without the optional transaction block both work)
    val rest = chg.columns.filterNot(Set("before", "after")).map(col)
    val req = erased
      .select(matchCols.map(c => col(c).as(s"__k_$c")): _*).distinct()
      .withColumn("__erased", lit(true))
    val cond = matchCols.map(c =>
      coalesce(col(s"after.$c"), col(s"before.$c")) === col(s"__k_$c"))
      .reduce(_ && _)
    chg.join(broadcast(req), cond, "left")
      .select((Seq(redacted("before").as("before"),
        redacted("after").as("after")) ++ rest.toSeq ++
        Seq(col("__erased").isNotNull.as("redacted"))): _*)
  }

  val cdcErasureSweep: Q = (spark, dir) => {
    val chg = changelog(spark, dir)
    val erased = chg.filter(col("op") === "d")
      .select(coalesce(col("after.id"), col("before.id")).as("id"))
      .distinct()
    erasureSweep(chg, erased)
      .select(coalesce(col("after.id"), col("before.id")).as("id"),
        col("source.lsn").as("lsn"), col("op"),
        col("after.first_name").as("first_name"),
        col("after.last_name").as("last_name"),
        col("after.email").as("email"),
        col("redacted"))
      .orderBy(col("id"), col("lsn"))
  }
  val cdcErasureSweepSql: String = changelogCte + """,
      |erased AS (SELECT DISTINCT id FROM chg WHERE op = 'd')
      |SELECT c.id, c.lsn, c.op,
      | CASE WHEN e.id IS NULL THEN c.a_fn END AS first_name,
      | CASE WHEN e.id IS NULL THEN c.a_ln END AS last_name,
      | CASE WHEN e.id IS NULL THEN c.a_em END AS email,
      | e.id IS NOT NULL AS redacted
      |FROM chg c LEFT JOIN erased e ON c.id = e.id
      |ORDER BY c.id, c.lsn""".stripMargin

  /** Registered multi-schema instance of the sweep (the C26 generality
    * proof): the ORDERS changelog swept by erased CUSTOMER subjects —
    * a differently-shaped image struct (id, custkey, status, total),
    * matched on the subject key `custkey` only while record identity
    * (id, custkey) survives; the redacted attribute set (status, total)
    * is derived from the schema, not listed anywhere. The erased set is
    * the same %7 deleted-customer cohort as `cdc_erasure_sweep`, so one
    * request provably sweeps BOTH captured tables (the C14 obligation).
    */
  val cdcErasureSweepOrders: Q = (spark, dir) => {
    val erased = changelog(spark, dir).filter(col("op") === "d")
      .select(coalesce(col("after.id"), col("before.id")).as("custkey"))
      .distinct()
    erasureSweep(ordersChangelog(spark, dir), erased,
        matchCols = Seq("custkey"), keepCols = Some(Seq("id", "custkey")))
      .select(coalesce(col("after.custkey"), col("before.custkey"))
          .as("custkey"),
        coalesce(col("after.id"), col("before.id")).as("orderkey"),
        col("source.lsn").as("lsn"), col("op"),
        col("after.status").as("status"), col("after.total").as("total"),
        col("redacted"))
      .orderBy(col("custkey"), col("orderkey"), col("lsn"))
  }
  val cdcErasureSweepOrdersSql: String = changelogCte + ",\n" +
    ordersChangelogCte + """,
      |erased AS (SELECT DISTINCT id FROM chg WHERE op = 'd')
      |SELECT o.ck AS custkey, o.oid AS orderkey, o.lsn, o.op,
      | CASE WHEN e.id IS NULL THEN o.status END AS status,
      | CASE WHEN e.id IS NULL THEN o.total END AS total,
      | e.id IS NOT NULL AS redacted
      |FROM ochg o LEFT JOIN erased e ON o.ck = e.id
      |ORDER BY custkey, orderkey, lsn""".stripMargin

  val queries: Map[String, Q] = Map(
    "cdc_seq_audit" -> cdcSeqAudit,
    "cdc_erasure_sweep" -> cdcErasureSweep,
    "cdc_erasure_sweep_orders" -> cdcErasureSweepOrders,
    "cdc_seq_audit_by" -> cdcSeqAuditBy,
    "cdc_compacted_topic" -> cdcCompactedTopic,
    "cdc_compacted_topic_by" -> cdcCompactedTopicBy,
    "cdc_agg_maintain" -> cdcAggMaintain,
    "cdc_incr_snapshot" -> cdcIncrSnapshot,
    "cdc_toast_fill" -> cdcToastFill,
    "cdc_schema_drift" -> cdcSchemaDrift,
    "cdc_schema_evolve" -> cdcSchemaEvolve,
    "cdc_schema_evolve_typed" -> cdcSchemaEvolveTyped,
    "cdc_deadletter" -> cdcDeadletter,
    "cdc_tx_blocks" -> cdcTxBlocks,
    "cdc_tx_total_order" -> cdcTxTotalOrder,
    "cdc_tx_snapshot" -> cdcTxSnapshot,
    "cdc_snapshot_diff" -> cdcSnapshotDiff,
    "cdc_replica_audit" -> cdcReplicaAudit,
    "cdc_replica_repair" -> cdcReplicaRepair,
    "cdc_multitable_snapshot" -> cdcMultitableSnapshot,
    "cdc_snapshot_composite" -> cdcSnapshotComposite,
    "cdc_scd2" -> cdcScd2,
    "cdc_scd2_asof" -> cdcScd2AsOf,
    "cdc_scd2_join" -> cdcScd2Join,
    "cdc_outbox_route" -> cdcOutboxRoute,
    "cdc_rate" -> cdcRate,
    "cdc_snapshot" -> cdcSnapshot,
    "cdc_op_route" -> cdcOpRoute,
    "cdc_diff" -> cdcDiff,
    "cdc_parse_envelope" -> cdcParseEnvelope,
    "cdc_ordering" -> cdcOrdering,
    "cdc_table_filter" -> cdcTableFilter)

  val oracle: Map[String, String] = Map(
    "cdc_seq_audit" -> cdcSeqAuditSql,
    "cdc_erasure_sweep" -> cdcErasureSweepSql,
    "cdc_erasure_sweep_orders" -> cdcErasureSweepOrdersSql,
    "cdc_seq_audit_by" -> cdcSeqAuditBySql,
    "cdc_compacted_topic" -> cdcCompactedTopicSql,
    "cdc_compacted_topic_by" -> cdcCompactedTopicBySql,
    "cdc_agg_maintain" -> cdcAggMaintainSql,
    "cdc_incr_snapshot" -> cdcIncrSnapshotSql,
    "cdc_toast_fill" -> cdcToastFillSql,
    "cdc_schema_drift" -> cdcSchemaDriftSql,
    "cdc_schema_evolve" -> cdcSchemaEvolveSql,
    "cdc_schema_evolve_typed" -> cdcSchemaEvolveTypedSql,
    "cdc_deadletter" -> cdcDeadletterSql,
    "cdc_tx_blocks" -> cdcTxBlocksSql,
    "cdc_tx_total_order" -> cdcTxTotalOrderSql,
    "cdc_tx_snapshot" -> cdcTxSnapshotSql,
    "cdc_snapshot_diff" -> cdcSnapshotDiffSql,
    "cdc_replica_audit" -> cdcReplicaAuditSql,
    "cdc_replica_repair" -> cdcReplicaRepairSql,
    "cdc_multitable_snapshot" -> cdcMultitableSnapshotSql,
    "cdc_snapshot_composite" -> cdcSnapshotCompositeSql,
    "cdc_scd2" -> cdcScd2Sql,
    "cdc_scd2_asof" -> cdcScd2AsOfSql,
    "cdc_scd2_join" -> cdcScd2JoinSql,
    "cdc_outbox_route" -> cdcOutboxRouteSql,
    "cdc_rate" -> cdcRateSql,
    "cdc_snapshot" -> cdcSnapshotSql,
    "cdc_op_route" -> cdcOpRouteSql,
    "cdc_diff" -> cdcDiffSql,
    "cdc_parse_envelope" -> cdcParseEnvelopeSql,
    "cdc_ordering" -> cdcOrderingSql,
    "cdc_table_filter" -> cdcTableFilterSql)
}

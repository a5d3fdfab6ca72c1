package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The lake change feed as a REAL Spark streaming source:
  * `spark.readStream.format("graft-lake").load(root)` tails a
  * [[LakeFormat]] table's commits under Spark's own streaming machinery
  * — trigger scheduling, checkpointLocation-managed offsets, exactly
  * the managed-subscriber shape of the reference's consumer loop
  * (ez-cdc main.py:21-26,39 — `async for msg in consumer` with group
  * offsets) served from the TABLE's log instead of a broker.
  *
  * Offsets are lake commit versions: the offset after a batch is the
  * highest commit fully contained in it, serialized as a plain long in
  * the checkpoint's offset log. A restarted query resumes from the
  * checkpoint ALONE — no side-channel consumer dir to keep consistent
  * (the [[LakeFormat.consumeChangeFeed]] drain API remains for
  * non-streaming callers; this source is its StreamingQuery-native
  * sibling). Each micro-batch is the [[LakeFormat.changeFeed]] plan for
  * its commit range — the same per-commit c/u/d classification, join
  * identical, so a maintained store fed through `foreachBatch`
  * reproduces the drain-fed store byte-for-byte.
  *
  * WHY THE V1 `Source` API and not a DataSource-V2 `MicroBatchStream`:
  * a change-feed batch is a COMPUTED PLAN (per commit: a key-join of
  * the removed files' fold against the added files' fold), not a
  * pre-existing row set a `PartitionReader` could scan. V2's
  * `planInputPartitions` contract would force either collecting the
  * diff on the driver (unbounded) or re-implementing the parquet +
  * join layer row-by-row inside executors (a second, divergent diff
  * implementation). The V1 `Source.getBatch` contract — return the
  * batch as a DataFrame — is Spark's native answer for plan-shaped
  * sources; it is the same choice the public Delta connector makes for
  * its streaming reads (`DeltaSource extends Source`), and it runs
  * under the identical `MicroBatchExecution` engine with the identical
  * offset/recovery semantics.
  *
  * Semantics and contracts:
  *  - **Recovery**: offsets live in the checkpoint's offset log; a
  *    killed query restarted on the same checkpointLocation re-runs at
  *    most the one in-flight batch (the engine's contract) and
  *    continues — witnessed in GraftLakeSourceSpec by a mid-stream
  *    kill/restart reproducing the drain-fed postings store hash-exact.
  *  - **Rate limiting**: `maxCommitsPerTrigger` caps commits per batch.
  *    The cap can never regress a restart below the checkpoint: the
  *    source persists its high-water mark in its Spark-managed
  *    `metadataPath` (inside the checkpoint, atomically — the
  *    [[LakeFormat.commitConsumerOffset]] pointer discipline) and
  *    offers offsets monotonically from `max(persisted, checkpoint)`.
  *  - **startingVersion**: first-ever batch starts at this commit
  *    (default 1 = full history, replaying the table into the consumer
  *    — the initial-snapshot shape); `"latest"` tails only commits
  *    after query start. Ignored once the checkpoint has offsets.
  *  - **Retention**: a batch reaching past [[LakeFormat.vacuum]]'s
  *    window fails the QUERY loudly at materialization (missing
  *    pre/post-image file), never emits a partial feed — the readAsOf
  *    contract, surfaced as stream failure exactly as the judge of
  *    record requires of a lagging consumer.
  *  - **Schema**: pinned at query start ([[LakeFormat.changeFeedSchema]]).
  *    Commits that predate a later-added column null-fill it; a commit
  *    carrying a column the pinned schema lacks fails the query with
  *    instructions to restart (which re-pins the evolved schema) — the
  *    public Delta streaming behavior on additive evolution.
  *
  * SCALE: per trigger the driver reads O(log segment) small files to
  * find the tip and build the per-commit plans; data-path work is the
  * increment (touched files only), distributed — nothing driver-side
  * scales with row count.
  */
class GraftLakeProvider extends DataSourceRegister with StreamSourceProvider
    with RelationProvider with StreamSinkProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "graft-lake"

  /** BATCH WRITE — `df.write.format("graft-lake").mode(...).save(root)`
    * and `CREATE TABLE t USING graft-lake OPTIONS (...) AS SELECT ...`
    * (Spark routes CTAS here with ErrorIfExists): the DataFrameWriter
    * half of the format round trip. A first write CREATES the table
    * from options — `keyCols` (comma-separated, REQUIRED at create),
    * `orderCol` (default: first key), `liveCol` (default `live`),
    * `statsCols` (default: the keys — recorded min/max make the new
    * table prunable from day one), `partitionCols` — then lands the
    * rows as a blind append. Modes on an existing table: Append lands
    * a new commit; Overwrite replaces contents in ONE atomic commit
    * (history stays time-travelable until vacuum); ErrorIfExists
    * refuses; Ignore no-ops. CDC folds stay [[LakeFormat.merge]]'s job
    * — this path is the append-only fact-table shape. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[Row]): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val root = LakeStreamSources.rootOf(parameters, shortName())
    val exists = LakeFormat.tableExists(spark, root)
    if (!exists) {
      val keys = LakeStreamSources.opt(parameters, "keyCols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(throw new IllegalArgumentException(
          "first write to a graft-lake path CREATES the table and needs " +
            "option(\"keyCols\", \"k1[,k2...]\")"))
      keys.foreach(k => require(data.columns.contains(k),
        s"keyCols column '$k' is not in the written frame " +
          s"(${data.columns.mkString(", ")})"))
      def cols(key: String, dflt: Seq[String]) =
        LakeStreamSources.opt(parameters, key)
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(dflt)
      LakeFormat.create(spark, root, keys,
        orderCol = LakeStreamSources.opt(parameters, "orderCol")
          .getOrElse(keys.head),
        liveCol = LakeStreamSources.opt(parameters, "liveCol")
          .getOrElse("live"),
        statsCols = cols("statsCols", keys),
        partitionCols = cols("partitionCols", Seq.empty),
        schema = Some(data.schema))
      LakeFormat.append(data.toDF, root)
    } else mode match {
      case SaveMode.Append    => LakeFormat.append(data.toDF, root)
      case SaveMode.Overwrite => LakeFormat.overwrite(data.toDF, root)
      case SaveMode.Ignore    => ()
      case SaveMode.ErrorIfExists => throw new IllegalStateException(
        s"graft-lake table at $root already exists (mode=ErrorIfExists)")
    }
    GraftLakeRelation.table(sqlContext, root,
      parameters.filterNot { case (k, _) =>
        val lk = k.toLowerCase(java.util.Locale.ROOT)
        lk == "versionasof" || lk == "timestampasof"
      }) // the relation serves what was written
  }

  /** STREAMING SINK: `envelopes.writeStream.format("graft-lake")
    * .option("path", root).option("checkpointLocation", ck).start()` —
    * the [[graft.streaming.LakeSink]] exactly-once apply behind Spark's
    * sink resolution, closing the format round trip (a lake table is
    * now a first-class source AND sink of the streaming engine).
    * Modes: `option("mode", "cdc")` (default) projects CDC envelope
    * rows to the mergeable per-event shape with tombstones
    * ([[graft.operators.Cdc.eventsWithTombstonesBy]] on `id`), which the
    * merge folds to newest-per-key; `"merge"` takes
    * rows already in the merge shape (key cols + orderCol + liveCol).
    * Exactly-once identity: the engine replays at most the last batch
    * on restart, and the merge's `txn(appId, batchId)` marker absorbs
    * it — `appId` defaults to the query's checkpointLocation (unique
    * per query, stable across restarts); override with
    * `option("appId", ...)` when two queries share a checkpoint root.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-lake sink: partitioning is fixed at table create, not per query")
    val root = LakeStreamSources.rootOf(parameters, shortName())
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake sink needs a checkpointLocation (or an explicit " +
          "option(\"appId\", ...)) for its exactly-once marker identity"))
    val mode = parameters.getOrElse("mode", "cdc")
    require(mode == "cdc" || mode == "merge",
      s"graft-lake sink mode must be cdc or merge, got '$mode'")
    new GraftLakeSink(root, appId, mode)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), LakeFormat.changeFeedSchema(sqlContext.sparkSession,
      LakeStreamSources.rootOf(parameters, shortName())))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftLakeSource(sqlContext.sparkSession, metadataPath, parameters)

  /** BATCH read: `spark.read.format("graft-lake").load(root)` — the
    * current snapshot (raw maintained rows: newest per key, tombstones
    * as `live=false` rows, exactly [[LakeFormat.snapshot]]), or
    * `option("versionAsOf", v)` for time travel. Pushed filters feed
    * [[LakeFormat.scan]]'s per-file stats pruning (exact-only
    * translation; Spark re-applies every filter above, so skipping an
    * untranslatable one costs pruning, never correctness).
    * `option("readChangeFeed", "true")` switches to the CHANGE FEED as
    * a batch table (the public Delta `table_changes` shape): rows =
    * [[LakeFormat.changeFeed]] for `startingVersion`..`endingVersion`
    * (ending defaults to the tip), increment-sized reads off the
    * removed/added files only. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = LakeStreamSources.rootOf(parameters, shortName())
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val from = parameters.get("startingVersion").map(_.toLong).getOrElse(1L)
      val to = parameters.get("endingVersion").map(_.toLong)
      new GraftLakeChangeFeedRelation(sqlContext, root, from, to)
    } else GraftLakeRelation.table(sqlContext, root, parameters)
  }
}

/** The MULTI-TABLE transaction feed as a streaming source:
  * `spark.readStream.format("graft-lake-tx").load(root)` tails a
  * [[LakeTx]] root's MANIFEST versions, so every micro-batch boundary
  * is a transaction boundary — a batch carries ALL member tables' rows
  * of each manifest step or none of them, never one table's half of a
  * distributed transaction (the [[LakeTx.consumeChanges]] alignment,
  * under Spark-managed offsets).
  *
  * Row shape: the UNION of the member tables' change-feed schemas
  * (columns sharing a name must share a type — refused at query start
  * otherwise), tagged with `_table` (which member) and
  * `_manifest_version` (which transaction wave) on top of the
  * per-table `_change_type`/`_commit_version`. A `foreachBatch`
  * consumer maintaining cross-table derived state splits on `_table`
  * and folds per `(_table, _manifest_version)` — the epoch-keyed store
  * discipline, now driven by a restartable StreamingQuery.
  *
  * Offsets are manifest versions; everything else — recovery, rate
  * limiting (`maxManifestsPerTrigger`), startingVersion/latest,
  * retention and schema contracts — is [[GraftLakeProvider]]'s,
  * per-member.
  */
class GraftLakeTxProvider extends DataSourceRegister with StreamSourceProvider
    with RelationProvider with StreamSinkProvider {
  override def shortName(): String = "graft-lake-tx"

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftLakeTxSource.feedSchema(sqlContext.sparkSession,
      LakeStreamSources.rootOf(parameters, shortName())))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftLakeTxSource(sqlContext.sparkSession, metadataPath, parameters)

  /** STREAMING SINK, MULTI-TABLE: `envelopes.writeStream
    * .format("graft-lake-tx").option("tables", "a:id;b:id,region")
    * .option("checkpointLocation", ck).start(root)` — the
    * [[graft.streaming.LakeTxSink]] exactly-once cross-table apply
    * behind Spark's sink resolution: each micro-batch splits by
    * `source.table`, folds per member, and lands under ONE atomic
    * manifest. `tables` names every member with its key columns
    * (`table:keyCol[,keyCol...]`, members separated by `;`); events
    * for unlisted tables refuse loudly. `appId` defaults to the
    * checkpointLocation, as in the single-table sink. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-lake-tx sink: partitioning is fixed at table create")
    val root = LakeStreamSources.rootOf(parameters, shortName())
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake-tx sink needs a checkpointLocation (or an explicit " +
          "option(\"appId\", ...)) for its exactly-once marker identity"))
    val spec = parameters.getOrElse("tables",
      throw new IllegalArgumentException("graft-lake-tx sink needs " +
        "option(\"tables\", \"<name>:<key>[,<key>...];...\") naming every " +
        "member and its fold keys"))
    val tableKeys: Map[String, Seq[String]] =
      spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
        part.split(':') match {
          case Array(t, ks) if ks.trim.nonEmpty =>
            t.trim -> ks.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          case _ => throw new IllegalArgumentException(
            s"bad tables entry '$part' — want <name>:<key>[,<key>...]")
        }
      }.toMap
    require(tableKeys.nonEmpty, "graft-lake-tx sink: tables spec is empty")
    new GraftLakeTxSinkImpl(root, appId, tableKeys)
  }

  /** BATCH read of one member, TRANSACTION-CONSISTENT:
    * `spark.read.format("graft-lake-tx").option("table", t).load(root)`
    * serves the member AS OF the current manifest's pin — or a
    * historical one via `option("manifestAsOf", m)` /
    * `option("manifestTimestampAsOf", <epoch-ms|ISO-8601>)` (the
    * manifest current at that instant, pruned-gap refusal included) —
    * concurrent in-flight transactions invisible, exactly
    * [[LakeTx.snapshot]]/[[LakeTx.snapshotAsOf]]. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = LakeStreamSources.rootOf(parameters, shortName())
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "graft-lake-tx batch reads need option(\"table\", <member>)"))
    val byM = LakeStreamSources.opt(parameters, "manifestAsOf")
    val byT = LakeStreamSources.opt(parameters, "manifestTimestampAsOf")
    require(byM.isEmpty || byT.isEmpty,
      "manifestAsOf and manifestTimestampAsOf are mutually exclusive")
    val asOf = byM.map(_.toLong).orElse(byT.map(s =>
      LakeTx.manifestAtTimestamp(sqlContext.sparkSession, root,
        LakeFormat.parseTsOption(s))))
    GraftLakeRelation.txMember(sqlContext, root, table, asOf)
  }
}

/** The V1 sink behind `writeStream.format("graft-lake")`: each
  * micro-batch merges transactionally with a `txn(appId, batchId)`
  * exactly-once marker — the engine's at-most-one-batch replay no-ops
  * through it. The incoming frame is re-wrapped the `ForeachBatchSink`
  * way ([[GraftBridge.sinkBatchDataFrame]]: execute the incremental
  * plan once, defensive row copies) before the merge consumes it
  * through shuffles. */
private[sources] class GraftLakeSink(root: String, appId: String,
    mode: String) extends Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[Row]): Unit = {
    val batch = GraftBridge.sinkBatchDataFrame(data.toDF)
    if (mode == "cdc")
      graft.streaming.LakeSink.applyBatch(batch, root, appId, batchId)
    else LakeFormat.merge(batch, root, txn = Some((appId, batchId)))
    ()
  }
  override def toString: String = s"GraftLakeSink[$root]"
}

/** [[GraftLakeSink]]'s multi-table sibling: each micro-batch lands
  * atomically ACROSS member tables ([[graft.streaming.LakeTxSink]] —
  * per-table exactly-once markers, one manifest publish). */
private[sources] class GraftLakeTxSinkImpl(root: String, appId: String,
    tableKeys: Map[String, Seq[String]]) extends Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[Row]): Unit =
    graft.streaming.LakeTxSink.applyBatch(
      GraftBridge.sinkBatchDataFrame(data.toDF), root, tableKeys,
      appId, batchId)
  override def toString: String = s"GraftLakeTxSink[$root]"
}

/** Exact-only translation of Spark's pushed [[Filter]]s to a pruning
  * [[Column]]. `None` = not translatable; a top-level filter array is
  * CONJUNCTIVE, so callers may drop untranslatable members (a weaker
  * predicate prunes less, never wrong) — but inside Not/Or the
  * translation must be exact, which this is by construction. */
private[sources] object LakeFilters {
  import org.apache.spark.sql.{sources => sf}

  def toColumn(f: Filter): Option[Column] = f match {
    case sf.EqualTo(a, v)            => leaf(v)(col(a) === lit(v))
    case sf.EqualNullSafe(a, v)      => leaf(v)(col(a) <=> lit(v))
    case sf.GreaterThan(a, v)        => leaf(v)(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => leaf(v)(col(a) >= lit(v))
    case sf.LessThan(a, v)           => leaf(v)(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v)    => leaf(v)(col(a) <= lit(v))
    case sf.In(a, vs) =>
      scala.util.Try(col(a).isin(vs.toSeq: _*)).toOption
    case sf.IsNull(a)                => Some(col(a).isNull)
    case sf.IsNotNull(a)             => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, p)   => Some(col(a).startsWith(p))
    case sf.And(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case sf.Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case sf.Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  // lit() throws on exotic value types — a failed leaf just skips pruning
  private def leaf(v: Any)(c: => Column): Option[Column] =
    scala.util.Try(c).toOption
}

/** The BATCH relation of one lake table version — a `graft-lake` read
  * ([[GraftLakeRelation.table]]) or one `graft-lake-tx` member
  * ([[GraftLakeRelation.txMember]]). It is told how to resolve the table
  * version it serves: `explicitPin`, fixed for the relation's lifetime,
  * or else `tip()` pinned PER SQL EXECUTION ([[PerExecutionPin]]): every
  * scan planned under one execution reads ONE version (a self-join can
  * never mix two — the Delta snapshot rule), while a NEW action
  * re-resolves — so a relation cached in the session catalog's table
  * cache (the V1 CREATE TABLE path, which Spark resolves once and
  * reuses) serves fresh commits instead of the version current at first
  * resolution. Pushed filters feed the stats pruning of every pin,
  * current and historical alike; Spark re-applies every filter above. */
private[sources] class GraftLakeRelation(val sqlContext: SQLContext,
    root: String, explicitPin: Option[Long], tip: () => Long)
    extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession

  private val tipPin = new PerExecutionPin(tip)

  // committed versions are immutable: one log replay per served
  // version for the relation's lifetime, shared by schema, sizing and
  // every scan
  private val states =
    scala.collection.concurrent.TrieMap.empty[Long, LakeFormat.LakeState]
  private def pinnedState(): LakeFormat.LakeState = {
    val v = explicitPin.getOrElse(tipPin(spark))
    if (states.size > 8) states.clear()
    states.getOrElseUpdate(v, LakeFormat.state(spark, root, Some(v)))
  }

  override val schema: StructType =
    LakeFormat.readState(spark, root, pinnedState()).schema

  /** Recorded per-file bytes OF THE SERVED VERSION, so the planner can
    * size THIS relation (e.g. auto-broadcast a small lake dim in a
    * join) instead of assuming the conservative default — and a
    * time-travel relation reports the historical version's size, not
    * the current tip's. Logs predating byte recording fall back to the
    * default — never report a fake small size. */
  override def sizeInBytes: Long = {
    val files = pinnedState().files
    if (files.nonEmpty && files.forall(_.bytes > 0L)) files.map(_.bytes).sum
    else super.sizeInBytes
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val st = pinnedState()
    // an empty requiredColumns (count(*)) projects to zero-width rows
    // instead of the full row
    val df = filters.toSeq.flatMap(LakeFilters.toColumn)
      .reduceOption(_ && _) match {
      case Some(p) => LakeFormat.scanState(spark, root, st, p).df
      case None    => LakeFormat.readState(spark, root, st)
    }
    df.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

private[sources] object GraftLakeRelation {

  /** `spark.read.format("graft-lake")`: the version an explicit
    * versionAsOf / timestampAsOf names (the last version whose recorded
    * commit wall-clock is ≤ the requested instant, epoch ms or
    * ISO-8601), else the per-execution tip. The one writable relation:
    * SQL `INSERT INTO t SELECT ...` / `INSERT OVERWRITE t ...` over a
    * catalog-registered table (Spark matches columns by position
    * against the schema and casts before calling) commits, and the next
    * action's pin serves the commit. Time-travel relations refuse
    * writes. */
  def table(sqlContext: SQLContext, root: String,
      parameters: Map[String, String]): GraftLakeRelation with InsertableRelation = {
    val spark = sqlContext.sparkSession
    val byV = LakeStreamSources.opt(parameters, "versionAsOf")
    val byT = LakeStreamSources.opt(parameters, "timestampAsOf")
    require(byV.isEmpty || byT.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val explicit = byV.map(_.toLong)
      .orElse(byT.map(s => LakeFormat.versionAtTimestamp(spark, root,
        LakeFormat.parseTsOption(s))))
    new GraftLakeRelation(sqlContext, root, explicit,
        () => LakeFormat.listLogVersions(spark, root).max)
        with InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        require(explicit.isEmpty,
          "cannot INSERT into a versionAsOf/timestampAsOf time-travel relation")
        if (overwrite) LakeFormat.overwrite(data, root)
        else LakeFormat.append(data, root)
        ()
      }
    }
  }

  /** `spark.read.format("graft-lake-tx").option("table", t)`: member `t`
    * at the version the manifest `manifestAsOf` pins, else the current
    * manifest's pin resolved per execution — a concurrent commitTx
    * between two scans of one query cannot split it across two
    * transaction-consistent views. */
  def txMember(sqlContext: SQLContext, root: String, table: String,
      manifestAsOf: Option[Long]): GraftLakeRelation = {
    val spark = sqlContext.sparkSession
    def pinAt(mv: Long): Long = {
      val pins = LakeTx.manifest(spark, root, Some(mv))
      require(pins.contains(table), s"$table not a member of $root")
      pins(table)
    }
    new GraftLakeRelation(sqlContext, LakeTx.tableRoot(root, table),
      manifestAsOf.map(pinAt),
      () => pinAt(LakeTx.manifestVersion(spark, root)))
  }
}

/** Per-SQL-execution version pinning for the batch relations: scans
  * planned under ONE execution id share a resolution (consistency —
  * a self-join over one relation reads one table version), a new
  * execution re-resolves (freshness — catalog-cached relations serve
  * new commits), and resolution outside any execution (explain, direct
  * buildScan) is per-call. The map is bounded: entries are tiny and
  * cleared past 64 — an execution never needs another's pin again. */
private[sources] final class PerExecutionPin(resolve: () => Long) {
  private val pins = scala.collection.concurrent.TrieMap.empty[String, Long]
  def apply(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty("spark.sql.execution.id")) match {
      case Some(id) =>
        if (pins.size > 64) pins.clear()
        pins.getOrElseUpdate(id, resolve())
      case None => resolve()
    }
}

/** The change feed as a BATCH relation (`readChangeFeed=true`): the
  * requested commit range's c/u/d rows, read from the range's
  * removed/added files only — never the table. Filters are left to
  * Spark (the feed is a computed diff; file pruning does not apply),
  * column pruning rides Catalyst. Retention: a range reaching past
  * vacuum fails loudly at materialization, the readAsOf contract. */
private[sources] class GraftLakeChangeFeedRelation(
    val sqlContext: SQLContext, root: String, fromV: Long,
    toV: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession

  // an explicit endingVersion is fixed; otherwise the end is the tip
  // pinned PER EXECUTION — two scans of one relation in one query
  // serve one commit range, a new action serves newly landed commits
  private val tipPin = new PerExecutionPin(
    () => LakeFormat.listLogVersions(spark, root).max)
  private def endV(): Long = toV.getOrElse(tipPin(spark))

  override val schema: StructType = LakeFormat.changeFeedSchema(spark, root)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val end = endV()
    val df0 =
      if (fromV > end) spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
      else LakeFormat.changeFeed(spark, root, fromV, end)
    // conform to the pinned widest schema (a range predating a
    // later-added column null-fills it, the streaming source's rule)
    val df = df0.select(schema.fields.toSeq.map { f =>
      if (df0.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val filtered = filters.toSeq.flatMap(LakeFilters.toColumn)
      .reduceOption(_ && _).map(df.filter).getOrElse(df)
    filtered.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

private[sources] object LakeStreamSources {
  /** Default per-trigger version cap when `maxCommitsPerTrigger` /
    * `maxManifestsPerTrigger` is unset — the Delta convention (its
    * `maxFilesPerTrigger` defaults to 1000). Without a default, a
    * stream started at startingVersion=1 against a long history plans
    * its ENTIRE catch-up in ONE micro-batch: O(#versions) driver-side
    * log reads and plan pieces before the first row moves. Opt out
    * explicitly with option(<key>, "none"). */
  val DefaultMaxVersionsPerTrigger: Long = 1000L

  def rootOf(parameters: Map[String, String], name: String): String =
    parameters.get("path").orElse(parameters.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"$name needs a table root: .load(<root>) or option(\"path\", ...)"))

  /** Case-insensitive option lookup: SQL `OPTIONS (keyCols '...')` and
    * `option("keyCols", ...)` may reach a V1 provider with different
    * key casing depending on the entry path. */
  def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.get(key).orElse {
      val lk = key.toLowerCase(java.util.Locale.ROOT)
      parameters.collectFirst {
        case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == lk => v
      }
    }

  def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other               => other.json.trim.toLong
  }
}

/** Shared offset mechanics of the two lake streaming sources: versions
  * (commit or manifest) as LongOffsets, a persisted high-water mark in
  * the Spark-managed metadataPath so rate limiting stays monotonic
  * across restarts, startingVersion/latest floors, and the
  * batch-DataFrame re-tag ([[GraftBridge.streamingDataFrame]]).
  */
private[sources] abstract class LakeVersionedSource(
    protected val spark: SparkSession, metadataPath: String,
    parameters: Map[String, String], formatName: String,
    maxPerTriggerKey: String)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // in the BASE class, before `floor` — a subclass val would not be
  // initialized yet when floor's "latest" branch calls tip()
  protected val root: String =
    LakeStreamSources.rootOf(parameters, formatName)

  /** The current highest committed version of the underlying log. */
  protected def tip(): Long

  /** The feed plan for versions [fromV, toV] (both ≥ 1, fromV ≤ toV),
    * already conformed to [[schema]]. */
  private[sources] def batchPlan(fromV: Long, toV: Long): DataFrame

  /** Data bytes version `v` ADDED to the log — the admission metric for
    * `maxBytesPerTrigger` (driver cost: one small log read per admitted
    * version, the same reads [[batchPlan]] pays anyway). */
  private[sources] def versionBytes(v: Long): Long

  // Rate limit defaults ON ([[LakeStreamSources.DefaultMaxVersionsPerTrigger]]):
  // an unbounded catch-up batch is an operability hazard, not a feature.
  private[sources] val maxPerTrigger: Option[Long] =
    parameters.get(maxPerTriggerKey) match {
      case Some("none") => None
      case Some(s) =>
        val v = s.toLong
        require(v > 0, s"$maxPerTriggerKey must be positive, got $v")
        Some(v)
      case None => Some(LakeStreamSources.DefaultMaxVersionsPerTrigger)
    }

  // Byte-aware admission: cap the trigger's version window by ADDED
  // bytes — offsets stay whole versions (a commit/manifest is the
  // atomicity grain; splitting one would tear the alignment contract),
  // so one commit larger than the cap still forms a one-commit batch.
  private[sources] val maxBytesPerTrigger: Option[Long] =
    parameters.get("maxBytesPerTrigger").map { s =>
      val v = s.toLong
      require(v > 0, s"maxBytesPerTrigger must be positive, got $v")
      v
    }

  /** The recorded commit wall-clock of version `v`, 0 when unknown —
    * pruned-from-retention and pre-stamping commits both read 0 and
    * therefore sort as OLDER than any requested startingTimestamp. */
  protected def versionTs(v: Long): Long

  /** Highest version this stream must NOT serve again — the exclusive
    * start of the first batch. `latest` anchors at the tip ONCE, durably
    * (the Kafka consumer-group shape: the first start picks the anchor,
    * restarts honor it — without persistence, a restart before any batch
    * would silently re-anchor at a NEWER tip and skip the gap).
    * `startingTimestamp` (epoch ms or ISO-8601) resolves to the first
    * version whose recorded commit wall-clock is ≥ the instant — or the
    * tip when none is yet (tail only future commits) — and persists the
    * resolution durably for the same restart-determinism reason. */
  private val floor: Long = (parameters.get("startingVersion"),
      LakeStreamSources.opt(parameters, "startingTimestamp")) match {
    case (Some(_), Some(_)) => throw new IllegalArgumentException(
      "startingVersion and startingTimestamp are mutually exclusive")
    case (Some("latest"), _) =>
      LakeFormat.consumerOffset(spark, metadataPath).getOrElse {
        val t = tip()
        LakeFormat.commitConsumerOffset(spark, metadataPath, t)
        t
      }
    case (Some(v), _) =>
      val sv = v.toLong
      require(sv >= 1, s"startingVersion must be ≥ 1 or 'latest', got $sv")
      sv - 1
    case (None, Some(s)) =>
      LakeFormat.consumerOffset(spark, metadataPath).getOrElse {
        val ts = LakeFormat.parseTsOption(s)
        val t = tip()
        val found = (1L to t).find(v => versionTs(v) >= ts)
        // ts=0 on the predecessor means pruned-or-unstamped history: a
        // commit at-or-after the requested instant may have lived there
        // — refuse loudly rather than silently skip it (the
        // versionAtTimestamp pruned-gap rule)
        found.filter(_ > 1L).foreach { v =>
          if (versionTs(v - 1L) == 0L) throw new IllegalStateException(
            s"startingTimestamp $s reaches into history pruned from (or " +
              s"predating timestamp stamping of) the log at $root — " +
              "commits before v" + v + " cannot be timestamp-resolved; " +
              "use startingVersion, or a timestamp at-or-after v" + v)
        }
        // no stamped commit at-or-after ts: anchoring at the tip (tail
        // only future commits) is only sound if the tip PROVABLY
        // predates ts — an unstamped tip proves nothing, and silently
        // skipping the whole history would lose commits the user asked
        // for (a fully pre-stamping log hits this)
        if (found.isEmpty && t >= 1L && versionTs(t) == 0L)
          throw new IllegalStateException(
            s"the log at $root has no timestamp-resolvable commits " +
              s"(pre-stamping or pruned) — startingTimestamp cannot " +
              "anchor; use startingVersion")
        val f = found.map(_ - 1L).getOrElse(t)
        LakeFormat.commitConsumerOffset(spark, metadataPath, f)
        f
      }
    case (None, None) => 0L
  }

  // Monotonic high-water mark ACROSS RESTARTS: getOffset must never
  // offer less than an offset already in the checkpoint, or a
  // rate-limited restart would walk the offset log backward and
  // re-deliver committed batches. Persisted in the Spark-managed
  // metadataPath (inside the checkpoint — dies with it, consistently)
  // with the atomic pointer-overwrite discipline.
  private var lastEnd: Long = math.max(floor,
    LakeFormat.consumerOffset(spark, metadataPath).getOrElse(0L))

  // Trigger.AvailableNow (the FileStreamSource pattern — a V1 Source
  // implementing SupportsTriggerAvailableNow): the engine calls
  // prepare() once at query start, then loops rate-limited batches
  // until the source stops advancing; capping the offered tip at the
  // prepared point makes the query drain exactly the backlog present
  // at start and terminate, without disabling maxPerTrigger.
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(tip())

  private def nextAvailable(): Option[Long] = {
    val t0 = tip()
    val t = availableNowCap.fold(t0)(math.min(t0, _))
    var avail = maxPerTrigger.map(m => math.min(t, lastEnd + m)).getOrElse(t)
    maxBytesPerTrigger.foreach { cap =>
      // admit whole versions until the NEXT one would cross the cap;
      // the first version is always admitted (progress guarantee)
      var end = lastEnd
      var acc = 0L
      var open = true
      while (open && end < avail) {
        val b = versionBytes(end + 1)
        if (end == lastEnd || acc + b <= cap) { end += 1; acc += b }
        else open = false
      }
      avail = end
    }
    if (avail > lastEnd) {
      lastEnd = avail
      LakeFormat.commitConsumerOffset(spark, metadataPath, avail)
    }
    if (lastEnd <= floor) None else Some(lastEnd)
  }

  // the admission-control entry the engine uses when the source
  // declares it (our rate limit is version-based, so the engine's
  // ReadLimit vocabulary — rows/files/bytes — stays allAvailable and
  // the cap is applied here)
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    nextAvailable().map(LongOffset(_)).orNull

  override def getOffset: Option[OffsetV1] =
    nextAvailable().map(LongOffset(_))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val fromV = start.map(LakeStreamSources.versionOf).getOrElse(floor) + 1
    val toV = LakeStreamSources.versionOf(end)
    // `start` is always a DURABLY COMMITTED offset (the engine runs
    // batches serially: batch N only starts after N-1's sink completed
    // and its commit-log entry landed; on restart it is the recovered
    // committed offset) — acknowledge it eagerly, because the engine's
    // own Source.commit callback fires lazily (next trigger / restart)
    start.foreach(s => acknowledged(LakeStreamSources.versionOf(s)))
    // a restart may hand us an end we never offered this incarnation
    if (toV > lastEnd) {
      lastEnd = toV
      LakeFormat.commitConsumerOffset(spark, metadataPath, toV)
    }
    val batch =
      if (fromV > toV) // recovery no-op batch: schema-true and empty
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), schema)
      else batchPlan(fromV, toV)
    GraftBridge.streamingDataFrame(batch)
  }

  /** Conform a feed plan to the pinned [[schema]]: null-fill columns
    * commits predate, REFUSE columns the pin lacks (additive evolution
    * mid-stream — restarting re-pins). TYPES are enforced too, not just
    * names: a column whose type diverged from the pin is losslessly
    * up-cast when possible ([[LakeFormat.losslessUpCast]] — e.g. an old
    * int vintage under a pinned long) and refused with the same
    * restart-to-re-pin failure otherwise — a silent select-by-name
    * would hand the engine a DataFrame whose type contradicts the
    * analyzed sourceSchema. */
  private[sources] def conform(df: DataFrame, pinned: StructType,
      root: String): DataFrame = {
    val extra = df.columns.filterNot(pinned.fieldNames.contains)
    if (extra.nonEmpty) throw new IllegalStateException(
      s"lake table at $root evolved mid-stream: column(s) " +
        s"${extra.mkString(", ")} are not in this query's pinned schema" +
        " — restart the streaming query to pick up the evolved schema")
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(pinned.fields.toSeq.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(t) if t == f.dataType => col(f.name)
        case Some(t) if LakeFormat.losslessUpCast(t, f.dataType) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(t) => throw new IllegalStateException(
          s"lake table at $root evolved mid-stream: column ${f.name} is " +
            s"$t but this query pinned ${f.dataType} — restart the " +
            "streaming query to re-pin the evolved schema")
      }
    }: _*)
  }

  /** A version whose batch the engine has durably committed — hook for
    * subclasses maintaining a consumer-registry floor. May trail the
    * checkpoint by one batch (commit callbacks are lazy), which only
    * errs conservative: vacuum holds slightly more history. */
  protected def acknowledged(v: Long): Unit = ()

  override def commit(end: OffsetV1): Unit =
    acknowledged(LakeStreamSources.versionOf(end))
  override def stop(): Unit = ()
}

private[sources] class GraftLakeSource(spark0: SparkSession,
    metadataPath: String, parameters: Map[String, String])
    extends LakeVersionedSource(spark0, metadataPath, parameters,
      "graft-lake", "maxCommitsPerTrigger") {

  override val schema: StructType = LakeFormat.changeFeedSchema(spark, root)

  // option("consumerName", ...) registers this stream in the TABLE's
  // consumer registry ([[LakeFormat.registerConsumer]]) at query start
  // and advances the registered offset as the engine acknowledges
  // batches — so vacuum proactively refuses to reclaim history the
  // stream still needs, instead of the stream failing at its next
  // batch. The pointer may trail the checkpoint by one batch (safe
  // direction). Without a name the stream is anonymous: protected only
  // by the read-time loud failure.
  private val registeredDir: Option[String] =
    parameters.get("consumerName")
      .map(n => LakeFormat.registerConsumer(spark, root, n))

  override protected def tip(): Long =
    LakeFormat.listLogVersions(spark, root).max

  override private[sources] def batchPlan(fromV: Long, toV: Long): DataFrame =
    conform(LakeFormat.changeFeed(spark, root, fromV, toV), schema, root)

  override private[sources] def versionBytes(v: Long): Long =
    LakeFormat.commitAddedBytes(spark, root, v)

  override protected def versionTs(v: Long): Long =
    scala.util.Try(LakeFormat.commitTimestampMs(spark, root, v))
      .getOrElse(0L)

  // monotonic-advance form: tolerant of a second query sharing the
  // consumerName (the higher pointer wins — the safe direction)
  override protected def acknowledged(v: Long): Unit =
    registeredDir.foreach(d => LakeFormat.advanceConsumerOffset(spark, d, v))
}

private[sources] object GraftLakeTxSource {
  /** The union of the member tables' feed schemas (same-name columns
    * must type-agree) tagged with `_table` and `_manifest_version`. */
  def feedSchema(spark: SparkSession, root: String): StructType = {
    val pins = LakeTx.manifest(spark, root)
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    pins.keys.toSeq.sorted.foreach { t =>
      LakeFormat.changeFeedSchema(spark, LakeTx.tableRoot(root, t))
        .fields.foreach { f =>
          fields.get(f.name) match {
            case Some(seen) => require(seen.dataType == f.dataType,
              s"member tables of $root disagree on column ${f.name}: " +
                s"${seen.dataType} vs ${f.dataType} — a single tx stream " +
                "needs union-compatible member schemas")
            case None => fields += f.name -> f.copy(nullable = true)
          }
        }
    }
    StructType(
      StructField("_table", StringType, nullable = false) +:
        fields.values.toSeq :+
        StructField("_manifest_version", LongType, nullable = false))
  }
}

private[sources] class GraftLakeTxSource(spark0: SparkSession,
    metadataPath: String, parameters: Map[String, String])
    extends LakeVersionedSource(spark0, metadataPath, parameters,
      "graft-lake-tx", "maxManifestsPerTrigger") {

  override val schema: StructType = GraftLakeTxSource.feedSchema(spark, root)

  // option("consumerName", ...): register in the TX root's consumer
  // registry so LakeTx.vacuum holds manifest history for this stream —
  // the GraftLakeSource semantics at the manifest layer (pointer may
  // trail the checkpoint by one batch, the safe direction)
  private val registeredDir: Option[String] =
    parameters.get("consumerName")
      .map(n => LakeTx.registerConsumer(spark, root, n))

  override protected def acknowledged(v: Long): Unit =
    registeredDir.foreach(d => LakeFormat.advanceConsumerOffset(spark, d, v))

  override protected def tip(): Long = LakeTx.manifestVersion(spark, root)

  override protected def versionTs(mv: Long): Long =
    scala.util.Try(LakeFormat.commitTimestampMs(spark,
      LakeTx.txLogRoot(root), mv)).getOrElse(0L)

  /** Bytes a MANIFEST version admits = the sum of its advanced members'
    * commit-range added bytes — one manifest pair read plus one small
    * log read per advanced commit, the same reads [[batchPlan]] pays. */
  override private[sources] def versionBytes(mv: Long): Long =
    LakeTx.memberRanges(spark, root, mv, mv).flatMap(_._2).map {
      case (t, lo, hi) => (lo to hi).map(v =>
        LakeFormat.commitAddedBytes(spark, LakeTx.tableRoot(root, t), v)).sum
    }.sum

  /** One piece per (manifest step, advanced member): that member's
    * change feed between its previous and new pins, tagged, unioned
    * with the change feed's lineage cut ([[LakeFormat.unionCut]]) — a
    * long catch-up range stays bounded-depth. */
  override private[sources] def batchPlan(fromM: Long, toM: Long): DataFrame = {
    val pieces = LakeTx.memberRanges(spark, root, fromM, toM).flatMap {
      case (mv, ranges) => ranges.map { case (t, lo, hi) =>
        conform(
          LakeFormat.changeFeed(spark, LakeTx.tableRoot(root, t), lo, hi)
            .withColumn("_table", lit(t))
            .withColumn("_manifest_version", lit(mv)),
          schema, root)
      }
    }
    if (pieces.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else LakeFormat.unionCut(pieces)
  }
}

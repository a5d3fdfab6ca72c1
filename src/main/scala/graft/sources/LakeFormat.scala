package graft.sources

import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Or}

/** A minimal LAKEHOUSE TABLE FORMAT: an ACID, multi-writer, file-level
  * transaction log over immutable parquet data files — the table layer a
  * CDC pipeline lands its replicas in (the reference's "maintaining data
  * replicas" purpose, ez-cdc README.md:62-63, industrialized: the
  * consumer's one-row-at-a-time UPSERT/DELETE, main.py:29-39, becomes a
  * transactional file-level MERGE). The protocol is the public Delta
  * Lake / Iceberg design space re-derived on the Hadoop FileSystem API —
  * no table-format dependency, same guarantees:
  *
  * Layout under `root`:
  * {{{
  *   root/_log/<v padded to 20>.json        one commit: JSON action lines
  *   root/_log/<v>.checkpoint.json          log checkpoint (replay shortcut)
  *   root/data/<uuid>.parquet               immutable data files
  * }}}
  *
  * Actions (one JSON object per line): `meta` (version 0 only — key
  * columns, merge order/tombstone columns, stats columns), `add` (path,
  * row count, file schema DDL, per-column min/max/null-count stats) and
  * `remove` (path). A snapshot at version V is the add-set minus the
  * remove-set of commits 0..V; data files are never mutated, so every
  * historical version stays readable until [[vacuum]] reclaims it
  * (time travel, [[readAsOf]]).
  *
  * COMMIT is optimistic concurrency on the log, not a lock on the data:
  * a writer prepares its data files, then claims version V by renaming a
  * temp file to `_log/V.json` WITHOUT overwrite — on HDFS-semantics
  * filesystems that rename is atomic and fails if the name is taken, so
  * exactly one of two racing writers wins V. Every write commits through
  * ONE rule set ([[commit]]) over the commits that landed since it read:
  * one carrying the writer's own exactly-once marker means a replay of
  * the same write landed first — the writer drops its files and returns
  * the tip; one that overlaps the writer's read/write set (its per-write
  * conflict rule — none for a blind append, every action for an
  * overwrite) aborts with ConcurrentModificationException; anything else
  * rebases to the new tip. In-JVM racers are additionally serialized per
  * root so the local-filesystem rename (whose no-overwrite check is not
  * atomic on POSIX) is race-free in tests; an object store without
  * atomic create-if-absent needs the usual external
  * log-store/conditional-PUT shim — the same requirement the public
  * Delta protocol documents.
  *
  * SCALE: the log is the only driver-side state — O(#files) entries,
  * checkpointed every [[checkpoint]] call so replay reads one checkpoint
  * file plus the JSON tail instead of the whole history, with no Spark
  * job: a checkpoint is the commits' own encoding (an `add` line per
  * live file, a `txn` line per app), claimed like a commit. Parquet
  * checkpoint directories of older trees are not listed: such a table
  * replays from its JSON entries, or fails loudly on a missing entry
  * that [[pruneLog]] removed — never a wrong state. Reads prune files
  * by the per-column min/max stats BEFORE any scan ([[scan]]): a
  * predicate that touches 1% of a 100 TB table's key range opens ~1% of
  * its files. Those stats are gathered by the write tasks while they
  * write each file, so every write (merge, append, overwrite, optimize,
  * delete, update) is one write job with no read-back. MERGE rewrites
  * only the files that actually contain touched keys — stats-pruned
  * first, then confirmed by one key-probe scan — so applying a
  * kilobyte-sized CDC batch never rewrites terabytes, in five Spark
  * jobs ([[merge]]).
  */
object LakeFormat {

  /** Per-file, per-column stats: min/max as strings (None when the file
    * is all-NULL for the column), the column's Spark type name (drives
    * numeric-vs-lexicographic comparison), and the NULL count. */
  final case class ColStats(typ: String, min: Option[String],
      max: Option[String], nulls: Long)

  /** `bytes` is the on-disk file size — the input to size-aware
    * [[optimize]] selection (logs written before the field read back 0,
    * which [[smallFiles]] treats as "compact me": re-compacting an
    * already-well-sized legacy file is harmless, skipping a fragmented
    * one is not). */
  final case class AddFile(path: String, rows: Long, schemaDdl: String,
      stats: Map[String, ColStats], bytes: Long = 0L)

  /** Table-lifetime metadata, fixed at [[create]]: `keyCols` + `orderCol`
    * (the LSN-style total order) + `liveCol` (tombstone flag) define
    * MERGE semantics; `statsCols` are the columns [[scan]] can prune on;
    * `partitionCols` lay files out hive-style (`data/day=5/…`) — each
    * file's partition values are folded into its stats as min=max
    * singletons, so partition pruning rides the SAME stats machinery as
    * range pruning, and the original column types are preserved on read
    * via the recorded per-vintage schema (never re-inferred from paths). */
  final case class LakeMeta(keyCols: Seq[String], orderCol: String,
      liveCol: String, statsCols: Seq[String],
      partitionCols: Seq[String] = Seq.empty,
      schemaDdl: Option[String] = None)

  /** `txns` carries the highest applied transaction version per writer
    * application id (the Delta `txn` action): a streaming sink commits
    * its (appId, batchId) marker ATOMICALLY with the batch's merge, so a
    * crash replay of the same micro-batch reads the marker and no-ops —
    * exactly-once without a second coordination system. */
  final case class LakeState(version: Long, meta: LakeMeta,
      files: Seq[AddFile], txns: Map[String, Long] = Map.empty)

  /** A pruned read: `df` is the filtered scan over `keptFiles` of the
    * snapshot's `totalFiles` — the skipping ratio is the caller-visible
    * proof that stats pruning engaged. */
  final case class LakeScan(df: DataFrame, keptFiles: Long, totalFiles: Long)

  // ------------------------------------------------------------ plumbing

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir(root: String) = new Path(root, "_log")
  private def logFile(root: String, v: Long) =
    new Path(logDir(root), f"$v%020d.json")
  private def checkpointFile(root: String, v: Long) =
    new Path(logDir(root), f"$v%020d.checkpoint.json")

  /** Delete log entries below `floorV` — retention for SELF-CONTAINED
    * logs whose every version is readable on its own ([[LakeTx]]'s
    * manifest log: each version carries the full pin map). NOT legal on
    * a data-table log, whose state is the fold of all versions — data
    * tables compact through [[checkpoint]] instead. `olderThanMs` is the
    * same in-flight guard as [[vacuum]]'s. Returns the pruned versions. */
  private[sources] def pruneLogBelow(spark: SparkSession, root: String,
      floorV: Long, olderThanMs: Long): Seq[Long] = {
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    listLogVersions(spark, root).filter(_ < floorV).sorted
      .filter(v => now - f.getFileStatus(logFile(root, v))
        .getModificationTime >= olderThanMs)
      .map { v => f.delete(logFile(root, v), false); v }
  }

  // one lock per root in this JVM: serializes the [read tip, claim tip+1]
  // window so local-FS racers (tests, a bench and a stream in one JVM)
  // can't both pass the no-overwrite check before either renames
  private val commitLocks = TrieMap.empty[String, Object]
  private[sources] def lockFor(root: String): Object =
    commitLocks.getOrElseUpdate(root, new Object)

  /** One `_log` listing: (commit versions, checkpoint versions). Names
    * starting with a dot are unclaimed temp files ([[claim]]); a claimed
    * name is complete, so no per-entry probe is needed. */
  private def listLog(spark: SparkSession,
      root: String): (Seq[Long], Seq[Long]) = {
    val f = fs(spark, root)
    val d = logDir(root)
    val names =
      if (!f.exists(d)) Seq.empty
      else f.listStatus(d).toSeq.map(_.getPath.getName)
        .filterNot(_.startsWith("."))
    def versions(suffix: String) =
      names.filter(_.endsWith(suffix)).flatMap(_.stripSuffix(suffix).toLongOption)
    (versions(".json"), versions(".checkpoint.json"))
  }

  private[sources] def listLogVersions(spark: SparkSession, root: String): Seq[Long] =
    listLog(spark, root)._1

  /** Committed checkpoint versions. */
  private[sources] def listCheckpointVersions(spark: SparkSession,
      root: String): Seq[Long] =
    listLog(spark, root)._2

  // ------------------------------------------------------------ JSON

  private[sources] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def statsJson(st: Map[String, ColStats]): String =
    st.toSeq.sortBy(_._1).map { case (c, s) =>
      def opt(v: Option[String]) = v.map(x => "\"" + esc(x) + "\"").getOrElse("null")
      s""""${esc(c)}":{"typ":"${esc(s.typ)}","min":${opt(s.min)},"max":${opt(s.max)},"nulls":${s.nulls}}"""
    }.mkString("{", ",", "}")

  private def addJson(a: AddFile): String =
    s"""{"add":{"path":"${esc(a.path)}","rows":${a.rows},"bytes":${a.bytes},"schemaDdl":"${esc(a.schemaDdl)}","stats":${statsJson(a.stats)}}}"""
  private def removeJson(p: String): String =
    s"""{"remove":{"path":"${esc(p)}"}}"""
  private def txnJson(appId: String, version: Long): String =
    s"""{"txn":{"appId":"${esc(appId)}","version":$version}}"""
  private def commitJson(id: String, op: String, ts: Long): String =
    s"""{"commit":{"id":"${esc(id)}","op":"${esc(op)}","ts":$ts}}"""
  private def metaJson(m: LakeMeta): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val schema = m.schemaDdl.map(d => s""","schemaDdl":"${esc(d)}"""").getOrElse("")
    s"""{"meta":{"keyCols":${arr(m.keyCols)},"orderCol":"${esc(m.orderCol)}","liveCol":"${esc(m.liveCol)}","statsCols":${arr(m.statsCols)},"partitionCols":${arr(m.partitionCols)}$schema}}"""
  }

  // Jackson ships with Spark; thread-safe after construction
  private[sources] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseStats(n: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, ColStats] =
    n.properties().asScala.map { e =>
      val v = e.getValue
      def opt(f: String) =
        if (v.get(f) == null || v.get(f).isNull) None else Some(v.get(f).asText)
      e.getKey -> ColStats(v.get("typ").asText, opt("min"), opt("max"),
        v.get("nulls").asLong)
    }.toMap

  private sealed trait Action
  private final case class AddA(a: AddFile) extends Action
  private final case class RemoveA(path: String) extends Action
  private final case class MetaA(m: LakeMeta) extends Action
  private final case class TxnA(appId: String, version: Long) extends Action
  // writer id + operation name + wall-clock — replay-inert bookkeeping
  // (op/ts absent in pre-r17 logs read back ""/0; nothing replays them)
  private final case class CommitA(id: String, op: String = "",
      ts: Long = 0L) extends Action

  private def parseLine(line: String): Action = {
    val n = mapper.readTree(line)
    if (n.has("add")) {
      val a = n.get("add")
      AddA(AddFile(a.get("path").asText, a.get("rows").asLong,
        a.get("schemaDdl").asText, parseStats(a.get("stats")),
        // absent in pre-bytes logs → 0 (smallFiles treats it as "compact")
        if (a.get("bytes") == null) 0L else a.get("bytes").asLong))
    } else if (n.has("remove")) RemoveA(n.get("remove").get("path").asText)
    else if (n.has("txn"))
      TxnA(n.get("txn").get("appId").asText, n.get("txn").get("version").asLong)
    else if (n.has("commit")) {
      val c = n.get("commit")
      CommitA(c.get("id").asText,
        if (c.get("op") == null) "" else c.get("op").asText,
        if (c.get("ts") == null) 0L else c.get("ts").asLong)
    }
    else if (n.has("meta")) {
      val m = n.get("meta")
      def arr(f: String) = // absent field (pre-partition logs) reads empty
        if (m.get(f) == null) Seq.empty
        else m.get(f).elements().asScala.map(_.asText).toSeq
      MetaA(LakeMeta(arr("keyCols"), m.get("orderCol").asText,
        m.get("liveCol").asText, arr("statsCols"), arr("partitionCols"),
        Option(m.get("schemaDdl")).map(_.asText)))
    } else throw new IllegalArgumentException(s"unknown lake action: $line")
  }

  private def readLines(spark: SparkSession, p: Path): Seq[String] = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  private[sources] def readLogLines(spark: SparkSession, root: String,
      v: Long): Seq[String] =
    readLines(spark, logFile(root, v))

  // ------------------------------------------------------------ commit

  /** Claim `target` in `_log` atomically: temp write + rename WITHOUT
    * overwrite — false when another writer already owns the name. The
    * one publish of the log: commits ([[tryCommit]]) and checkpoints
    * ([[writeCheckpointFile]]).
    *
    * After the rename the claimed file is RE-READ and verified to hold
    * this writer's `lines`: on HDFS-semantics filesystems the
    * no-overwrite rename is atomic and the readback is a cheap no-op
    * check, but on POSIX local filesystems (and object stores without
    * conditional PUT) the existence check inside rename is NOT atomic —
    * two out-of-process writers can both pass it and the second rename
    * silently replaces the first. The readback detects the replaced
    * writer, which returns false instead of silently losing its write.
    * (In-JVM committers are fully serialized by [[lockFor]]; the
    * readback narrows the cross-process window to the rename→readback
    * instant — the same residual the public Delta protocol closes with
    * an external log store, documented here rather than hidden.) A
    * crash before the rename leaves a `_log/.tmp-*` file, which no
    * listing reads and [[vacuum]] reclaims. */
  private def claim(spark: SparkSession, root: String, target: Path,
      lines: Seq[String]): Boolean = {
    val f = fs(spark, root)
    f.mkdirs(logDir(root))
    val tmp = new Path(logDir(root), s".tmp-${UUID.randomUUID.toString.take(12)}")
    val out = f.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val fc = FileContext.getFileContext(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    try {
      fc.rename(tmp, target)
      // ownership readback — never delete the file on mismatch: the
      // bytes there are the WINNER's
      readLines(spark, target) == lines
    }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException
           | _: java.nio.file.FileAlreadyExistsException
           | _: org.apache.hadoop.fs.PathExistsException =>
        f.delete(tmp, false); false
    }
  }

  /** Claim log version `v` for `lines` ([[claim]]). Each commit leads
    * with a `commit` action carrying a fresh writer UUID, so two writers'
    * commits never read back alike: a writer whose claim another
    * replaced retries at the next version. */
  private[sources] def tryCommit(spark: SparkSession, root: String, v: Long,
      lines: Seq[String], op: String = ""): Boolean =
    claim(spark, root, logFile(root, v),
      commitJson(UUID.randomUUID.toString, op, System.currentTimeMillis()) +:
        lines)

  /** Create an empty table: commit version 0 carrying only the `meta`
    * action. Throws if a log already exists at `root`. `schema` is the
    * optional create-time schema: a zero-file table then analyzes scans
    * and serves empty reads with its REAL declared columns and types
    * instead of a keyCols-as-long fabrication. */
  def create(spark: SparkSession, root: String, keyCols: Seq[String],
      orderCol: String = "lsn", liveCol: String = "live",
      statsCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      schema: Option[StructType] = None): Unit = lockFor(root).synchronized {
    require(listLogVersions(spark, root).isEmpty,
      s"lake table already exists at $root")
    val m = LakeMeta(keyCols, orderCol, liveCol, statsCols, partitionCols,
      schema.map(_.toDDL))
    if (!tryCommit(spark, root, 0L, Seq(metaJson(m)), op = "create"))
      throw new java.util.ConcurrentModificationException(
        s"concurrent create at $root")
  }

  // ------------------------------------------------------------ replay

  /** A POINTER file: one small file naming a version, the commit point
    * of every pointer-published state here (a consumer's `_offset`, the
    * T18 generation `_LATEST`). Absent, empty,
    * unparsable and checksum-mismatched (bytes rewritten behind a
    * checksumming FileSystem's back) all read as None — a torn or foreign
    * write must never read as a committed version, and the next
    * [[writePointer]] repairs it. One `exists` and one `open`. */
  private[graft] def readPointer(spark: SparkSession, p: Path): Option[Long] = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .trim.toLongOption
      catch { case _: org.apache.hadoop.fs.ChecksumException => None }
      finally in.close()
    }
  }

  /** Publish `v` at pointer `p`: write a temp file beside it, then rename
    * it over `p` with OVERWRITE. `create(overwrite=true)` would
    * truncate-then-write, letting a concurrent reader observe an empty
    * pointer on local FS / HDFS; the rename is atomic there, and object
    * stores with atomic PUT are covered either way. */
  private[graft] def writePointer(spark: SparkSession, p: Path,
      v: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(p.getParent,
      s".${p.getName}-${UUID.randomUUID.toString.take(8)}")
    val out = tmp.getFileSystem(conf).create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Reconstruct the table state at `asOf` (default: the latest committed
    * version) on the driver: meta from commit 0, then one fold over the
    * newest checkpoint at-or-below the target (historical ones keep
    * versions replayable after [[pruneLog]]) and the JSON commits after
    * it, both found by one `_log` listing. Versions are dense (each
    * commit claims tip+1), so `asOf` beyond the tip throws rather than
    * silently serving the tip. */
  def state(spark: SparkSession, root: String,
      asOf: Option[Long] = None): LakeState = {
    val (vs, cps) = listLog(spark, root)
    require(vs.nonEmpty, s"not a lake table (no _log): $root")
    val latest = vs.max
    val target = asOf.getOrElse(latest)
    require(target >= 0L && target <= latest,
      s"version $target not committed at $root (latest=$latest)")
    val meta = readMeta(spark, root)
    val cp = cps.filter(_ <= target).maxOption
    val replay = cp.map(checkpointFile(root, _)).toSeq ++
      (cp.fold(0L)(_ + 1) to target).map(logFile(root, _))
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    replay.foreach { file =>
      readLines(spark, file).map(parseLine).foreach {
        case AddA(a)     => files += a.path -> a
        case RemoveA(p)  => files -= p
        case TxnA(app, tv) =>
          txns.updateWith(app)(p => Some(p.fold(tv)(math.max(_, tv))))
        case MetaA(_)    => () // immutable after v0
        case _: CommitA  => () // writer bookkeeping only
      }
    }
    LakeState(target, meta, files.values.toSeq, txns.toMap)
  }

  // ------------------------------------------------------------ write

  /** Write `df` as fresh immutable files under `root/data/` (inside
    * their hive partition directories when the table is partitioned) and
    * return their add actions: ONE distributed write whose tasks record
    * each file's row count and per-column min/max/null-count as they
    * write it ([[FileStatsTracker]] — the public Delta design), so no
    * job reads the new files back and no per-file driver loop touches
    * data. Partition columns are implicitly stats columns: each file
    * holds one partition tuple, so its min=max singleton IS the
    * partition value and partition pruning needs no machinery beyond
    * [[mayMatch]]. */
  private def writeData(df: DataFrame, root: String,
      meta: LakeMeta): Seq[AddFile] = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val tmp = new Path(root, s"_tmp-${UUID.randomUUID.toString.take(12)}")
    meta.partitionCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c missing from the written frame"))
    val present = (meta.statsCols ++ meta.partitionCols).distinct
      .filter(df.columns.contains)
    val tracker = new FileStatsTracker(df.schema, meta.partitionCols,
      present, spark.conf.get("spark.sql.session.timeZone"))
    org.apache.spark.sql.GraftBridge.writeParquet(df, tmp.toString,
      meta.partitionCols, Seq(tracker))
    val byFile = tracker.files
    f.mkdirs(new Path(root, "data"))
    // collect leaf part files with their partition-dir suffix preserved
    val tmpUri = tmp.toUri.getPath
    val it = f.listFiles(tmp, true)
    val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.startsWith("part-") && name.endsWith(".parquet"))
        staged += st.getPath -> st.getPath.toUri.getPath.stripPrefix(tmpUri)
          .stripPrefix("/")
    }
    val ddl = df.schema.toDDL
    val adds = staged.toSeq.flatMap { case (src, tmpRel) =>
      // a staged file the write tasks reported no stats for would commit
      // without pruning stats — refuse rather than guess
      val written = byFile.getOrElse(tmpRel, throw new IllegalStateException(
        s"no write-time stats for staged file $tmpRel"))
      if (written.rows == 0L) None // an empty task's schema-only file
      else {
        val pdir = tmpRel.split("/").dropRight(1).mkString("/")
        val rel = (if (pdir.isEmpty) "data" else s"data/$pdir") +
          s"/${UUID.randomUUID.toString}.parquet"
        f.mkdirs(new Path(root, rel).getParent)
        // rename reports failure by RETURN VALUE on most FileSystems —
        // silently proceeding would commit a log entry missing these rows
        require(f.rename(src, new Path(root, rel)),
          s"failed to publish $src as $rel")
        Some(AddFile(rel, written.rows, ddl, written.cols,
          f.getFileStatus(new Path(root, rel)).getLen))
      }
    }
    f.delete(tmp, true)
    adds
  }

  /** Table metadata without a state replay: it is immutable and lives in
    * commit 0 only — one small file read, O(1) in table age. */
  def readMeta(spark: SparkSession, root: String): LakeMeta =
    readLogLines(spark, root, 0L).map(parseLine).collectFirst {
      case MetaA(m) => m
    }.getOrElse(throw new IllegalStateException(s"no meta action in $root v0"))

  /** Whether a lake table exists at `root` (has a committed log). */
  def tableExists(spark: SparkSession, root: String): Boolean =
    listLogVersions(spark, root).nonEmpty

  /** The wall-clock recorded by version `v`'s commit action (0 for logs
    * written before op/ts stamping — such commits sort as older than
    * any requested timestamp). One small log read. */
  def commitTimestampMs(spark: SparkSession, root: String, v: Long): Long =
    readLogLines(spark, root, v)
      .flatMap(l => scala.util.Try(parseLine(l)).toOption)
      .collectFirst { case c: CommitA => c.ts }.getOrElse(0L)

  /** Parse a user-facing timestamp option: epoch millis (all digits) or
    * ISO-8601 instant (`2026-08-16T12:00:00Z`). */
  private[sources] def parseTsOption(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else java.time.Instant.parse(s).toEpochMilli

  /** TIMESTAMP-BASED TIME TRAVEL resolution: the LAST committed version
    * whose recorded commit wall-clock is ≤ `tsMs` — the state the table
    * was serving at that moment (`timestampAsOf` semantics, the public
    * Delta shape). Commit timestamps are monotone (each commit claims
    * tip+1 under wall-clock). Resolution is over the RETAINED log; when
    * the true as-of version may have been [[pruneLog]]-pruned (the
    * resolved version and the next retained one are not adjacent — the
    * gap held the commits current at `tsMs`), this throws LOUDLY
    * instead of silently serving an older state. Also throws when
    * `tsMs` predates the table. O(#retained-versions) small reads. */
  def versionAtTimestamp(spark: SparkSession, root: String,
      tsMs: Long): Long = {
    val vs = listLogVersions(spark, root).sorted
    val ts = vs.map(v => v -> commitTimestampMs(spark, root, v)).toMap
    val le = vs.filter(v => ts(v) <= tsMs)
    val r = le.lastOption.getOrElse(throw new IllegalArgumentException(
      s"timestampAsOf $tsMs predates every retained commit at $root"))
    // an UNSTAMPED resolution (ts 0 — pre-r17 log) proves nothing about
    // when v$r actually committed: refuse rather than silently serve a
    // state that may postdate the requested instant by years (the same
    // rule the streaming startingTimestamp anchor applies)
    if (ts(r) == 0L) throw new IllegalStateException(
      s"version v$r at $root predates commit-timestamp stamping — the " +
        s"state current at $tsMs cannot be timestamp-resolved; use " +
        "versionAsOf instead")
    vs.find(_ > r).foreach { next =>
      if (next != r + 1) throw new IllegalStateException(
        s"the version current at $tsMs was pruned from the log at $root " +
          s"(resolved v$r, next retained v$next) — the state at that " +
          "instant is no longer reconstructible; use versionAsOf over a " +
          "retained version instead")
    }
    r
  }

  /** Commit history, NEWEST first — the DESCRIBE HISTORY shape a table
    * operator asks for before touching retention: one row per retained
    * log version with its recorded operation name and wall-clock
    * (absent in pre-r17 logs → ""/0 — never re-derived), the add/remove
    * file counts, added rows/bytes, and any exactly-once markers the
    * commit carried. Driver cost: one small log read per returned row,
    * capped by `limit` (newest-first) — never a data-file open. */
  def history(spark: SparkSession, root: String,
      limit: Int = 1000): DataFrame = {
    import spark.implicits._
    val vs = listLogVersions(spark, root).sorted(Ordering[Long].reverse)
      .take(math.max(0, limit))
    vs.map { v =>
      // lenient parse: a log may carry actions this layer doesn't own
      // (LakeTx's `manifest` pin map) — history reports the file/commit
      // bookkeeping and skips foreign lines instead of refusing
      val acts = readLogLines(spark, root, v)
        .flatMap(l => scala.util.Try(parseLine(l)).toOption)
      val adds = acts.collect { case AddA(a) => a }
      val removes = acts.count(_.isInstanceOf[RemoveA])
      val commit = acts.collectFirst { case c: CommitA => c }
      val txns = acts.collect { case TxnA(app, tv) => s"$app=$tv" }
        .sorted.mkString(",")
      (v, commit.map(_.op).getOrElse(""),
        commit.map(_.ts).getOrElse(0L),
        adds.size.toLong, removes.toLong,
        adds.map(_.rows).sum, adds.map(_.bytes).sum, txns)
    }.toDF("version", "op", "ts", "added_files", "removed_files",
      "added_rows", "added_bytes", "txns")
  }

  /** Atomic full-table OVERWRITE: ONE commit removes every current file
    * and adds the new rows — readers see the old contents or the new,
    * never a mix, and the replaced version stays time-travelable until
    * [[vacuum]] (the same history contract as every rewrite). Its
    * conflict rule is strict write-serializability: an overwrite derived
    * its intent from the read snapshot, so ANY intervening commit
    * aborts with ConcurrentModificationException and the caller
    * re-runs. `txn` is [[merge]]'s exactly-once marker: it commits with
    * the new contents, and a replayed (appId, version) at-or-below the
    * committed mark is a no-op ([[commit]] applies the same rule to a
    * replay that lands mid-window). */
  def overwrite(df: DataFrame, root: String,
      txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val st = state(spark, root)
    if (landed(st, txn)) return st.version
    val adds = writeData(df, root, st.meta)
    val lines = st.files.map(a => removeJson(a.path)) ++ adds.map(addJson) ++
      txn.map { case (app, tv) => txnJson(app, tv) }
    commit(spark, root, Some(st.version), lines, adds, "overwrite", txn,
      _ => true)
  }

  /** Blind append: no read-set, so nothing that lands meanwhile
    * conflicts — two concurrent appends both land, at consecutive
    * versions. Without a marker it replays no state at all. `txn` is
    * [[merge]]'s exactly-once marker: a replayed (appId, version)
    * at-or-below the committed mark is a no-op, before or during the
    * commit ([[commit]]). */
  def append(df: DataFrame, root: String,
      txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val read = txn.map(_ => state(spark, root))
    if (read.exists(landed(_, txn))) return read.get.version
    val adds = writeData(df, root, read.fold(readMeta(spark, root))(_.meta))
    val lines = adds.map(addJson) ++
      txn.map { case (app, tv) => txnJson(app, tv) }
    commit(spark, root, read.map(_.version), lines, adds, "append", txn,
      _ => false)
  }

  // ------------------------------------------------------------ read

  /** Read a file set per schema VINTAGE (DDL recorded at write time — no
    * footer reads): one multi-path scan per vintage, `perVintage` applied
    * PER RELATION (so it may reference `_metadata`, which does not
    * survive a union), results widened by name in deterministic order.
    * The explicit recorded schema + `basePath` restore hive partition
    * columns with their WRITTEN types — never path re-inference. */
  private def readGrouped(spark: SparkSession, root: String,
      files: Seq[AddFile],
      perVintage: DataFrame => DataFrame): DataFrame = {
    require(files.nonEmpty, "read on an empty file set")
    files.groupBy(_.schemaDdl).toSeq.sortBy(_._1)
      .map { case (ddl, fs) =>
        perVintage(spark.read.schema(StructType.fromDDL(ddl))
          .option("basePath", new Path(root, "data").toString)
          .parquet(fs.map(a => new Path(root, a.path).toString).sorted: _*))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def readFiles(spark: SparkSession, root: String,
      files: Seq[AddFile]): DataFrame =
    readGrouped(spark, root, files, identity)

  /** The committed snapshot (all stored rows — MERGE tombstones included;
    * callers filter on `liveCol` for the live view). */
  def snapshot(spark: SparkSession, root: String): DataFrame =
    readState(spark, root, state(spark, root))

  /** Time travel: the table exactly as of committed `version`. Data files
    * are immutable and [[vacuum]]-protected for the retention window, so
    * this is a log-prefix replay plus the same pruned read. */
  def readAsOf(spark: SparkSession, root: String, version: Long): DataFrame =
    readState(spark, root, state(spark, root, Some(version)))

  /** Zero-row frame with the table's WIDEST schema: every vintage's
    * fields merged by name in deterministic (ddl-sorted vintage, field
    * position) order — the same column set a full vintage-union read
    * serves, so a fully-pruned scan and a populated one agree, and
    * predicate analysis resolves schema-evolved columns regardless of
    * which file happens to sort last. */
  private def emptyLike(spark: SparkSession, st: LakeState): DataFrame = {
    val ddls = st.files.map(_.schemaDdl).distinct.sorted
    val fields = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.StructField]
    ddls.foreach(d => StructType.fromDDL(d).fields.foreach(f =>
      fields.getOrElseUpdate(f.name, f)))
    // a never-written table has no vintages: fall back to the declared
    // create-time schema, then (legacy tables created without one) to
    // keyCols typed long — the last resort that misanalyzes payload
    // predicates, which is why create now records the schema
    if (fields.isEmpty)
      st.meta.schemaDdl match {
        case Some(d) => StructType.fromDDL(d).fields.foreach(f =>
          fields.getOrElseUpdate(f.name, f))
        case None => st.meta.keyCols.foreach(k => fields.getOrElseUpdate(k,
          org.apache.spark.sql.types.StructField(k,
            org.apache.spark.sql.types.LongType)))
      }
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.values.toSeq))
  }

  // ------------------------------------------------------- file skipping

  private def numericTyp(t: String): Boolean =
    Set("tinyint", "smallint", "int", "bigint", "float", "double").contains(t) ||
      t.startsWith("decimal")

  // float/double stats can legitimately be non-finite (Spark's min/max
  // order NaN above everything); rank them the way Spark compares so the
  // pruning decision agrees with the scan's own predicate evaluation
  private def numRank(s: String): (Int, BigDecimal) = s match {
    case "NaN"       => (2, BigDecimal(0))
    case "Infinity"  => (1, BigDecimal(0))
    case "-Infinity" => (-1, BigDecimal(0))
    case _           => (0, BigDecimal(s))
  }

  private def cmpVals(typ: String, a: String, b: String): Int =
    if (numericTyp(typ)) {
      val ((ra, va), (rb, vb)) = (numRank(a), numRank(b))
      if (ra != rb) ra.compare(rb) else va.compare(vb)
    } else
      // Spark compares strings in UTF-8 BINARY order (UTF8String), which
      // differs from java.lang.String UTF-16 order for supplementary
      // characters — the pruning decision must use the engine's order
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  // the attribute side may be wrapped in analyzer-inserted Casts; only
  // GENUINELY LOSSLESS upcasts are safe to look through. A value-changing
  // cast must keep the file, in BOTH directions: double→int truncates
  // (cast(5.9 as int) = 5 matches `= 5` though 5.9's stats say
  // otherwise), and — the subtle one — Spark's own Cast.canUpCast admits
  // long→double/float and int→float via numericPrecedence, which ROUND
  // integers beyond the mantissa (2^53 / 2^24): the engine evaluates
  // `bigintCol = 9007199254740992d` in the double domain where a stored
  // 9007199254740993L rounds and matches, while the exact-BigDecimal
  // stats comparison would prune the file. So the whitelist is explicit:
  // integral→wider-integral, byte/short→float, byte/short/int→double
  // (int is 32 bits < the 53-bit mantissa), float→double.
  private[sources] def losslessUpCast(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val widths = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if f == t => true
      case (f, t) if widths.contains(f) && widths.contains(t) =>
        widths(f) <= widths(t)
      case (ByteType | ShortType, FloatType | DoubleType) => true
      case (IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }
  private def attName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if scala.util.Try(losslessUpCast(c.child.dataType, c.dataType))
          .getOrElse(false) =>
      attName(c.child) // dataType throws on unresolved children → None
    case _ => None
  }
  // a comparison's literal side after analysis is foldable (Literal, or
  // Cast(Literal) from type coercion): evaluate it once, keep its type
  private def litVal(e: Expression): Option[(String, org.apache.spark.sql.types.DataType)] =
    e match {
      case _ if e.foldable =>
        Option(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
          .map(v => (v.toString, e.dataType))
      case _ => None
    }

  /** Conservative may-match test of `pred` against one file's stats:
    * prunes on conjunctions/disjunctions of {=, <=>, <, <=, >, >=, IN}
    * between a stats column and foldable literals, plus IS [NOT] NULL
    * against the recorded per-file null counts; anything else keeps the
    * file. All-NULL columns (min/max absent) keep the file for value
    * probes — IS NULL still finds them, and IS NOT NULL prunes them. */
  private def mayMatch(pred: Expression, file: AddFile): Boolean = {
    val stats = file.stats
    def bound(c: Expression, l: Expression): Option[(ColStats, String)] =
      for {
        n <- attName(c); (v, dt) <- litVal(l); s <- stats.get(n)
        if s.min.isDefined && s.max.isDefined
        // domain gate: prune only when the literal compares in the same
        // domain the stats were recorded in
        if (numericTyp(s.typ) && dt.isInstanceOf[org.apache.spark.sql.types.NumericType]) ||
          (s.typ == "string" && dt == org.apache.spark.sql.types.StringType)
      } yield (s, v)
    // a file whose recorded stats say the column is ALL NULL (min/max
    // absent, null count = row count) cannot satisfy any value
    // comparison — =, <=>v, <, >, IN all need a non-null value
    def allNull(e: Expression): Boolean =
      attName(e).flatMap(stats.get).exists(s =>
        s.min.isEmpty && s.max.isEmpty && s.nulls >= file.rows)
    def eqMay(c: Expression, l: Expression): Boolean =
      !allNull(c) && !allNull(l) &&
        bound(c, l).orElse(bound(l, c)).forall {
          case (s, v) => cmpVals(s.typ, v, s.min.get) >= 0 &&
            cmpVals(s.typ, v, s.max.get) <= 0
        }
    def may(e: Expression): Boolean = e match {
      case And(l, r) => may(l) && may(r)
      case Or(l, r)  => may(l) || may(r)
      case EqualTo(c, l) => eqMay(c, l)
      // null-safe equality against a non-null literal behaves like =;
      // `col <=> NULL` is an IS NULL probe on the null counts
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(c, l) =>
        (litVal(l), litVal(c)) match {
          case (Some(_), _) | (_, Some(_)) => eqMay(c, l)
          case _ =>
            val probe = Seq(c, l).collectFirst {
              case e2 if e2.foldable && e2.eval(
                org.apache.spark.sql.catalyst.InternalRow.empty) == null =>
                Seq(c, l).filterNot(_ eq e2).head
            }
            probe.flatMap(attName).flatMap(stats.get)
              .forall(_.nulls > 0L) // col <=> NULL: needs a null in the file
        }
      // IN-list: keep iff ANY member may sit inside [min, max]
      case org.apache.spark.sql.catalyst.expressions.In(c, list)
          if list.forall(_.foldable) =>
        list.exists(l => eqMay(c, l))
      case org.apache.spark.sql.catalyst.expressions.IsNull(c) =>
        attName(c).flatMap(stats.get).forall(_.nulls > 0L)
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(c) =>
        attName(c).flatMap(stats.get).forall(_.nulls < file.rows)
      case GreaterThan(c, l) => !allNull(c) && !allNull(l) &&
        bound(c, l).forall { case (s, v) => cmpVals(s.typ, s.max.get, v) > 0 } &&
        bound(l, c).forall { case (s, v) => cmpVals(s.typ, s.min.get, v) < 0 }
      case GreaterThanOrEqual(c, l) => !allNull(c) && !allNull(l) &&
        bound(c, l).forall { case (s, v) => cmpVals(s.typ, s.max.get, v) >= 0 } &&
        bound(l, c).forall { case (s, v) => cmpVals(s.typ, s.min.get, v) <= 0 }
      case LessThan(c, l) => !allNull(c) && !allNull(l) &&
        bound(c, l).forall { case (s, v) => cmpVals(s.typ, s.min.get, v) < 0 } &&
        bound(l, c).forall { case (s, v) => cmpVals(s.typ, s.max.get, v) > 0 }
      case LessThanOrEqual(c, l) => !allNull(c) && !allNull(l) &&
        bound(c, l).forall { case (s, v) => cmpVals(s.typ, s.min.get, v) <= 0 } &&
        bound(l, c).forall { case (s, v) => cmpVals(s.typ, s.max.get, v) >= 0 }
      case _ => true
    }
    may(pred)
  }

  /** Stats-pruned filtered read: open only the files whose min/max ranges
    * can satisfy `pred`, then apply `pred` exactly. The pruning is the
    * log's job, not the scanner's — at 100 TB this is the difference
    * between listing-then-opening every file and opening the few whose
    * key range overlaps the predicate. */
  def scan(spark: SparkSession, root: String, pred: Column): LakeScan =
    scanState(spark, root, state(spark, root), pred)

  /** [[scan]] AS OF a committed version — stats-pruned TIME TRAVEL. The
    * log's per-file min/max stats are recorded AT COMMIT and immutable
    * like the files they describe, so a historical version prunes
    * exactly as well as the day it was the tip: a selective predicate
    * over yesterday's version of a 100 TB table opens the few
    * overlapping files, not every file the pinned version references
    * (which plain [[readAsOf]] + a post-filter would). */
  def scanAsOf(spark: SparkSession, root: String, version: Long,
      pred: Column): LakeScan =
    scanState(spark, root, state(spark, root, Some(version)), pred)

  /** Read an already-replayed state's rows (schema-true empty frame for
    * a zero-file state) — [[snapshot]], [[readAsOf]] and the batch
    * relation, which caches the [[LakeState]] of its pinned version. */
  private[sources] def readState(spark: SparkSession, root: String,
      st: LakeState): DataFrame =
    if (st.files.isEmpty) emptyLike(spark, st)
    else readFiles(spark, root, st.files)

  /** [[scan]] over an already-replayed state ([[readState]]'s pruned
    * sibling). */
  private[sources] def scanState(spark: SparkSession, root: String,
      st: LakeState, pred: Column): LakeScan = {
    // resolve the predicate against the table schema ONCE (no data file
    // opened — [[resolvePred]]): analysis failures (unknown column)
    // throw here, loudly, instead of silently disabling pruning.
    val predExpr = resolvePred(spark, st, pred)
    // a pruning failure must never make the table unreadable: any
    // unexpected stats/literal shape keeps the file (conservative)
    val kept = st.files.filter(a =>
      scala.util.Try(mayMatch(predExpr, a)).getOrElse(true))
    val df =
      if (kept.isEmpty) emptyLike(spark, st).filter(pred)
      else readFiles(spark, root, kept).filter(pred)
    LakeScan(df, kept.size.toLong, st.files.size.toLong)
  }

  // ----------------------------------------------------- delete / update

  /** Resolve `pred` against the table schema once (no data file opened)
    * — the analyzed Catalyst condition [[mayMatch]] walks. */
  private def resolvePred(spark: SparkSession, st: LakeState,
      pred: Column): Expression =
    emptyLike(spark, st).filter(pred)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(org.apache.spark.sql.GraftBridge.expression(pred))

  /** Shared rewrite engine for predicate DML: stats-prune candidate
    * files, confirm which actually hold matching rows with one
    * `_metadata`-keyed scan, rewrite ONLY those files through
    * `transform`, and commit remove+add under conflict detection —
    * intervening commits rebase when their added files provably cannot
    * hold matching rows ([[mayMatch]] on the predicate, the same stats
    * proof the candidate selection used) and their removes miss our
    * touched set. */
  private def predicateRewrite(spark: SparkSession, root: String,
      pred: Column, what: String,
      transform: DataFrame => DataFrame): Long = {
    val st = state(spark, root)
    if (st.files.isEmpty) return st.version
    val predExpr = resolvePred(spark, st, pred)
    val cands = st.files.filter(a =>
      scala.util.Try(mayMatch(predExpr, a)).getOrElse(true))
    if (cands.isEmpty) return st.version
    // confirm: only files that actually contain a matching row rewrite
    val hit = readGrouped(spark, root, cands, df => df
        .filter(pred).select(col("_metadata.file_path").as("__f")))
      .distinct().collect().map(_.getString(0)).toSet
    val touched = cands.filter(a =>
      hit.exists(_.endsWith("/" + a.path.split("/").last)))
    if (touched.isEmpty) return st.version
    val adds = writeData(transform(readFiles(spark, root, touched)),
      root, st.meta)
    val touchedPaths = touched.map(_.path).toSet
    val lines = touched.map(a => removeJson(a.path)) ++ adds.map(addJson)
    commit(spark, root, Some(st.version), lines, adds, what, None, {
      // an intervening add whose stats prove NO row can match `pred` is
      // invisible to this DML; anything that may match must abort — a
      // rebased delete would silently miss its rows
      case AddA(a)    => scala.util.Try(mayMatch(predExpr, a)).getOrElse(true)
      case RemoveA(p) => touchedPaths.contains(p)
      case _          => false
    })
  }

  /** Predicate DELETE — physical row removal, the direct user-facing
    * form (a GDPR erasure or data fix is `delete(root, pred)`, not a
    * fabricated CDC batch): matching rows leave the CURRENT version
    * entirely (no tombstone row remains — unlike a CDC merge delete,
    * which must keep tombstones to outrank late stale events); history
    * keeps them until [[vacuum]] passes the retention window, exactly
    * the readAsOf/time-travel contract. Touches only the files that
    * hold matching rows: stats-pruned, scan-confirmed. Returns the new
    * version (unchanged when nothing matched). */
  def delete(spark: SparkSession, root: String, pred: Column): Long =
    // SQL DELETE removes only rows where pred is TRUE; a NULL predicate
    // (e.g. a null column in a comparison) keeps the row — `!pred` alone
    // would turn NULL into NULL and silently drop those rows from any
    // rewritten file while keeping them in untouched files
    predicateRewrite(spark, root, pred, "delete",
      _.filter(not(coalesce(pred, lit(false)))))

  /** Predicate UPDATE: rows matching `pred` get each column in `set`
    * re-evaluated; everything else in the touched files is carried
    * byte-identical. Same pruning, confirmation, and conflict rules as
    * [[delete]]. Updating a stats/partition column is legal — the
    * rewritten files' stats are recomputed at write, so pruning stays
    * correct. */
  def update(spark: SparkSession, root: String, pred: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "update needs at least one assignment")
    predicateRewrite(spark, root, pred, "update", df => {
      set.foreach { case (c, _) => require(df.columns.contains(c),
        s"update of unknown column $c") }
      df.select(df.columns.toSeq.map { c =>
        set.get(c).map(e => when(pred, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    })
  }

  // ------------------------------------------------------------ merge

  /** Key-count ceiling for broadcasting the merge key probe: a designed
    * CDC batch is kilobytes and broadcasts, but a backfill-scale merge
    * (millions of keys) must not OOM the driver on an unconditional
    * broadcast hint — above the limit the hint is dropped and the
    * planner/AQE picks a shuffle (or its own size-verified broadcast).
    * 1M distinct keys ≈ tens of MB serialized: safely inside driver
    * memory, safely above any micro-batch. */
  val DefaultBroadcastKeyLimit: Long = 1L << 20

  /** Broadcast-hint `keySet` only when `rows` (the batch's row count,
    * an upper bound on distinct keys — [[merge]] observes it on the SAME
    * job that materializes the batch, never a separate count pass) is
    * under `limit`; above it the un-hinted join lets the planner decide
    * from actual sizes. */
  private[graft] def gatedBroadcast(keySet: DataFrame, rows: Long,
      limit: Long): DataFrame =
    if (rows <= limit) broadcast(keySet) else keySet

  /** The newest row per key: rank 1 of a window partitioned by `keys`
    * and ordered by `order` (newest first, then the caller's
    * tie-breaks). The one winner-per-key fold shared by the batch C4
    * snapshot, this table's [[merge]] and [[commitDiff]], and the
    * batch-keyed stream stores — they cannot drift apart. */
  private[graft] def newestPerKey(df: DataFrame, keys: Seq[Column],
      order: Column*): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Transactional CDC MERGE: fold `updates` (any number of rows per
    * key, each carrying `meta.orderCol` and `meta.liveCol` — e.g. one
    * row per CDC event, [[graft.operators.Cdc.eventsWithTombstonesBy]])
    * into the table, rewriting ONLY the files that contain touched keys.
    *
    * Steps: (1) materialize the batch once, observing its key range and
    * row count on that same job, and stats-prune candidate files by the
    * range; (2) confirm with one key-probe scan over the candidates
    * (`_metadata.file_path` semi-joined against the batch's key column —
    * broadcast-hinted only under `broadcastKeyLimit` rows, see
    * [[gatedBroadcast]]; each task reports its distinct hit paths) — the
    * touched set; (3) fold stored-touched ∪ updates to the newest row
    * per key (orderCol DESC, updates outrank stored on ties), KEEPING
    * tombstones — a late-arriving stale event must lose to a stored
    * delete, so deletes stay materialized until [[vacuum]]-era
    * compaction; (4) write the folded rows as fresh files (stats from
    * the write tasks, [[writeData]]) and commit add(new) +
    * remove(touched). With a broadcast key set that is five Spark jobs:
    * the materialization, the key broadcast, the probe, and the fold's
    * shuffle and write.
    *
    * Concurrency ([[commit]]): a commit that landed after the read
    * version rebases this merge when it is provably disjoint from it
    * (the key-range proof below) and aborts it with
    * ConcurrentModificationException otherwise — the rewrite was derived
    * from a superseded snapshot; the caller re-runs the merge, which
    * re-reads the new tip. A replay of this very (appId, batch) that
    * landed meanwhile makes the merge drop its files and return the tip.
    */
  def merge(updatesIn: DataFrame, root: String,
      txn: Option[(String, Long)] = None,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): Long = {
    val spark = updatesIn.sparkSession
    val st = state(spark, root)
    if (landed(st, txn)) return st.version
    val m = st.meta
    (m.keyCols :+ m.orderCol :+ m.liveCol).foreach(c =>
      require(updatesIn.columns.contains(c), s"merge updates missing column $c"))
    // the batch is consumed twice (key-probe set, fold union):
    // materialize it once instead of re-deriving the caller's plan per
    // consumer — also truncates lineage, so repeated
    // streaming merges don't grow task binaries. The key range and row
    // count are OBSERVED on that same job (no aggregation job of their
    // own); a single key gets its range, every key shape its count.
    val singleKey = m.keyCols.size == 1
    val obs = org.apache.spark.sql.Observation(
      s"lake-merge-${UUID.randomUUID}")
    val rangeAggs =
      if (!singleKey) Seq.empty
      else {
        val k = col(m.keyCols.head)
        Seq(min(k).cast("string").as("lo"), max(k).cast("string").as("hi"))
      }
    val updates = updatesIn
      .observe(obs, count(lit(1)).as("n"), rangeAggs: _*)
      .localCheckpoint()
    val observed = obs.get
    // rows ≥ distinct keys, so gating the broadcast on rows is
    // conservative-safe for the driver
    val batchRows = observed("n").asInstanceOf[Long]
    // (1) candidate files by single-key range overlap (conservative:
    // composite keys or missing stats keep everything). The key range is
    // ALSO the rebase-safety proof below: None = no proof possible
    // (composite key), Some(None) = empty updates (disjoint from
    // everything), Some(Some((lo, hi))) = the updates' closed key range.
    val keyRange: Option[Option[(String, String)]] =
      if (!singleKey) None
      else Some(Option(observed("lo")).map(lo =>
        (lo.toString, observed("hi").toString)))
    // a file whose key stats are provably OUTSIDE the updates' range
    def keyDisjoint(a: AddFile): Boolean = keyRange match {
      case Some(None) => true
      case Some(Some((lo, hi))) =>
        a.stats.get(m.keyCols.head).exists(s =>
          s.min.isDefined && s.max.isDefined &&
            (cmpVals(s.typ, s.max.get, lo) < 0 ||
              cmpVals(s.typ, s.min.get, hi) > 0))
      case None => false
    }
    val cands: Seq[AddFile] =
      if (batchRows == 0L) Seq.empty else st.files.filterNot(keyDisjoint)
    // (2) exact touched set: one scan over candidates, semi-joined
    // against the update keys (a semi-join needs no distinct key set);
    // the file_path projection happens PER VINTAGE (hidden _metadata
    // does not survive a union), and mixed vintages probe correctly.
    // Each task reports its distinct hit paths, the driver unions them.
    val touched: Seq[AddFile] =
      if (cands.isEmpty) Seq.empty
      else {
        val keySet = updates.select(m.keyCols.map(col): _*)
        val str = org.apache.spark.sql.Encoders.STRING
        val hit = readGrouped(spark, root, cands, df => df.select(
            col("_metadata.file_path").as("__f") +: m.keyCols.map(col): _*))
          .join(gatedBroadcast(keySet, batchRows, broadcastKeyLimit),
            m.keyCols, "left_semi")
          .select("__f").as(str)
          .mapPartitions(_.toSet.iterator)(str)
          .collect().toSet
        cands.filter(a => hit.exists(_.endsWith("/" + a.path.split("/").last)))
      }
    // (3) fold: newest row per key wins; updates outrank stored on an
    // orderCol tie so a replayed batch is idempotent
    val stored =
      if (touched.isEmpty) None else Some(readFiles(spark, root, touched))
    val unioned = stored match {
      case Some(s) => s.withColumn("__src", lit(0))
        .unionByName(updates.withColumn("__src", lit(1)),
          allowMissingColumns = true)
      case None => updates.withColumn("__src", lit(1))
    }
    val folded = newestPerKey(unioned, m.keyCols.map(col),
        col(m.orderCol).desc, col("__src").desc)
      .drop("__src")
    // nothing stored and nothing incoming: only the marker commits
    val adds =
      if (stored.isEmpty && batchRows == 0L) Seq.empty
      else writeData(folded, root, m)
    // (4) optimistic commit with file-level conflict detection — the txn
    // marker rides the same atomic commit as the data it marks applied.
    // An intervening commit is provably disjoint from this merge when:
    // (a) its removes miss our candidate set (it rewrote no file we
    //     read — files outside cands were PROVEN outside our key range
    //     at read time, and files it added mid-window are covered by b);
    // (b) every file it adds is key-disjoint from our updates' range
    //     (our fold could not have needed its rows — requires the
    //     single-key range proof; composite keys abort, conservative).
    // So continuous ingest rebases over disjoint-key ingest, appends,
    // and compactions of other partitions, and aborts on real overlap.
    val candPaths = cands.map(_.path).toSet
    val lines = touched.map(a => removeJson(a.path)) ++ adds.map(addJson) ++
      txn.map { case (app, tv) => txnJson(app, tv) }
    commit(spark, root, Some(st.version), lines, adds, "merge", txn, {
      case AddA(a)    => !keyDisjoint(a)
      case RemoveA(p) => candPaths.contains(p)
      case _          => false
    })
  }

  /** Test seam: invoked between a transaction's read/stage phase and its
    * commit claim, so specs can interleave a concurrent commit
    * DETERMINISTICALLY into the conflict-detection window (a thread race
    * would be flaky). No-op in production; a spec's hook must reset
    * itself first or nested commits recurse. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** The exactly-once gate at read time: whether `st` already carries
    * `txn`'s (app, id) marker at or above its id — the write landed
    * before and returns `st.version` untouched. */
  private def landed(st: LakeState, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, tv) => st.txns.get(app).exists(_ >= tv) }

  /** THE COMMIT of every data-table write: claim the tip + 1 for `lines`
    * (the staged `adds` among them). [[beforeCommitHook]] fires once;
    * then, under the per-root lock, the commits that landed after
    * `readVersion` are read — none when the tip has not moved, none
    * ever for a blind write without a marker (`readVersion` None) — and
    * one rule set applies, in order:
    *  1. one of them carries `txn`'s own (app, id) at or above its id: a
    *     replay of this very write landed first — drop the staged files
    *     and return the tip, committing nothing (rebasing would apply
    *     the batch twice);
    *  2. `conflicts` holds for one of their actions — the writer's
    *     read/write set overlaps them: drop the staged files and throw
    *     ConcurrentModificationException; the caller re-runs against
    *     the new tip;
    *  3. otherwise claim tip + 1 — a REBASE when the tip moved (the
    *     file-level conflict detection of the public Delta protocol:
    *     continuous CDC ingest and periodic compaction do not
    *     serialize). An out-of-process writer that took that version
    *     first ([[tryCommit]]'s readback) re-runs the same checks from
    *     its commit on.
    * The auto-checkpoint runs after the claim, outside the lock: it
    * replays state and claims a file of its own, and holding the lock
    * through it would stall every concurrent in-JVM writer. */
  private def commit(spark: SparkSession, root: String,
      readVersion: Option[Long], lines: Seq[String], adds: Seq[AddFile],
      op: String, txn: Option[(String, Long)],
      conflicts: Action => Boolean): Long = {
    beforeCommitHook()
    def drop(): Unit = {
      val f = fs(spark, root)
      adds.foreach(a => f.delete(new Path(root, a.path), false))
    }
    val own: Action => Boolean = {
      case TxnA(app, t) => txn.exists { case (a, tv) => a == app && t >= tv }
      case _            => false
    }
    var checked = readVersion
    var attempts = 0
    while (attempts < 1000) {
      val claimed = lockFor(root).synchronized {
        val tip = listLogVersions(spark, root).max
        val since = checked.filter(_ < tip).toSeq.flatMap(c =>
          (c + 1 to tip).flatMap(v => readLogLines(spark, root, v).map(parseLine)))
        if (since.exists(own)) { drop(); return tip }
        if (since.exists(conflicts)) {
          drop()
          throw new java.util.ConcurrentModificationException(
            s"$op read v${checked.get} but a conflicting commit " +
              s"intervened at $root — re-run")
        }
        checked = checked.map(_ => tip)
        Option.when(tryCommit(spark, root, tip + 1, lines, op))(tip + 1)
      }
      claimed.foreach { v =>
        maybeAutoCheckpoint(spark, root, v)
        return v
      }
      attempts += 1
    }
    throw new IllegalStateException(s"$op lost $attempts claims at $root")
  }

  /** OPTIMIZE: rewrite the files `select` picks from the current live
    * set into `targetFiles` range-partitioned by `layout` (pass one
    * column for a sorted layout, or a Morton/z-value column for
    * multi-dimensional clustering) — the compaction that makes stats
    * pruning effective after many small merges, and the small-files
    * repair for a long-lived table. Data is unchanged (same rows,
    * tombstones included); only the selected files' layout and per-file
    * stats move — UNSELECTED AddFile entries are untouched (no
    * remove/add lines), so a 100 TB table compacts partition-locally:
    * pass [[smallFiles]] to bin-pack only the fragmented subset, or
    * [[inPartition]] to scope the rewrite to one hive partition, instead
    * of the default whole-table rewrite. Commits with file-level
    * conflict detection: a concurrent commit that touches none of the
    * picked files (ingest into other files, appends, markers) REBASES
    * this rewrite instead of aborting it — compaction must not
    * serialize against a live ingest pipeline; only a concurrent
    * rewrite of a picked file itself aborts (our output would resurrect
    * rows the other commit superseded). */
  def optimize(spark: SparkSession, root: String, layout: Seq[Column],
      targetFiles: Int,
      select: AddFile => Boolean = _ => true): Long = {
    val st = state(spark, root)
    val picked = st.files.filter(select)
    if (picked.isEmpty) return st.version
    val df = readFiles(spark, root, picked)
      .repartitionByRange(targetFiles, layout: _*)
    val adds = writeData(df, root, st.meta)
    val pickedPaths = picked.map(_.path).toSet
    val lines = picked.map(a => removeJson(a.path)) ++ adds.map(addJson)
    // a pure rewrite of the picked files conflicts ONLY with a removal
    // of a picked file; adds and removes elsewhere are untouched by it
    commit(spark, root, Some(st.version), lines, adds, "optimize", None, {
      case RemoveA(p) => pickedPaths.contains(p)
      case _          => false
    })
  }

  /** [[optimize]] selector: only files under `maxBytes` on disk — the
    * production bin-pack that leaves well-sized files alone. Entries
    * from logs written before sizes were recorded read back 0 bytes and
    * are selected (re-compacting a well-sized legacy file is harmless;
    * skipping a fragmented one is not). */
  def smallFiles(maxBytes: Long): AddFile => Boolean = _.bytes < maxBytes

  /** [[optimize]] selector: only files of one hive partition — each
    * partitioned file's stats carry the partition value as a min=max
    * singleton, so partition membership is a stats probe (`value` in the
    * stats' string encoding). Composes with [[smallFiles]] via `&&`. */
  def inPartition(column: String, value: String): AddFile => Boolean =
    a => a.stats.get(column).exists(s =>
      s.min.contains(value) && s.max.contains(value))

  // ---------------------------------------------------- change data feed

  /** CHANGE DATA FEED: reconstruct the row-level changes each commit in
    * [fromV, toV] applied, from the file-level log alone — the lake as a
    * CDC *producer* (the reference's topic re-emission direction,
    * README.md:173, served from the table instead of the database). No
    * per-row change log is stored: a merge commit's REMOVED files hold
    * the pre-image of every touched key and its ADDED files the
    * post-image, so the per-commit diff is increment-sized (only
    * rewritten files are read, never the table).
    *
    * Per commit: full-outer join pre and post on the key columns and
    * classify — newly-live → `c`; live on both sides with any payload
    * column changed → `u`; live → tombstone → `d`; payload-identical
    * rows (untouched keys carried along a file rewrite, OPTIMIZE
    * commits, idempotent replays) produce NOTHING. `c`/`u` rows carry
    * the post-image, `d` rows the pre-image (the reader's last sight of
    * the data). Output adds `_change_type` and `_commit_version`.
    *
    * Retention: the pre-image lives in files a later [[vacuum]] may
    * reclaim — feeding past the retention window fails loudly on the
    * missing file (the same contract as [[readAsOf]]), it never emits a
    * partial feed. */
  def changeFeed(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    val meta = readMeta(spark, root)
    val perCommit = changeFeedBatches(spark, root, fromV, toV).map(_._2)
    if (perCommit.isEmpty)
      // schema-true empty feed: the table's widest schema minus the
      // order/live bookkeeping, plus the two change columns
      emptyLike(spark, state(spark, root, Some(toV)))
        .drop(meta.orderCol, meta.liveCol)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("long"))
        .filter(lit(false))
    else {
      unionCut(perCommit)
    }
  }

  /** Commits per change-feed lineage-cut group — the plan-depth bound. */
  val ChangeFeedLineageCut: Int = 16

  /** Union per-commit feed pieces by name with a LINEAGE CUT every
    * [[ChangeFeedLineageCut]] pieces — [[changeFeed]]'s and the tx
    * stream source's. Each piece is a join+window subtree, and a
    * months-long feed (thousands of commits) would otherwise hand the
    * optimizer one O(#commits)-deep nest of them. Groups of k pieces
    * union normally; past one group, each group is localCheckpoint'd
    * LAZILY (the plan collapses to a LogicalRDD leaf now, rows
    * materialize once on first use) and the result is one FLAT union of
    * O(n/k) leaves — bounded plan depth at any range length, each
    * piece's rows computed exactly once. Short ranges (≤ k pieces, the
    * registered query's shape) take the plain-union path. */
  private[sources] def unionCut(pieces: Seq[DataFrame]): DataFrame = {
    val groups = pieces.grouped(ChangeFeedLineageCut)
      .map(_.reduce(_.unionByName(_, allowMissingColumns = true))).toSeq
    if (groups.size == 1) groups.head
    else groups.map(_.localCheckpoint(false))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The change feed's row schema for the table's CURRENT widest schema:
    * key + payload columns (order/live bookkeeping folded away) plus
    * `_change_type` and `_commit_version` — what a streaming reader of
    * the feed ([[GraftLakeProvider]]) pins at query start. */
  def changeFeedSchema(spark: SparkSession, root: String): StructType = {
    val meta = readMeta(spark, root)
    emptyLike(spark, state(spark, root))
      .drop(meta.orderCol, meta.liveCol)
      .withColumn("_change_type", lit(null).cast("string"))
      .withColumn("_commit_version", lit(null).cast("long"))
      .schema
  }

  /** The change feed as PER-COMMIT BATCHES — (version, change rows) pairs
    * with the same c/u/d classification as [[changeFeed]] — the
    * incremental-read primitive a downstream consumer drains one commit
    * at a time ([[consumeChangeFeed]]). ONE state reconstruction at the
    * range start, then an incremental fold of each commit's own actions:
    * O(history + range) log reads, not O(range × history), so a consumer
    * loop over the range pays the history replay once. Plans are built
    * lazily per commit; a txn/meta-only commit yields no pair. */
  def changeFeedBatches(spark: SparkSession, root: String, fromV: Long,
      toV: Long): Seq[(Long, DataFrame)] = {
    require(fromV >= 1L && fromV <= toV, s"bad feed range [$fromV, $toV]")
    val tip = listLogVersions(spark, root).max
    require(toV <= tip, s"version $toV not committed (tip=$tip)")
    val (base, commits) = walkCommits(spark, root, fromV, toV)
    commits.collect { // a txn/meta-only commit yields no pair
      case (v, adds, removes) if adds.nonEmpty || removes.nonEmpty =>
        v -> commitDiff(spark, root, base.meta, adds, removes, v)
    }
  }

  /** The forward log walk of [[changeFeedBatches]] and [[vacuum]]: ONE
    * state replay at `fromV - 1`, then each commit in [fromV, toV] as
    * (version, the files it added, the live entries its removes
    * retired), folding the live set as it goes. */
  private def walkCommits(spark: SparkSession, root: String, fromV: Long,
      toV: Long): (LakeState, Seq[(Long, Seq[AddFile], Seq[AddFile])]) = {
    val base = state(spark, root, Some(fromV - 1))
    val live = scala.collection.mutable.Map.empty[String, AddFile]
    base.files.foreach(a => live += a.path -> a)
    base -> (fromV to toV).map { v =>
      var addsV = List.empty[AddFile]
      var removesV = List.empty[AddFile]
      readLogLines(spark, root, v).map(parseLine).foreach {
        case AddA(a)    => addsV ::= a
        case RemoveA(p) => removesV ::= live.getOrElse(p,
          throw new IllegalStateException(s"remove of unknown file $p at v$v"))
        case _          => ()
      }
      removesV.foreach(a => live -= a.path)
      addsV.foreach(a => live += a.path -> a)
      (v, addsV, removesV)
    }
  }

  // ------------------------------------------- incremental consumption

  private def offsetPtr(dir: String) = new Path(dir, "_offset")

  /** The consumer's durable high-water mark: the highest lake commit
    * version fully applied by this consumer (absent before the first
    * drain) — one [[readPointer]] pointer. */
  def consumerOffset(spark: SparkSession, dir: String): Option[Long] =
    readPointer(spark, offsetPtr(dir))

  /** Advance the consumer offset to `v` ([[writePointer]]). Refuses to
    * move BACKWARD — a regressed pointer would re-deliver already-applied
    * commits to a consumer that believes it is tailing. */
  def commitConsumerOffset(spark: SparkSession, dir: String, v: Long): Unit = {
    val prev = consumerOffset(spark, dir)
    require(prev.forall(_ <= v),
      s"consumer offset moving backward: ${prev.get} -> $v at $dir")
    writePointer(spark, offsetPtr(dir), v)
  }

  /** Advance the consumer offset to `v` ONLY IF it is ahead of the
    * stored pointer — the monotonic form of [[commitConsumerOffset]]
    * safe under CONCURRENT advancers (two queries registered with one
    * consumerName): the check-then-write races under a per-dir lock in
    * this JVM, and a cross-JVM loser whose `v` is already stale simply
    * keeps the higher pointer (a higher offset is the safe direction —
    * vacuum holds less, never more than needed). */
  def advanceConsumerOffset(spark: SparkSession, dir: String,
      v: Long): Unit = lockFor(dir).synchronized {
    if (consumerOffset(spark, dir).forall(_ < v))
      try commitConsumerOffset(spark, dir, v)
      catch {
        // cross-JVM race: another advancer moved the pointer past v
        // between our read and the write's own backward check — theirs
        // is newer, ours is subsumed
        case _: IllegalArgumentException => ()
      }
  }

  /** Total data bytes commit `v` ADDED — the [[AddFile.bytes]] sum from
    * one small log read; the admission metric for byte-capped streaming
    * triggers (`maxBytesPerTrigger`). Legacy logs written before byte
    * recording report 0 (admission then degrades to the version cap). */
  def commitAddedBytes(spark: SparkSession, root: String, v: Long): Long =
    readLogLines(spark, root, v).map(parseLine)
      .collect { case AddA(a) => a.bytes }.sum

  /** INCREMENTAL CHANGE-FEED CONSUMPTION — the lake as a streaming
    * SOURCE: drain every commit above the durable consumer offset (up to
    * `maxCommits` per call), one `apply(batch, version)` per commit, and
    * advance the offset AFTER each apply returns — so a crash replays at
    * most the in-flight commit (at-least-once). Consumers are expected
    * to be idempotent per commit version (the epoch-keyed stores —
    * postings/band/vector epochs keyed by the version — are: a replayed
    * epoch is a no-op at the store's exactly-once txn gate). This is
    * how a 100 TB deployment chains replica → serving indexes: each
    * maintained store tails the TABLE's commits instead of re-reading
    * the table or re-subscribing to the raw changelog.
    *
    * Retention contract: a consumer lagging past [[vacuum]]'s window
    * fails LOUDLY when its next batch's pre/post-image files are gone
    * (missing-file read error at materialization), never silently skips
    * — size retention to cover the slowest consumer, exactly the public
    * CDF + VACUUM interaction the Delta docs describe.
    *
    * Returns the versions applied this call (empty = nothing new).
    * `maxCommits` defaults to 1000 (the streaming sources' per-trigger
    * default) — ONE call's driver work is bounded by design; loop until
    * the return is empty to drain an arbitrarily deep backlog. */
  def consumeChangeFeed(spark: SparkSession, root: String,
      consumerDir: String,
      maxCommits: Int = LakeStreamSources.DefaultMaxVersionsPerTrigger.toInt)(
      apply: (DataFrame, Long) => Unit): Seq[Long] = {
    val from = consumerOffset(spark, consumerDir).getOrElse(0L) + 1L
    val tip = listLogVersions(spark, root).max
    if (from > tip) return Seq.empty
    val toV = math.min(tip, from + math.max(0, maxCommits).toLong - 1L)
    if (toV < from) return Seq.empty
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    changeFeedBatches(spark, root, from, toV).foreach { case (v, batch) =>
      apply(batch, v)
      commitConsumerOffset(spark, consumerDir, v)
      applied += v
    }
    // txn/meta-only commits in the range yield no batch but are still
    // consumed: the offset lands on toV so the next drain starts past it
    commitConsumerOffset(spark, consumerDir, toV)
    applied.toSeq
  }

  private def commitDiff(spark: SparkSession, root: String, meta: LakeMeta,
      adds: Seq[AddFile], removes: Seq[AddFile], v: Long): DataFrame = {
    // a table written only by append may lack the live/order columns
    // (append-only facts): absent liveCol reads as all-live, and absent
    // orderCol folds on a constant (dup keys then tie-break by content
    // hash — deterministic, and the pre/post sides tie-break IDENTICALLY
    // so an unchanged duplicate set still diffs to nothing)
    def liveOf(df: DataFrame): Column =
      if (df.columns.contains(meta.liveCol)) col(meta.liveCol) else lit(true)
    def payloadCols(df: DataFrame): Seq[String] =
      df.columns.toSeq.filterNot(c => meta.keyCols.contains(c)
        || c == meta.orderCol || c == meta.liveCol)
    // the diff is defined over the FOLDED view (newest row per key — the
    // same fold merge serves); blind appends can legally stack duplicate
    // keys, and an unfolded full-outer join would multiply them into
    // spurious pairs
    def folded(df: DataFrame): DataFrame = {
      // the hash tie-break spans the FULL row content — payload plus the
      // live/order bookkeeping when present: two same-key rows with equal
      // orderCol and payload but opposite live flags must fold
      // deterministically (same winner on the pre and post sides and
      // across runs), or duplicate-LSN malformed input would flip c/d
      // classification run to run
      val hashed = payloadCols(df) ++
        Seq(meta.liveCol, meta.orderCol).filter(df.columns.contains)
      val ord = (if (df.columns.contains(meta.orderCol))
        Seq(col(meta.orderCol).desc) else Seq.empty[Column]) :+
        xxhash64(hashed.map(col) :+ lit(0L): _*).desc // :+ lit — never zero-arg
      newestPerKey(df, meta.keyCols.map(col), ord: _*)
    }
    val post = if (adds.isEmpty) None
      else Some(folded(readFiles(spark, root, adds)))
    val pre = if (removes.isEmpty) None
      else Some(folded(readFiles(spark, root, removes)))
    def out(df: DataFrame, tpe: Column): DataFrame =
      df.select((meta.keyCols ++ payloadCols(df)).map(col) :+
        tpe.as("_change_type") :+ lit(v).as("_commit_version"): _*)
    (pre, post) match {
      case (None, None) =>
        throw new IllegalStateException(s"commitDiff on an empty commit v$v")
      case (None, Some(p)) => // blind append: every live row is a create
        out(p.filter(liveOf(p)), lit("c"))
      case (Some(q), None) => // pure retirement: every live row deleted
        out(q.filter(liveOf(q)), lit("d"))
      case (Some(q), Some(p)) =>
        // payload = the union of both sides' columns: a schema-evolved
        // rewrite compares the old side's absent column as NULL
        val pay = (payloadCols(p) ++ payloadCols(q)).distinct
        def sided(df: DataFrame, side: String) = df.select(
          meta.keyCols.map(col) ++
            (liveOf(df).as(s"${side}_live") +:
              pay.map(c => (if (df.columns.contains(c)) col(c)
                else lit(null)).as(s"${side}_$c"))): _*)
        val j = sided(q, "pre").join(sided(p, "post"), meta.keyCols, "full_outer")
        val preLive = coalesce(col("pre_live"), lit(false))
        val postLive = coalesce(col("post_live"), lit(false))
        val changed = pay.map(c => !(col(s"pre_$c") <=> col(s"post_$c")))
          .foldLeft(lit(false))(_ || _)
        val tagged = j.withColumn("_change_type",
          when(postLive && !preLive, "c")
            .when(postLive && preLive && changed, "u")
            .when(!postLive && preLive, "d"))
          .filter(col("_change_type").isNotNull)
        // c/u carry the post-image; d carries the pre-image
        tagged.select(meta.keyCols.map(col) ++ pay.map(c =>
          when(col("_change_type") === "d", col(s"pre_$c"))
            .otherwise(col(s"post_$c")).as(c)) ++
          Seq(col("_change_type"), lit(v).as("_commit_version")): _*)
    }
  }

  // ------------------------------------------------------- maintenance

  /** Every `AutoCheckpointInterval`-th committed version triggers a
    * best-effort checkpoint from the WRITE path (the public Delta
    * behavior, default 10 commits there): replay cost stays bounded on
    * a continuously-ingesting table whose operator never calls
    * [[checkpoint]] by hand. Best-effort — a checkpoint failure never
    * fails the commit that triggered it (the commit is already
    * durable; the checkpoint is an accelerator), but it is reported on
    * stderr as `[lake] auto-checkpoint at v<N> failed: <msg>`. */
  val AutoCheckpointInterval: Long = 20L

  private def maybeAutoCheckpoint(spark: SparkSession, root: String,
      v: Long): Unit =
    if (v > 0L && v % AutoCheckpointInterval == 0L)
      try checkpoint(spark, root)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[lake] auto-checkpoint at v$v failed: ${e.getMessage}")
      }

  /** Publish `st` as the checkpoint at its version: the `add` line of
    * every live file (recorded bytes and stats included) and one `txn`
    * line per writer app — the txn marks MUST ride the checkpoint or a
    * replay from it would forget applied batches and double-merge them.
    * The file is claimed like a commit ([[claim]]); a checkpoint that
    * already exists at the version holds the same state, so losing the
    * claim is a no-op. */
  private def writeCheckpointFile(spark: SparkSession, root: String,
      st: LakeState): Unit =
    claim(spark, root, checkpointFile(root, st.version),
      st.files.map(addJson) ++ st.txns.toSeq.sortBy(_._1).map {
        case (app, tv) => txnJson(app, tv) })

  /** Checkpoint the CURRENT state: replay afterwards reads one small
    * JSON file plus the JSON tail, with no Spark job either way. JSON
    * commits are retained (they stay the source of truth for time travel
    * and audits) until [[pruneLog]] explicitly reclaims old ones; the
    * checkpoint is a replay accelerator and the replay FLOOR for pruned
    * history. Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val st = state(spark, root)
    writeCheckpointFile(spark, root, st)
    st.version
  }

  /** LOG RETENTION for data tables — bounds the `_log` listing at
    * O(keepVersions) where it grew O(#commits) over the table's
    * lifetime (at one commit a minute, a year is ~500k driver-side
    * listing entries): ensure a CHECKPOINT exists at the retention
    * floor (so every retained version replays as checkpoint + tail),
    * then delete JSON entries and checkpoint files below it. Version
    * 0 is always kept — it carries the immutable table meta.
    *
    * Contract: time travel, change feeds and [[history]] below the
    * floor fail LOUDLY afterwards (missing log entry — the vacuum
    * contract, now symmetric between data files and their log).
    * Registered change-feed consumers gate it exactly like [[vacuum]]:
    * a consumer still below the floor refuses the prune. Keep log
    * retention AT LEAST as wide as data retention (`keepVersions` here
    * ≥ vacuum's) or vacuum's referenced-set walk loses its log.
    * `olderThanMs` is the same in-flight guard. Returns the pruned
    * versions. */
  def pruneLog(spark: SparkSession, root: String, keepVersions: Int,
      olderThanMs: Long = 3600L * 1000,
      expireConsumersOlderThanMs: Option[Long] = None): Seq[Long] = {
    require(keepVersions >= 1, "must retain at least the current version")
    val tip = state(spark, root).version
    val floor = math.max(0L, tip - keepVersions + 1)
    if (floor <= 1L) return Seq.empty
    consumerRetentionGate(spark, root, floor,
      s"pruneLog(keepVersions=$keepVersions)", expireConsumersOlderThanMs)
    writeCheckpointFile(spark, root, state(spark, root, Some(floor)))
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    def old(p: Path) = now - f.getFileStatus(p).getModificationTime >= olderThanMs
    val (vs, cps) = listLog(spark, root)
    val pruned = vs.filter(v => v >= 1L && v < floor).sorted
      .filter(v => old(logFile(root, v)))
      .map { v => f.delete(logFile(root, v), false); v }
    // checkpoints below the floor serve only pruned versions — reclaim
    cps.filter(_ < floor).map(checkpointFile(root, _)).filter(old)
      .foreach(f.delete(_, false))
    pruned
  }

  // ------------------------------------------------- consumer registry

  /** Register a named change-feed consumer UNDER THE TABLE at
    * `<root>/_consumers/<name>` and return its offset dir — the path
    * convention IS the API. Namespacing by name means two downstream
    * stores can never silently share an offset pointer, and
    * registration makes the consumer visible to [[vacuum]], which then
    * REFUSES to reclaim history the slowest registered consumer still
    * needs (proactive, at vacuum time). Ad-hoc unregistered dirs keep
    * working but are protected only by the read-time loud failure. */
  def registerConsumer(spark: SparkSession, root: String,
      name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"consumer name must match [A-Za-z0-9._-]+, got '$name'")
    val dir = s"$root/_consumers/$name"
    fs(spark, root).mkdirs(new Path(dir))
    dir
  }

  /** Registered consumers and their durable offsets (None = registered
    * but nothing consumed yet — [[vacuum]] treats it as offset 0: the
    * consumer intends to read from the beginning). */
  def registeredConsumers(spark: SparkSession,
      root: String): Map[String, Option[Long]] = {
    val base = new Path(s"$root/_consumers")
    val f = fs(spark, root)
    if (!f.exists(base)) Map.empty
    else f.listStatus(base).toSeq.filter(_.isDirectory).map { st =>
      st.getPath.getName -> consumerOffset(spark, st.getPath.toString)
    }.toMap
  }

  /** Unregister a consumer (its offset dies with it); [[vacuum]] stops
    * holding history for it. */
  def dropConsumer(spark: SparkSession, root: String, name: String): Unit = {
    fs(spark, root).delete(new Path(s"$root/_consumers/$name"), true)
    ()
  }

  /** When the consumer LAST ADVANCED its offset (epoch ms) — the
    * modification time of its `_offset` pointer (the write that advances
    * it), falling back to the registration dir's own mtime for a
    * registered-but-never-consumed entry. The LIVENESS signal vacuum
    * reports and [[vacuum]]'s `expireConsumersOlderThanMs` acts on: a
    * crashed stream that never restarts stops advancing, and its age
    * makes the staleness visible instead of pinning retention silently
    * forever. */
  def consumerLastAdvancedMs(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val off = offsetPtr(dir)
    if (f.exists(off)) Some(f.getFileStatus(off).getModificationTime)
    else if (f.exists(new Path(dir)))
      Some(f.getFileStatus(new Path(dir)).getModificationTime)
    else None
  }

  private def fmtAge(ms: Long): String =
    if (ms >= 3600000L) f"${ms / 3600000.0}%.1fh"
    else if (ms >= 60000L) f"${ms / 60000.0}%.1fm"
    else s"${ms / 1000}s"

  /** Vacuum's registry gate, shared with [[LakeTx.vacuum]]: expire
    * provably-dead registrations when asked (age ≥
    * `expireOlderThanMs` since the last offset advance — an opt-in,
    * deliberate reclaim: the expired consumer's next drain fails loudly
    * on the missing pre-images, exactly as an unregistered laggard
    * would), then REFUSE when a surviving registered consumer still
    * needs history below `floor` — naming the laggard, its offset AND
    * its age, so an operator can tell a slow-but-live consumer from a
    * dead one. Returns the expired names. */
  private[sources] def consumerRetentionGate(spark: SparkSession,
      registryRoot: String, floor: Long, what: String,
      expireOlderThanMs: Option[Long],
      dryRun: Boolean = false): Seq[String] = {
    val now = System.currentTimeMillis()
    // expiry targets ONLY lagging consumers (offset below the floor) —
    // the only ones whose registration blocks this prune. A caught-up
    // consumer on a quiet table has an old pointer mtime too; dropping
    // it would buy nothing now and silently strip its FUTURE retention
    // protection.
    val expired = expireOlderThanMs.toSeq.flatMap { ttl =>
      registeredConsumers(spark, registryRoot).toSeq.sortBy(_._1)
        .filter { case (_, o) => o.getOrElse(0L) < floor }
        .map(_._1)
        .filter { n =>
          val dir = s"$registryRoot/_consumers/$n"
          consumerLastAdvancedMs(spark, dir).exists(now - _ >= ttl)
        }.map { n => if (!dryRun) dropConsumer(spark, registryRoot, n); n }
    }
    val lagging = registeredConsumers(spark, registryRoot)
      .filter { case (n, _) => !expired.contains(n) } // dry run: as-if dropped
      .map { case (n, o) => (n, o.getOrElse(0L)) }
      .filter { case (_, o) => o < floor }
    if (lagging.nonEmpty) {
      val (slowName, slowOff) = lagging.minBy(_._2)
      val age = consumerLastAdvancedMs(spark,
          s"$registryRoot/_consumers/$slowName")
        .map(t => s"last advanced ${fmtAge(now - t)} ago")
        .getOrElse("last advance unknown")
      throw new IllegalStateException(
        s"$what would prune history below v$floor while registered " +
          s"consumer '$slowName' has consumed only through v$slowOff " +
          s"($age) — let it catch up, widen retention, dropConsumer it, " +
          "or pass expireConsumersOlderThanMs to reclaim past " +
          "provably-dead registrations")
    }
    expired
  }

  /** Reclaim data files unreferenced by every retained snapshot (the
    * newest `keepVersions` versions stay time-travelable) and sweep
    * crashed writers' `_tmp-*` staging dirs and `_log/.tmp-*` files.
    * `olderThanMs` is the in-flight-writer guard: a file younger than it
    * is NEVER deleted even if unreferenced, because a concurrent writer
    * may have staged it for a commit that hasn't claimed its log slot
    * yet (production keeps hours here; single-writer tests pass 0).
    * REFUSES to run when the requested window would break the change
    * feed for a registered consumer ([[registerConsumer]]): commits
    * above its offset need every file removed after that offset as a
    * pre-image, so reclaiming them would turn the consumer's next drain
    * into a missing-file failure — the refusal names the laggard and
    * the remedies instead.
    * Returns the deleted relative paths. `dryRun=true` returns the
    * paths the same call WOULD reclaim — refusing exactly when the real
    * call would refuse (expiry policy included) — without mutating
    * anything: no deletes, no staging sweeps, no registry drops. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int,
      olderThanMs: Long = 3600L * 1000,
      expireConsumersOlderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the current version")
    val f = fs(spark, root)
    val latest = listLogVersions(spark, root).max
    val floor = math.max(0L, latest - keepVersions + 1)
    consumerRetentionGate(spark, root, floor,
      s"vacuum(keepVersions=$keepVersions)", expireConsumersOlderThanMs,
      dryRun)
    // every file live at a retained version: the floor's files plus each
    // later commit's adds (a file added and removed inside the window
    // was live at a retained version) — one forward walk
    val (atFloor, retained) = walkCommits(spark, root, floor + 1, latest)
    val referenced = (atFloor.files ++ retained.flatMap(_._2)).map(_.path).toSet
    val now = System.currentTimeMillis()
    val dataDir = new Path(root, "data")
    val rootUri = new Path(root).toUri.getPath
    val onDisk = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    if (f.exists(dataDir)) { // recursive: partitioned layouts nest dirs
      val it = f.listFiles(dataDir, true)
      while (it.hasNext) {
        val s = it.next()
        onDisk += s.getPath.toUri.getPath.stripPrefix(rootUri)
          .stripPrefix("/") -> s.getModificationTime
      }
    }
    val reclaimable = onDisk.toSeq
      .filter { case (_, mt) => now - mt >= olderThanMs }
      .map(_._1)
      .filterNot(referenced)
    if (dryRun) return reclaimable
    val deleted = reclaimable
      .map { rel => f.delete(new Path(root, rel), false); rel }
    // crashed writers' debris: staging dirs (data never referenced by any
    // commit) and unclaimed log temp files ([[claim]])
    (f.listStatus(new Path(root)).filter(_.getPath.getName.startsWith("_tmp-")) ++
      f.listStatus(logDir(root)).filter(_.getPath.getName.startsWith(".tmp-")))
      .filter(s => now - s.getModificationTime >= olderThanMs)
      .foreach(s => f.delete(s.getPath, true))
    deleted
  }
}

/** One written file's write-time stats: rows and per-column
  * [[LakeFormat.ColStats]]. Keyed by `rel`, the file's path relative to
  * the write task's attempt directory — partition directories included,
  * because one task writing several partitions reuses its `part-…` name
  * in each. */
private[sources] final case class WrittenFileStats(rel: String, rows: Long,
    cols: Map[String, LakeFormat.ColStats])

private[sources] final case class WrittenTaskStats(files: Seq[WrittenFileStats])
    extends org.apache.spark.sql.execution.datasources.WriteTaskStats

/** WRITE-TIME FILE STATS for [[LakeFormat]]: each write task folds every
  * row it writes into its file's row count and per-column min/max/null
  * count, and the driver collects them when the job commits — the same
  * numbers a `groupBy(_metadata.file_path)` read-back aggregation gives,
  * without the second job. Values compare with the column type's Spark
  * ordering (NaN above everything, as `min`/`max` order it) and render
  * through the same `CAST(… AS STRING)` in the session time zone.
  * Partition columns are not in the written rows: their value comes from
  * the task's current partition tuple, a min=max singleton. */
private[sources] final class FileStatsTracker(schema: StructType,
    partitionCols: Seq[String], statsCols: Seq[String], timeZone: String)
    extends org.apache.spark.sql.execution.datasources.WriteJobStatsTracker {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.execution.datasources.{WriteTaskStats,
    WriteTaskStatsTracker}
  import org.apache.spark.sql.types.{DataType, StringType}

  // the written rows carry the data columns only (partition columns
  // move into the directory names), in schema order
  private val dataFields = schema.fields.filterNot(f => partitionCols.contains(f.name))
  private val valueCols = statsCols.filterNot(partitionCols.contains).toArray
  private val valueIdx = valueCols.map(c => dataFields.indexWhere(_.name == c))
  private val valueTypes = valueIdx.map(i => dataFields(i).dataType)
  private val partStats = statsCols.filter(partitionCols.contains)
    .map(c => (c, partitionCols.indexOf(c), schema(c).dataType))

  @transient private lazy val collected =
    scala.collection.mutable.ArrayBuffer.empty[WrittenFileStats]

  /** Every committed file's stats by task-relative path (driver side,
    * after the write job commits). */
  def files: Map[String, WrittenFileStats] =
    collected.synchronized(collected.map(s => s.rel -> s).toMap)

  private def str(v: Any, dt: DataType): Option[String] =
    Option(v).map(x => Cast(Literal(x, dt), StringType, Some(timeZone))
      .eval().toString)

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val orderings = valueTypes.map(
        org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering)
      private var partition: InternalRow = InternalRow.empty
      private val open =
        scala.collection.mutable.LinkedHashMap.empty[String, FileAcc]

      final class FileAcc(val partition: InternalRow) {
        var rows = 0L
        val mins = new Array[Any](valueCols.length)
        val maxs = new Array[Any](valueCols.length)
        val nulls = new Array[Long](valueCols.length)
        def add(row: InternalRow): Unit = {
          rows += 1
          var j = 0
          while (j < valueCols.length) {
            val i = valueIdx(j)
            if (row.isNullAt(i)) nulls(j) += 1
            else {
              val v = row.get(i, valueTypes(j))
              // copy on replace only: the writer reuses the row buffer
              if (mins(j) == null || orderings(j).lt(v, mins(j)))
                mins(j) = InternalRow.copyValue(v)
              if (maxs(j) == null || orderings(j).gt(v, maxs(j)))
                maxs(j) = InternalRow.copyValue(v)
            }
            j += 1
          }
        }
      }

      override def newPartition(values: InternalRow): Unit =
        partition = values.copy()
      override def newFile(path: String): Unit =
        open(path) = new FileAcc(partition)
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit =
        open(path).add(row)
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        WrittenTaskStats(open.toSeq.map { case (path, a) =>
          val values = valueCols.indices.map { j =>
            val dt = valueTypes(j)
            valueCols(j) -> LakeFormat.ColStats(dt.simpleString,
              str(a.mins(j), dt), str(a.maxs(j), dt), a.nulls(j))
          }
          val parts = partStats.map { case (c, i, dt) =>
            val v = str(a.partition.get(i, dt), dt)
            c -> LakeFormat.ColStats(dt.simpleString, v, v,
              if (v.isEmpty) a.rows else 0L)
          }
          WrittenFileStats(
            path.split("/").takeRight(partitionCols.size + 1).mkString("/"),
            a.rows, (values ++ parts).toMap)
        })
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit = collected.synchronized {
    stats.foreach {
      case t: WrittenTaskStats => collected ++= t.files
      case _ => ()
    }
  }
}

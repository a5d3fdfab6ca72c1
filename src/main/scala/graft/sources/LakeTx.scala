package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE LAKE TRANSACTIONS: atomic visibility of one logical
  * transaction across SEVERAL lake tables — the table-layer completion of
  * the CDC layer's whole-commit guarantee (C14/T12: a database commit is
  * applied to every captured table or to none; the reference's envelope
  * carries the cross-table transaction struct, ez-cdc README.md:331).
  * Landing two captured tables in two INDEPENDENT [[LakeFormat]] tables
  * re-tears commits: each table's log commits alone, so a reader joining
  * them mid-apply sees half a transaction.
  *
  * Design — a TRANSACTION MANIFEST over per-table logs (the "2-entry
  * manifest commit" shape): member tables stay ordinary [[LakeFormat]]
  * tables under `root/t/<name>/` with their full machinery (merge,
  * pruning, time travel, vacuum); a separate manifest log at
  * `root/_tx/_log/` publishes, per manifest version, the COMMITTED
  * version of every member table. Cross-table visibility is the
  * manifest, and ONLY the manifest: [[snapshot]] reads each table AS OF
  * its manifest-pinned version ([[LakeFormat.readAsOf]] — data files are
  * immutable, so the pinned read is stable even while newer table
  * commits land). The manifest claim is one atomic
  * rename-without-overwrite of one small file — the same primitive as a
  * table commit — so a reader observes every member table before the
  * transaction or every member table after it, NEVER a mix.
  *
  * Crash recovery rides the per-table exactly-once markers: [[commitTx]]
  * merges each table with a `txn(app::table, txv)` marker before
  * publishing the manifest. A crash between the merges and the manifest
  * leaves orphan table versions that manifest readers cannot see; the
  * caller re-runs the SAME (app, txv) transaction — already-applied
  * merges no-op through their markers, missing ones apply, and the
  * manifest publish then makes the whole transaction visible at once. A
  * replay of a fully-committed transaction no-ops entirely (the manifest
  * content is unchanged, so no new version is written).
  *
  * SCALE: the manifest is O(#tables) bytes per transaction and one
  * driver-side file claim — no data-path cost on top of the member
  * merges; readers pay one extra small-file read per consistent
  * snapshot. Vacuum discipline: retention on member tables must cover
  * the manifest versions still served (the [[LakeFormat.readAsOf]]
  * contract — a reclaimed pinned version fails loudly, never partially).
  */
object LakeTx {

  /** A member table's root under the transactional root. */
  def tableRoot(root: String, table: String): String = s"$root/t/$table"

  private def txRoot(root: String): String = s"$root/_tx"

  /** The manifest log's root — the path [[LakeFormat.commitTimestampMs]]
    * and [[LakeFormat.history]] read tx-layer bookkeeping from. */
  private[sources] def txLogRoot(root: String): String = txRoot(root)

  private def manifestJson(vs: Map[String, Long]): String =
    vs.toSeq.sortBy(_._1).map { case (t, v) =>
      s""""${LakeFormat.esc(t)}":$v""" }
      .mkString("""{"manifest":{""", ",", "}}")

  /** Initialize the transactional root over already-created member
    * tables: manifest v0 pins each at its current version. Create the
    * members first ([[LakeFormat.create]] under [[tableRoot]]). */
  def init(spark: SparkSession, root: String, tables: Seq[String]): Unit = {
    require(tables.nonEmpty, "a transactional root needs member tables")
    require(LakeFormat.listLogVersions(spark, txRoot(root)).isEmpty,
      s"transactional root already initialized at $root")
    val pinned = tables.map { t =>
      val vs = LakeFormat.listLogVersions(spark, tableRoot(root, t))
      require(vs.nonEmpty, s"member table $t not created under $root")
      t -> vs.max
    }.toMap
    if (!LakeFormat.tryCommit(spark, txRoot(root), 0L,
        Seq(manifestJson(pinned)), op = "tx-init"))
      throw new java.util.ConcurrentModificationException(
        s"concurrent init at $root")
  }

  /** The current manifest version (dense from 0). */
  def manifestVersion(spark: SparkSession, root: String): Long = {
    val vs = LakeFormat.listLogVersions(spark, txRoot(root))
    require(vs.nonEmpty, s"not a transactional root (no _tx log): $root")
    vs.max
  }

  /** The per-table committed versions the manifest publishes at `asOf`
    * (default: current). */
  def manifest(spark: SparkSession, root: String,
      asOf: Option[Long] = None): Map[String, Long] = {
    val v = asOf.getOrElse(manifestVersion(spark, root))
    LakeFormat.readLogLines(spark, txRoot(root), v)
      .map(LakeFormat.mapper.readTree)
      .collectFirst { case n if n.has("manifest") =>
        n.get("manifest").properties().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap
      }
      .getOrElse(throw new IllegalStateException(
        s"no manifest action in $root _tx v$v"))
  }

  /** Apply one logical transaction ACROSS member tables and publish it
    * atomically: merge each table's updates (the
    * [[LakeFormat.merge]] fold shape — keyCols + orderCol + liveCol)
    * with a per-table `txn(app::table, txv)` exactly-once marker, then
    * claim the next manifest version carrying every member's committed
    * version. Tables absent from `updates` keep their pinned version.
    * Returns the manifest version serving the transaction (a replay of a
    * fully-committed (app, txv) returns the CURRENT version unchanged).
    */
  def commitTx(spark: SparkSession, root: String,
      updates: Map[String, DataFrame], app: String, txv: Long): Long = {
    val before = manifest(spark, root)
    require(updates.keySet.subsetOf(before.keySet),
      s"unknown member tables ${updates.keySet -- before.keySet} at $root")
    // deterministic table order: a crashed-and-retried transaction
    // re-walks the same sequence, hitting its own markers in order
    val applied = updates.toSeq.sortBy(_._1).map { case (t, df) =>
      t -> LakeFormat.merge(df, tableRoot(root, t),
        txn = Some((s"$app::$t", txv)))
    }.toMap
    val after = before ++ applied
    LakeFormat.lockFor(txRoot(root)).synchronized {
      val tip = manifestVersion(spark, root)
      // full replay of a committed tx: every merge no-op'd and the tip
      // manifest already covers the applied versions — publish nothing
      val current = manifest(spark, root, Some(tip))
      if (after.forall { case (t, v) => current.getOrElse(t, -1L) >= v })
        return tip
      // pin unchanged tables at the TIP manifest's versions (another
      // transaction may have advanced them since our read), and NEVER
      // regress a pin: a concurrent commitTx may have advanced one of
      // OUR tables between our merge and this claim — publishing our
      // (older) applied version would un-publish its committed rows
      // from the consistent view and make consumeChanges skip them
      val publish = current ++ applied.map { case (t, v) =>
        t -> math.max(v, current.getOrElse(t, v))
      }
      if (!LakeFormat.tryCommit(spark, txRoot(root), tip + 1L,
          Seq(manifestJson(publish)), op = "tx-commit"))
        throw new java.util.ConcurrentModificationException(
          s"manifest claim lost at $root v${tip + 1} — re-run the tx")
      tip + 1L
    }
  }

  /** TRANSACTION-CONSISTENT READ: the member table exactly as the
    * current manifest publishes it — concurrent in-flight transactions
    * (table versions above the pin) are invisible, so cross-table joins
    * over [[snapshot]]s never observe half a transaction. */
  def snapshot(spark: SparkSession, root: String, table: String): DataFrame =
    snapshotAsOf(spark, root, table, manifestVersion(spark, root))

  /** [[snapshot]] at a historical manifest version — cross-table time
    * travel: BOTH tables as of one consistent point. */
  def snapshotAsOf(spark: SparkSession, root: String, table: String,
      manifestV: Long): DataFrame = {
    val pins = manifest(spark, root, Some(manifestV))
    require(pins.contains(table), s"$table not a member of $root")
    LakeFormat.readAsOf(spark, tableRoot(root, table), pins(table))
  }

  /** CONSISTENT MULTI-TABLE CHANGE-FEED CONSUMPTION — S7's read half,
    * the [[LakeFormat.consumeChangeFeed]] discipline lifted to the
    * transaction layer: drain MANIFEST versions above a durable consumer
    * offset, delivering for each version every member table's change
    * rows between its previous and new pins (`apply(table, batch,
    * manifestV)`; members whose pin did not move deliver nothing). All
    * of one manifest version's member batches are delivered BEFORE the
    * offset advances, so a downstream consumer maintaining cross-table
    * derived state (a replica join, a feature store spanning tables)
    * sees transaction-aligned increments — never one table's half of a
    * distributed tx — and a crash replays at most one manifest version
    * (at-least-once; consumers idempotent per (table, version), the
    * epoch-keyed store discipline). Offset storage and retention
    * contract are [[LakeFormat.consumerOffset]]'s: lagging past a
    * member's vacuum window fails loudly mid-batch, before the offset
    * moves. Returns the manifest versions applied. `maxManifests`
    * defaults to 1000 (the streaming sources' per-trigger default) so
    * one call's driver work is bounded; loop until the return is empty
    * to drain an arbitrarily deep backlog. */
  def consumeChanges(spark: SparkSession, root: String, consumerDir: String,
      maxManifests: Int = LakeStreamSources.DefaultMaxVersionsPerTrigger.toInt)(
      apply: (String, DataFrame, Long) => Unit): Seq[Long] = {
    val from = LakeFormat.consumerOffset(spark, consumerDir).getOrElse(0L) + 1L
    val tip = manifestVersion(spark, root)
    if (from > tip) return Seq.empty
    val toV = math.min(tip, from + math.max(0, maxManifests).toLong - 1L)
    if (toV < from) return Seq.empty
    memberRanges(spark, root, from, toV).map { case (mv, ranges) =>
      ranges.foreach { case (t, lo, hi) =>
        apply(t, LakeFormat.changeFeed(spark, tableRoot(root, t), lo, hi), mv)
      }
      LakeFormat.commitConsumerOffset(spark, consumerDir, mv)
      mv
    }
  }

  /** The one walk of the manifest log: per manifest version in [fromM,
    * toM], the commit range each member advanced by — (table, first,
    * last), from its previous pin + 1 to its new pin, tables in name
    * order; a member whose pin did not move is absent. */
  private[sources] def memberRanges(spark: SparkSession, root: String,
      fromM: Long, toM: Long): Seq[(Long, Seq[(String, Long, Long)])] = {
    val pins = (fromM - 1 to toM).map(mv => mv -> manifest(spark, root, Some(mv)))
    pins.zip(pins.drop(1)).map { case ((_, prev), (mv, cur)) =>
      mv -> cur.toSeq.sortBy(_._1).flatMap { case (t, pin) =>
        val before = prev.getOrElse(t, 0L)
        Option.when(pin > before)((t, before + 1L, pin))
      }
    }
  }

  /** MANIFEST-COORDINATED VACUUM: reclaim member-table files while
    * keeping every table version the newest `keepManifests` manifest
    * versions pin — the retention floor a member's [[LakeFormat.vacuum]]
    * cannot compute alone (a table version with no newer table commits
    * may still be pinned by an OLD manifest a consistent reader serves).
    * Per member, the floor is the MINIMUM pin across retained manifests;
    * everything at-or-above it stays time-travelable, older rewrites
    * reclaim. Same in-flight guard as the single-table vacuum. Returns
    * the deleted relative paths per table.
    *
    * MANIFEST LOG RETENTION rides along: manifest versions below the
    * window are pruned from the `_tx` log itself, consistently with the
    * member files they pin. No separate checkpoint is needed — every
    * manifest is SELF-CONTAINED (it carries the complete pin map, never
    * a delta), so any retained version reads in O(1) small files at any
    * history length, and pruning bounds the `_tx` directory listing at
    * O(keepManifests) where it grew O(#transactions) before. Reads of a
    * pruned manifest version fail loudly (missing log entry) — the
    * [[LakeFormat.readAsOf]] contract, now symmetric between a
    * manifest's pins and its log entry. */
  /** Register a named [[consumeChanges]] consumer at the TRANSACTIONAL
    * root (`<root>/_tx/_consumers/<name>` — the [[LakeFormat
    * .registerConsumer]] discipline at the manifest layer) and return
    * its offset dir. [[vacuum]] then refuses to prune manifest history
    * or member pre-images the slowest registered consumer still needs. */
  def registerConsumer(spark: SparkSession, root: String,
      name: String): String =
    LakeFormat.registerConsumer(spark, txRoot(root), name)

  /** Registered tx consumers and their durable manifest offsets. */
  def registeredConsumers(spark: SparkSession,
      root: String): Map[String, Option[Long]] =
    LakeFormat.registeredConsumers(spark, txRoot(root))

  /** Unregister a tx consumer; [[vacuum]] stops holding history for it. */
  def dropConsumer(spark: SparkSession, root: String, name: String): Unit =
    LakeFormat.dropConsumer(spark, txRoot(root), name)

  def vacuum(spark: SparkSession, root: String, keepManifests: Int,
      olderThanMs: Long = 3600L * 1000,
      expireConsumersOlderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Map[String, Seq[String]] = {
    require(keepManifests >= 1, "must retain at least the current manifest")
    val tip = manifestVersion(spark, root)
    val floor = math.max(0L, tip - keepManifests + 1)
    // PROACTIVE retention guard (the LakeFormat.vacuum rule at the
    // manifest layer): a consumer at offset o needs manifest o (its
    // next drain's `prev` pins) and every member change window above
    // it — refuse NOW (naming the laggard's offset AND last-advance
    // age) instead of failing its next drain; expiry reclaims past
    // provably-dead registrations on explicit opt-in. dryRun reports
    // without mutating (member files, manifest log, registry).
    LakeFormat.consumerRetentionGate(spark, txRoot(root), floor,
      s"vacuum(keepManifests=$keepManifests)", expireConsumersOlderThanMs,
      dryRun)
    val retained = (floor to tip).map(mv => manifest(spark, root, Some(mv)))
    val tables = retained.head.keySet
    val deleted = tables.map { t =>
      val minPin = retained.map(_(t)).min
      val tTip = LakeFormat.listLogVersions(spark, tableRoot(root, t)).max
      val keep = (tTip - minPin + 1).toInt
      // forward the expiry policy: a dead consumer registered directly
      // on a MEMBER table must not block the tx-level vacuum after the
      // caller already opted into reclaiming dead registrations
      t -> LakeFormat.vacuum(spark, tableRoot(root, t), keep, olderThanMs,
        expireConsumersOlderThanMs, dryRun)
    }.toMap
    if (!dryRun)
      LakeFormat.pruneLogBelow(spark, txRoot(root), floor, olderThanMs)
    deleted
  }

  /** Timestamp-based CROSS-TABLE time travel resolution: the manifest
    * version current at `tsMs` ([[LakeFormat.versionAtTimestamp]] over
    * the `_tx` log — same pruned-gap refusal). Feed the result to
    * [[snapshotAsOf]] for every member as of one consistent instant. */
  def manifestAtTimestamp(spark: SparkSession, root: String,
      tsMs: Long): Long =
    LakeFormat.versionAtTimestamp(spark, txRoot(root), tsMs)

  /** The TRANSACTION log's commit history (newest first) — one row per
    * manifest version with its recorded op (`tx-init`/`tx-commit`) and
    * wall-clock: [[LakeFormat.history]] over the `_tx` log. Member
    * tables answer their own `LakeFormat.history(tableRoot(root, t))`. */
  def history(spark: SparkSession, root: String,
      limit: Int = 1000): DataFrame =
    LakeFormat.history(spark, txRoot(root), limit)
}

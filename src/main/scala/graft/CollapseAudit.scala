package graft

/** Executed-plan estimate-collapse check (the r6 audit as a permanent
  * tool), applied to one EXECUTED query: it scans
  * the finalized AQE plan for a `BroadcastExchange` subtree containing a
  * `Generate` (explode) that is NOT below an aggregate — the signature of
  * Catalyst broadcasting a corpus-proportional derived stream because
  * post-explode size estimates collapse under the autoBroadcast
  * threshold (see SNIPPETS/graft-estimate-collapse notes; three x1c/x7h/
  * x1b joins were silently inverted this way before their shuffle_hash
  * pins). Aggregated build sides (vocab tables, per-doc arrays, bounded
  * query-side probes) are legitimate and not flagged.
  *
  * The PlanSpec regression test guards the four historically-affected
  * queries per test run; `Harness audit` executes the whole catalog and
  * applies this check to every query, the sweep to run when NEW queries
  * land:
  *
  *   sbt "runMain graft.Harness audit <sf0.1 dir>"
  */
object CollapseAudit {
  /** A broadcast subtree is the collapse signature iff it contains a
    * `Generate` (explode) and NO aggregate anywhere in the span: the
    * explode then multiplies a raw scan and its output row count is
    * corpus-proportional. An aggregate above the Generate bounds its
    * input; an aggregate below it (e.g. q8f's posexplode of a 3-element
    * per-group array) bounds its output — both legitimate.
    */
  def flaggedSpans(executedPlan: String): Seq[String] = {
    val all = executedPlan.linesIterator.toVector
    val cut = all.indexWhere(_.contains("Initial Plan"))
    val lines = if (cut > 0) all.take(cut) else all
    lines.zipWithIndex.filter(_._1.contains("BroadcastExchange")).flatMap {
      case (l, i) =>
        val base = l.indexOf("BroadcastExchange")
        var j = i + 1
        while (j < lines.size && {
          val pos = lines(j).indexWhere(_.isLetter); pos > base || pos < 0
        }) j += 1
        val span = lines.slice(i, j)
        val hasGen = span.exists(_.contains("Generate "))
        val hasAgg = span.exists(s =>
          s.contains("HashAggregate") || s.contains("ObjectHashAggregate"))
        if (hasGen && !hasAgg) Some(span.mkString("\n")) else None
    }
  }

  /** Flagged-but-bounded-by-design shapes from the r6 audit (PLANS.md):
    * these broadcasts DO contain a raw Generate, but the generated stream
    * is bounded by construction, not corpus-proportional —
    * q24_salted_join replicates the small DIM side across 16 salt values
    * (dim×16 rows, the point of the salted join); x2d_simhash_neardup
    * broadcasts its capped band keep-list (≤ maxBucket members per band
    * by the cap that precedes it); x3e/x3f/x3j broadcast the QUERY-side
    * probe explode (|Q|·nprobe rows — query-set-proportional, the
    * intended IVF routing shape) and, in the recall twins, the bounded
    * |Q|·k brute-force reference; x3l_incr_index runs that same probe
    * explode TWICE (incremental index + batch twin, |Q|·nprobe each)
    * plus the same bounded brute reference; x3n_filtered_ivf broadcasts
    * the identical query-side probe explode with the label filter
    * composed into the key (still |Q|·nprobe rows); x3p_pq_residual is
    * x3j's probe explode verbatim — same |Q|·nprobe broadcast, the
    * cluster dot merely rides along in the exploded struct;
    * x3q_filtered_index broadcasts the same probe explode with the
    * filter columns appended to the join key; x5e_phash_pairs (r10) is
    * x2d's banded self-join verbatim over the payload fingerprint — the
    * broadcast side is the CAPPED band table, bounded by construction
    * at #bands × keyspace × cap = 4·16·100 = 6400 rows regardless of
    * corpus size (a 16-bit fingerprint has 16 possible 4-bit band
    * keys, and capBuckets drops over-cap buckets entirely);
    * x4v_hybrid_ann (r11) serves its dense head through x3q's
    * maintained-index probe, so it inherits the identical |Q|·nprobe
    * query-side probe explode (10 queries × nprobe rows) — the same
    * intended IVF routing broadcast as x3n/x3q. A NEW
    * query landing here must either justify itself into this list or
    * get a shuffle_hash pin.
    */
  val boundedByDesign: Set[String] = Set("q24_salted_join",
    "x2d_simhash_neardup", "x3e_cosine_ivf", "x3f_ivf_recall",
    "x3j_pq_recall", "x3l_incr_index", "x3n_filtered_ivf",
    "x3p_pq_residual", "x3q_filtered_index", "x5e_phash_pairs",
    "x4v_hybrid_ann")
}

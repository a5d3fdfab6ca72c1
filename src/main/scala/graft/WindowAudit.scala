package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Unpartitioned-window guard (r10 verdict §What's wrong #3): a
  * `WindowExec` with an EMPTY partitionSpec moves the whole input to one
  * partition — fine for the documented tiny-table global rankings
  * (bounded pre-limit heads, per-bucket bound tables), a scale-killer
  * anywhere else. The catalog's bench tail used to carry the benign
  * warnings as NOISE, which would have hidden a future real offender;
  * this audit makes the justified set EXPLICIT and fails loudly on any
  * new one. `ContractSpec` runs [[violation]] over every registered
  * query's planned `executedPlan` at sf0.001 (spec suite), [[graft.Bench]]
  * over every query of its warm pass (there `df.count()` executes its
  * own aggregate's plan, so `df`'s plan is planned, not executed), and
  * `Harness audit` over every query's AQE-finalized plan at any fixture:
  *
  *   sbt "runMain graft.Harness audit <sf0.001 dir>"
  */
object WindowAudit {

  /** Queries whose global windows are bounded BY CONSTRUCTION — each
    * entry names the bound (see the operators' scaladoc; this is the
    * full flagged set of the sf0.001 sweep at the time of writing — a
    * NEW name must either partition its window or justify itself here).
    */
  val justified: Map[String, String] = Map(
    "x4u_hybrid_rrf" -> "rank windows over <=k-row heads and <=2k fused rows",
    "x4v_hybrid_ann" -> "rankBm25 global window over the <=k-row lexical head",
    "x4y_diverse_ann" -> "same rankBm25 <=k-row lexical head as x4v",
    "cdc_seq_audit" -> "cross-bucket lag over the #buckets-row bounds table",
    "cdc_schema_drift" -> ("shape-transition lag over the schema-version " +
      "summary (one row per observed schema shape, not per event)"),
    "x4h_novelty_growth" -> ("cumulative sum over the per-bucket novelty " +
      "table (#buckets rows)"),
    "x4i_vocab_ids" -> ("zOrder/global-ordinal offset fold over " +
      "per-partition counts (#partitions rows, Partitioning.scala)"),
    "x4k_encode_ids" -> ("same #partitions-row global-ordinal offset " +
      "fold as x4i"),
    "x6g_curriculum" -> ("same #partitions-row global-ordinal offset " +
      "fold as x4i"))

  /** Pretty names of every unpartitioned window/group-limit node in the
    * plan, through AQE wrappers (an unexecuted adaptive plan's
    * `executedPlan` is its initial plan, an executed one's the final). */
  def globalWindows(plan: SparkPlan): Seq[String] = plan.collect {
    case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
    case s: QueryStageExec => globalWindows(s.plan)
    case w: WindowExec if w.partitionSpec.isEmpty =>
      Seq("WindowExec " + w.windowExpression.map(_.sql).mkString(", "))
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
      Seq("WindowGroupLimitExec limit=" + w.limit)
  }.flatten

  /** Audit one query's `executedPlan`; returns a violation message or
    * None. */
  def violation(name: String, df: DataFrame): Option[String] = {
    val gw = globalWindows(df.queryExecution.executedPlan)
    if (gw.nonEmpty && !justified.contains(name))
      Some(s"$name: unjustified single-partition window(s): " +
        gw.mkString("; ") +
        " — partition it, or justify it in WindowAudit.justified")
    else None
  }
}

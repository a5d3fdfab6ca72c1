package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column↔Expression converters (the
  * Spark 4 "classic" API). Standard technique for external Catalyst
  * extensions: these helpers are public API in spirit (every native
  * function uses them) but scoped `private[sql]`.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (the entry
    * point every DataFrame API method uses internally).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one — what a V1 streaming
    * `Source.getBatch` must return (`MicroBatchExecution` asserts
    * `batch.isStreaming`). The plan stays lazy: `toRdd` captures the
    * physical plan, rows materialize when the micro-batch runs. This is
    * exactly `FileStreamSource.getBatch`'s construction (public Spark
    * source, FileStreamSource.scala), reachable only from the sql
    * package — hence the bridge.
    */
  def streamingDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Re-wrap the DataFrame a V1 `Sink.addBatch` receives as a plain
    * BATCH frame a normal write path can consume — the exact
    * `ForeachBatchSink` construction (public Spark source): execute the
    * incremental plan once, DEFENSIVELY COPY each row (the scan reuses
    * one UnsafeRow buffer; a shuffle downstream would otherwise buffer
    * aliased rows), and rebuild over the materialized RDD.
    */
  def sinkBatchDataFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = false)
  }

  /** Write `df` as parquet files under `path` (hive directories for
    * `partitionCols`) and hand each write task's files to `trackers` —
    * the `df.write.partitionBy(..).parquet(path)` job with stats
    * trackers attached, which the public writer API does not expose.
    * This is the public Delta Lake construction (TransactionalWrite):
    * `FileFormatWriter.write` under `SQLExecution.withNewExecutionId`,
    * with the same empty-string → NULL conversion of nullable string
    * partition columns the `DataFrameWriter` plans (V1Writes), the
    * session's commit protocol, and the writer's own basic tracker (task
    * output metrics and SQL write metrics stay as `df.write` reports
    * them). The writer sorts by the partition columns itself when the
    * plan's ordering does not already match.
    */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String],
      trackers: Seq[execution.datasources.WriteJobStatsTracker]): Unit = {
    import execution.datasources._
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val analyzed = df.queryExecution.analyzed
    val parts = partitionCols.map(c => analyzed.output.find(_.name == c).get)
    val empty2Null = V1WritesUtils.convertEmptyToNull(analyzed.output, parts)
    val qe = (if (empty2Null.isEmpty) df else ofRows(cs,
      catalyst.plans.logical.Project(empty2Null, analyzed))).queryExecution
    val plan = qe.executedPlan
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      cs.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID.toString, path)
    val hadoopConf = cs.sessionState.newHadoopConfWithOptions(Map.empty)
    val basic = new BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(qe, Some("lakeWrite")) {
      FileFormatWriter.write(
        sparkSession = cs,
        plan = plan,
        fileFormat = new parquet.ParquetFileFormat,
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns =
          partitionCols.map(c => plan.output.find(_.name == c).get),
        bucketSpec = None,
        statsTrackers = basic +: trackers,
        options = Map.empty)
    }
    ()
  }
}

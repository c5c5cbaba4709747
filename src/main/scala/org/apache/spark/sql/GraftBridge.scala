package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` surface so the engine can expose
  * custom Catalyst expressions and logical plans as first-class
  * `Column`s/`DataFrame`s (the Spark 4 replacement for the removed
  * `new Column(expr)` / public `Dataset.ofRows`). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Wrap a logical plan as a DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A parquet scan of exactly `files` (path, byte length), read as
    * `schema`. The file index is the given list, so planning the scan
    * lists no directory and opens no footer, whatever the file count; a
    * file that lacks a column of `schema` reads it as null. The scan
    * exposes `_metadata` like any file source. */
  def parquetFiles(spark: SparkSession, schema: StructType,
      files: Seq[(String, Long)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val statuses = files.map { case (p, len) =>
      val path = new Path(p)
      FileStatusWithMetadata(new FileStatus(len, false, 0, 0L, 0L,
        path.getFileSystem(conf).makeQualified(path)))
    }
    val index = new FileIndex {
      def rootPaths: Seq[Path] = statuses.map(_.getPath.getParent).distinct
      def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses))
      def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
      def refresh(): Unit = ()
      def sizeInBytes: Long = files.map(_._2).sum
      def partitionSchema: StructType = new StructType()
    }
    ofRows(spark, LogicalRelation(HadoopFsRelation(index, new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(session)))
  }

  /** Idempotently append a planner strategy to the session (covers
    * sessions built without `GraftExtensions`). */
  def withExtraStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // check-then-append must be atomic: concurrent callers on one session
    // would otherwise both pass the contains() check and grow the session
    // strategy list without bound under repeated races
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}

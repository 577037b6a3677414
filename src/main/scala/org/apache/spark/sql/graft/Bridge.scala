package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ExpressionUtils, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, LocalTableScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Column ⇄ Expression conversions. Spark 4 made these `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so graft exposes them
  * from a subpackage of `org.apache.spark.sql` — the standard extension
  * point for libraries that add native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `spark.sql` opened at its seam: the text is parsed once under a
    * fresh QueryPlanningTracker, and `check` sees the parsed plan and
    * then the analyzed plan before anything runs. A command executes as
    * soon as its Dataset is built, and some writes only become commands
    * during analysis (`INSERT OVERWRITE DIRECTORY` parses to
    * `InsertIntoDir`), while others fail analysis with Spark's own error
    * first (an INSERT into a view), so both plans are judged. The Dataset
    * reuses the QueryExecution and carries the tracker, so every planning
    * phase is recorded as it is for `spark.sql` (the body of
    * `Dataset.ofRows`).
    */
  def parsedSql(spark: SparkSession, sqlText: String)(
      check: LogicalPlan => Unit): DataFrame = {
    val s = spark.asInstanceOf[CSparkSession]
    s.withActive {
      val tracker = new QueryPlanningTracker
      val plan = tracker.measurePhase(QueryPlanningTracker.PARSING)(
        s.sessionState.sqlParser.parsePlan(sqlText))
      check(plan)
      val qe = new QueryExecution(s, plan, tracker)
      qe.assertAnalyzed()
      check(qe.analyzed)
      new CDataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }

  /** A file listing pinned at construction: `refresh()` is a no-op, so
    * `spark.catalog.refreshTable` from a concurrent writer (which calls
    * `FileIndex.refresh()` IN PLACE on relations resolved through views
    * and the relation cache) cannot change what a plan holding this
    * index reads. Partition filters MUST still be honored: Catalyst
    * removes partition-column predicates from the row-level filters and
    * relies on the index to prune — an index that ignores them silently
    * un-filters the query (a partitioned DELETE's `NOT(day='d1')` would
    * delete nothing). Evaluation binds by name against partitionSchema,
    * the same contract as Spark's PartitioningAwareFileIndex.
    */
  private final class FrozenFileIndex(
      files: Seq[PartitionDirectory],
      roots: Seq[Path],
      partSchema: StructType,
      size: Long) extends FileIndex {
    override def rootPaths: Seq[Path] = roots
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      if (partitionFilters.isEmpty || partSchema.isEmpty) files
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partSchema.indexWhere(_.name == a.name)
              BoundReference(i, partSchema(i).dataType, nullable = true)
          })
        files.filter(p => bound.eval(p.values))
      }
    }
    override val inputFiles: Array[String] =
      files.flatMap(_.files.map(_.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = size
    override def partitionSchema: StructType = partSchema
  }

  /** Rebuild `df` with every file-source relation's listing re-listed NOW
    * and frozen (see FrozenFileIndex). The caller serializes this against
    * writers; afterwards `df.inputFiles` is exactly — and permanently —
    * the set of files the plan will scan, immune to in-place index
    * refreshes from concurrent appends.
    */
  def freezeFileIndexes(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val frozen = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        fs.location.refresh()
        val idx = new FrozenFileIndex(
          fs.location.listFiles(Nil, Nil), fs.location.rootPaths,
          fs.location.partitionSchema, fs.location.sizeInBytes)
        lr.copy(relation = fs.copy(location = idx)(spark))
    }
    CDataset.ofRows(spark, frozen)
  }

  /** The rows of `df`, fetched one partition at a time: the wire server's
    * one drain. It keeps what `Dataset.toLocalIterator` promises (each
    * partition is one job, run in index order when the iterator reaches
    * it, so the caller holds one partition at a time; the statement is
    * one SQL execution under the action name listeners already know) and
    * drops the fixed cost that action pays per statement:
    *  - the task function is `FetchPartition`, a named class. Spark's
    *    ClosureCleaner returns at once for a class that is not a lambda,
    *    where the lambdas that `RDD.toLocalIterator` and
    *    `SparkContext.runJob` wrap around it make it read and parse
    *    `RDD.class` and `SparkContext.class` on every job;
    *  - rows become external `Row`s through one interpreted
    *    `CatalystTypeConverters` converter for the schema, built once
    *    per call: no encoder is resolved and no projection generated;
    *  - a plan that is a `LocalTableScanExec` (a count frame, a SHOW
    *    answer) already holds its rows in memory and answers from
    *    `executeCollect()` with no job, as does the result of a Spark
    *    command (EXPLAIN), whose own drain never ran one.
    * The plan is executed inside the SQL execution, as the action does,
    * so AQE's shuffle stages run there; the result partitions are
    * fetched after it, as the action's are.
    */
  def rows(df: DataFrame): java.util.Iterator[Row] = {
    val qe = df.queryExecution
    val action = "toLocalIterator"
    SQLExecution.withNewExecutionId(qe, Some(action))(QueryExecution.withInternalError(
        s"""The "$action" action failed.""") {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val internal: Iterator[InternalRow] = plan match {
        case local @ (_: LocalTableScanExec | _: CommandResultExec) =>
          local.executeCollect().iterator
        case _ =>
          val rdd = plan.execute()
          Iterator.range(0, rdd.getNumPartitions).flatMap(p =>
            rdd.sparkContext.runJob(rdd, FetchPartition, Seq(p)).head)
      }
      internal.map(r => toRow(r).asInstanceOf[Row]).asJava
    })
  }

  /** One partition's rows, copied out of the operators' reused buffers. */
  private object FetchPartition
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }

  /** Bucket id a bucketed-writer file name encodes (Spark's own parser —
    * the same one the bucketed scan keys on), None for plain files.
    * Lets the commit protocol verify that files carried into a bucketed
    * version really honor the bucket spec before keeping the marker.
    */
  def bucketIdOf(fileName: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils
      .getBucketId(fileName)
}

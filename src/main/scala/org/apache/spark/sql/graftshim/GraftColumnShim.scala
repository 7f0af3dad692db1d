package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.RDDBlockId

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 moved Column to a ColumnNode representation
  * and made the Expression⇄Column converters `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils), so extension
  * libraries provide this one-file shim inside the sql package — the
  * same pattern Spark-native extensions (Delta, Sedona, …) use.
  */
object GraftColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an EXISTING session (the
    * FunctionRegistry is `private[sql]`; new sessions should use
    * `graft.GraftExtensions` instead).
    */
  def registerFunction(spark: org.apache.spark.sql.classic.SparkSession,
                       name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** `df` as an RDD-rooted leaf whose statistics report `sizeInBytes`,
    * by default the bytes a checkpointed frame's blocks hold in memory
    * and on disk (the block manager master's record: no job, no wait
    * for a listener event). A frame that is not a checkpoint becomes a
    * leaf over its own rows; under AQE making that RDD runs its shuffle
    * stages, as a SQL execution of its own so listeners see the plan.
    */
  def sizedLeaf(df: DataFrame, sizeInBytes: Option[BigInt]): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val leaf = ds.logicalPlan match {
      case r: LogicalRDD =>
        val id = r.rdd.id
        lazy val stored = r.rdd.sparkContext.env.blockManager.master.getStorageStatus
          .iterator.flatMap(_.rddBlocks.iterator)
          .collect { case (RDDBlockId(`id`, _), b) => b.memSize + b.diskSize }.sum
        r.copy()(session, Some(Statistics(sizeInBytes.getOrElse(stored))), None)
      case plan =>
        require(sizeInBytes.isDefined, s"no stored size for an uncheckpointed $plan")
        val qe = ds.queryExecution
        val rdd = SQLExecution.withNewExecutionId(qe, Some("sizedLeaf"))(qe.toRdd)
        LogicalRDD(plan.output, rdd)(session, Some(Statistics(sizeInBytes.get)), None)
    }
    Dataset.ofRows(session, leaf)
  }
}

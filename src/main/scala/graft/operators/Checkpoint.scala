package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftshim.{ContextBridge, DatasetBridge}

/** The one way graft pins an intermediate frame: an eager local
  * checkpoint that cuts the lineage AND reports what the checkpoint job
  * saw — the row count always, plus any aggregate columns the caller
  * observes on the same job (a convergence test needs no extra
  * `count()`/`collect` pass).
  *
  * Stats: Spark's `localCheckpoint` keeps the size ESTIMATE of the plan
  * it replaces. An inner join's estimate is the product of its
  * children's, so a loop that self-joins its own checkpoint multiplies
  * the estimate every round until planning itself stalls in BigInteger
  * arithmetic (three batches of three pointer-doubling self-joins over
  * a 1 000-row functional graph grow it from 14 to 104, 821 and 6 562
  * bits while the data stays at 1 000 rows). The pinned frame
  * is therefore rebuilt as a `LogicalRDD` whose stats come from the
  * OBSERVED row count × the output's per-row width — the
  * `LocalRelation` formula — with the checkpoint's partitioning and
  * ordering kept (PageRank's `repartition(src)` layout is reused by
  * every round's join).
  */
object Checkpoint {

  /** A checkpointed frame and the metrics observed while writing it. */
  final case class Pinned(df: DataFrame, rows: Long, metrics: Map[String, Any]) {

    /** A numeric observed metric as a Long; an aggregate over no rows
      * (`sum` of nothing is null) reads as 0.
      */
    def long(name: String): Long = metrics(name) match {
      case n: Number => n.longValue
      case _ => 0L
    }
  }

  /** Name of the observation every checkpoint job carries, and of its
    * row-count metric.
    */
  private[graft] val Observed = "__checkpoint"
  private[graft] val RowsMetric = "__rows"

  /** `File.scala:line` of the innermost frame outside this object and
    * the Java and Scala libraries.
    */
  private def callerSite: String =
    Thread.currentThread.getStackTrace
      .find(f => !Seq(getClass.getName, "java.", "scala.").exists(f.getClassName.startsWith))
      .fold("unknown")(f => s"${f.getFileName}:${f.getLineNumber}")

  /** Checkpoint `df` and return the pinned frame. */
  def apply(df: DataFrame): DataFrame = pin(df).df

  /** Checkpoint `df`, observing its row count and `metrics` (named
    * aggregate columns, e.g. `sum(col("changed")).as("changed")`) on
    * the checkpoint job itself.
    */
  def pin(df: DataFrame, metrics: Column*): Pinned = {
    val observing = df.observe(Observed, count(lit(1)).as(RowsMetric), metrics: _*)
    // name the checkpoint job after the operator line that asked for
    // it, not this file: Spark takes a job's short call site from the
    // first frame outside Spark, which is always `pin`
    val cp = ContextBridge.withCallSite(df.sparkSession.sparkContext,
      s"localCheckpoint at $callerSite")(observing.localCheckpoint(eager = true))
    // read straight off the executed plan the checkpoint job just ran:
    // no listener-bus round trip, unlike an `Observation`
    val m = observing.queryExecution.observedMetrics(Observed)
    val observed = m.getValuesMap[Any](m.schema.fieldNames.toIndexedSeq)
    val rows = observed(RowsMetric).asInstanceOf[Number].longValue
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(rdd.output) * rows,
      rowCount = Some(BigInt(rows)))
    val session = df.sparkSession.asInstanceOf[ClassicSession]
    val restated = LogicalRDD(rdd.output, rdd.rdd, rdd.outputPartitioning,
      rdd.outputOrdering, rdd.isStreaming)(session, Some(stats), Some(rdd.constraints))
    Pinned(DatasetBridge.ofRows(df.sparkSession, restated), rows, observed - RowsMetric)
  }
}

package graft.operators

import scala.jdk.CollectionConverters._

import graft.{SourceGuard, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ContextBridge

/** Pins [[Checkpoint]]: observed-count stats that do not compound
  * across self-joined rounds, metrics read off the checkpoint job, the
  * input's partitioning kept, the job named after its caller — and that
  * no main-code site checkpoints by hand.
  */
class CheckpointSpec extends SparkSpec {

  private def bits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength

  test("self-joined checkpoint rounds keep size stats bounded") {
    // functional graph x -> p(x) over 1 000 nodes; three batches of
    // three pointer-doubling self-joins (the Boruvka merge shape)
    var par = Checkpoint(spark.range(1000).select(col("id").as("x"),
      (col("id") * 7 % 1000).as("p")))
    for (batch <- 1 to 3) {
      var q = par
      for (_ <- 1 to 3)
        q = q.as("f").join(q.as("g"), col("f.p") === col("g.x"))
          .select(col("f.x").as("x"), col("g.p").as("p"))
      par = Checkpoint(q)
      assert(bits(par) <= 64, s"batch $batch: ${bits(par)}-bit size estimate")
    }
    assert(par.count() === 1000L)
  }

  test("observed row count and metrics come from the checkpoint job") {
    val df = spark.range(0, 500).toDF().filter(col("id") % 3 === 0)
    val p = Checkpoint.pin(df, sum(col("id")).as("s"), max(col("id")).as("m"))
    assert(p.rows === df.count())
    assert(p.long("s") === (0L until 500L by 3L).sum)
    assert(p.long("m") === 498L)
    assert(p.df.count() === p.rows)
    // an aggregate over no rows is null and reads as 0
    val empty = Checkpoint.pin(df.filter(col("id") < 0), sum(col("id")).as("s"))
    assert(empty.rows === 0L && empty.long("s") === 0L)
    // a frame with no partitions at all still reports
    val none = Checkpoint.pin(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema))
    assert(none.rows === 0L && none.df.count() === 0L)
  }

  test("a hash-partitioned input keeps its partitioning") {
    // static planning: under AQE the checkpointed plan's partitioning
    // is unknown until it runs, for a plain localCheckpoint too
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cp = Checkpoint(spark.range(0, 200)
        .select((col("id") % 10).as("k"), col("id")).repartition(col("k")))
      assert(cp.queryExecution.executedPlan.outputPartitioning
        .isInstanceOf[HashPartitioning])
      val agg = cp.groupBy(col("k")).agg(count(lit(1)))
      val shuffles = agg.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty, "aggregation on the kept key re-shuffled")
      assert(agg.count() === 10L)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("a checkpoint job is named after the line that pinned it") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // adaptive execution runs the shuffle stage as a job of its own
      Checkpoint(spark.range(0, 100).groupBy((col("id") % 10).as("k")).count())
      ContextBridge.drainListeners(spark)
    } finally sc.removeSparkListener(listener)
    val named = sites.asScala.toSeq.filter(_.startsWith("localCheckpoint"))
    assert(sites.size >= 2 && named.size === 1, sites.asScala.mkString("\n"))
    assert(named.head.startsWith("localCheckpoint at CheckpointSpec.scala:"), named.head)
    // the caller's own call site is left as it was
    assert(sc.getLocalProperty("callSite.short") === null)
  }

  test("main code checkpoints only through Checkpoint") {
    val offenders = SourceGuard.offenders(".localCheckpoint(", "operators/Checkpoint.scala")
    assert(offenders.isEmpty,
      s"hand-written localCheckpoint (use Checkpoint):\n${offenders.mkString("\n")}")
  }
}

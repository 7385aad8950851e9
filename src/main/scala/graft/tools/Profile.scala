package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftshim.ContextBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, Session, SparkEntry}
import graft.operators.Checkpoint

/** Where an entry's time goes. Runs bench entries exactly as a Bench
  * pass does ([[Bench.runEntry]], in [[Session.local]]) and prints, per
  * entry:
  *  - each rep's wall time;
  *  - the jobs of the last rep, slowest first: duration, stages, tasks,
  *    summed task time and call site (a checkpoint job names the
  *    operator line that pinned it);
  *  - every checkpoint of the last rep with the metrics its job
  *    observed: the row count plus the caller's aggregates (a
  *    convergence loop's per-round `changed`, say);
  *  - with `--plans DIR`, the formatted physical plan of a query entry
  *    in `DIR/<entry>.txt`.
  *
  * Usage: runMain graft.tools.Profile <entry[,entry…]> [sfDir] [--reps N] [--plans DIR]
  * (sfDir defaults to `SPARK_GRAFT_SF_DIR`; cores from `SPARK_GRAFT_CPUS`).
  */
object Profile {

  /** Jobs listed per entry. */
  private val TopJobs = 12

  def main(args: Array[String]): Unit = {
    def flag(name: String) = args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val reps = flag("--reps").fold(1)(_.toInt)
    val plans = flag("--plans").map(Paths.get(_))
    val positional = args.indices
      .filterNot(i => args(i).startsWith("--") || (i > 0 && args(i - 1).startsWith("--")))
      .map(args(_))
    val sfDir = positional.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    if (positional.isEmpty || positional.size > 2 || sfDir.isEmpty || reps < 1) {
      System.err.println(
        "usage: graft.tools.Profile <entry[,entry…]> [sfDir] [--reps N] [--plans DIR]")
      sys.exit(2)
    }
    val freshArtifactDir = Bench.freshArtifactCache()
    val spark = Session.local()
    try {
      Bench.warmUp(spark, sfDir.get)
      run(spark, positional.head.split(",").toSeq, sfDir.get, reps, plans)
    } finally {
      spark.stop()
      freshArtifactDir.foreach(Bench.deleteArtifactCache)
    }
  }

  /** Profile `entries` in `spark`, writing the report through `out`. */
  def run(spark: SparkSession, entries: Seq[String], sfDir: String, reps: Int,
          plans: Option[Path], out: String => Unit = println): Unit = {
    val listener = new ProfileListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    try for (name <- entries) {
      for (rep <- 1 to reps) {
        ContextBridge.drainListeners(spark)
        listener.reset()
        val (dt, failure) = Bench.runEntry(spark, name, sfDir)
        out(f"[profile] $name rep $rep: $dt%.3f s" +
          failure.fold("")(e => s" FAILED ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      ContextBridge.drainListeners(spark)
      val jobs = listener.jobs
      out(f"[profile] $name last rep: ${jobs.size} jobs, ${jobs.map(_.stages).sum} stages, " +
        f"${jobs.map(_.tasks).sum} tasks, ${jobs.map(_.taskMs).sum / 1e3}%.3f s task time")
      jobs.sortBy(-_.ms).take(TopJobs).foreach { j =>
        out(f"  job ${j.id}%5d ${j.ms / 1e3}%8.3f s ${j.stages}%3d stages ${j.tasks}%5d tasks " +
          f"${j.taskMs / 1e3}%8.3f s task time  ${j.site}")
      }
      listener.checkpoints.foreach { case (site, metrics) =>
        val aggs = (metrics - Checkpoint.RowsMetric).toSeq.sortBy(_._1)
          .map { case (k, v) => s" $k=$v" }.mkString
        out(s"  checkpoint rows=${metrics(Checkpoint.RowsMetric)}$aggs  $site")
      }
      for (dir <- plans; fn <- SparkEntry.queries.get(name)) {
        val file = Files.createDirectories(dir).resolve(s"$name.txt")
        Files.writeString(file, fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        out(s"[profile] $name plan: $file")
        graft.operators.Retained.releaseAll(spark)
        spark.catalog.clearCache()
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
  }
}

/** Collects the jobs and checkpoints run since the last [[reset]]: per
  * job its duration, stages, tasks, summed task time and call site (the
  * result stage's name); per `localCheckpoint` action the metrics the
  * checkpoint job observed ([[Checkpoint.pin]]), under the call site of
  * that job. A plain listener: register it with the SparkContext and
  * the session's listener manager, read it after the listener bus is
  * drained.
  */
final class ProfileListener extends SparkListener with QueryExecutionListener {

  final case class Job(id: Int, ms: Long, stages: Int, tasks: Int, taskMs: Long, site: String)

  private val started = mutable.Map.empty[Int, (Long, Seq[Int], String)]
  private val stageTasks = mutable.Map.empty[Int, (Int, Long)]
  private val done = mutable.ArrayBuffer.empty[Job]
  private val pinned = mutable.ArrayBuffer.empty[(String, Map[String, Any])]
  private var checkpointSite = ""

  def reset(): Unit = synchronized { done.clear(); pinned.clear(); stageTasks.clear() }

  def jobs: Seq[Job] = synchronized(done.toList)

  /** (call site, observed metrics) of each checkpoint, in run order. */
  def checkpoints: Seq[(String, Map[String, Any])] = synchronized(pinned.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last, so it has the highest id; its
    // name is the job's short call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    if (site.startsWith("localCheckpoint")) checkpointSite = site
    started(e.jobId) = (e.time, e.stageIds, site)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageTasks(i.stageId) = (i.numTasks, Option(i.taskMetrics).fold(0L)(_.executorRunTime))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, stageIds, site) =>
      // skipped stages (shuffle output reused) never complete
      val ran = stageIds.flatMap(stageTasks.get)
      done += Job(e.jobId, e.time - t0, ran.size, ran.map(_._1).sum, ran.map(_._2).sum, site)
    }
  }

  // the action's execution end is posted after its jobs' events on the
  // same queue, so the checkpoint job seen last is this checkpoint's
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "localCheckpoint")
      qe.observedMetrics.get(Checkpoint.Observed).foreach { m =>
        synchronized {
          pinned += checkpointSite -> m.getValuesMap[Any](m.schema.fieldNames.toIndexedSeq)
        }
      }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The curation query mix: a fixed, ordered list of `SparkEntry.queries`
  * entries (chosen in run.py) over the test parquet tables, each result
  * written to parquet so it can be checked against its DuckDB oracle
  * after the run.
  */
object Curate {

  def short(entry: String): String = entry.takeWhile(_ != '_')

  /** Evaluate one entry and write its result (the timed op). */
  def runEntry(spark: SparkSession, entry: String, sfDir: String, out: Path): Unit =
    graft.SparkEntry.queries(entry)(spark, sfDir).write.mode("overwrite").parquet(out.toString)

  /** Untimed clean-up after each entry, as `graft.Bench` does. */
  def release(spark: SparkSession): Unit = {
    graft.operators.Retained.releaseAll(spark)
    spark.catalog.clearCache()
  }

  /** Memory-sink tables the streaming drains left in the session. */
  def leftoverTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter(_.contains("_sink_"))

  /** Streaming checkpoint directories the drains left under `tmp`. */
  def leftoverDirs(tmp: Path): Int = {
    val ls = Files.list(tmp)
    try ls.toArray.toSeq.map(_.asInstanceOf[Path])
      .count(p => p.getFileName.toString.startsWith("graft-q") && Files.isDirectory(p.resolve("ckpt")))
    finally ls.close()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and spec runs in, so a
  * profile, a plan dump and a spec see the plans Bench and Verify time
  * and dump. `cli.Main` keeps its own builder: its `SPARK_MASTER` /
  * `local[*]` default is the product's contract, not a dev session.
  */
object Session {

  /** Core count from `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** `local[cpus]` with one shuffle partition per core, UTC, parquet
    * TIMESTAMP(NANOS) read as epoch-ns longs (`Tables.events`), no UI,
    * WARN logging.
    */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

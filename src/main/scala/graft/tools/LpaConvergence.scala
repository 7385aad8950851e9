package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Checkpoint

/** Per-round label-change counts for LPA on the co-purchase graph —
  * the measurement behind the frontier optimization: synchronous LPA
  * only needs to RECOMPUTE nodes with a changed neighbor label, so
  * the win is exactly the speed at which `changed` collapses.
  *
  * Usage: runMain graft.tools.LpaConvergence [sfDir] [rounds]
  */
object LpaConvergence {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val e0 = Checkpoint.pin(edges.unionAll(edges.select(col("dst").as("src"),
        col("src").as("dst")))
      .repartition(col("dst")))
    val init = Checkpoint.pin(e0.df.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    val n = init.rows
    println(s"nodes=$n edges_mirrored=${e0.rows}")
    var labels = init.df
    for (r <- 1 to rounds) {
      val next = Checkpoint.pin(e0.df.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
          .select(col("node"), col("m.label").as("label"))
          .join(labels.withColumnRenamed("label", "prev"), Seq("node"))
          .select(col("node"), col("label"), (col("label") =!= col("prev")).as("chg")),
        count(when(col("chg"), 1)).as("changed"))
      val changed = next.long("changed")
      println(s"round $r: changed=$changed (${100.0 * changed / n}%)")
      labels = next.df.select(col("node"), col("label"))
    }
    spark.stop()
  }
}

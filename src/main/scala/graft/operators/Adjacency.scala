package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The undirected adjacency every graph operator walks: `(u, v)` long
  * node ids, self-loops dropped, both directions present, each
  * directed pair once.
  */
object Adjacency {

  def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct()
  }
}

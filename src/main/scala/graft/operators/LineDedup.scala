package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LINE-level boilerplate removal (the C4/RefinedWeb cleaning step):
  * a line occurring — after trimming — in more than `maxDf` documents
  * corpus-wide is boilerplate (navigation, cookie banners, copyright
  * footers) and is dropped from EVERY document; survivors reassemble
  * in their original line order.
  *
  * Shape: one explode + one line-frequency hash aggregation (map-side
  * combined, keyed by line text), one join back on the line key, and
  * one per-document aggregation to reassemble — every stage keyed and
  * parallel, nothing corpus-sized on the driver. A duplicated line is
  * counted once per document (distinct within doc), so a document
  * cannot promote its own repeated line into "boilerplate".
  */
object LineDedup {

  /** (idCol, clean_text, n_lines_kept, n_lines_dropped). */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        maxDf: Long): DataFrame = {
    // the frequency aggregation and the join-back both read the
    // exploded lines; checkpoint so the split runs ONCE
    val lines = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__idx", "__line")))
      .withColumn("__key", trim(col("__line")))
      .transform(Checkpoint(_))
    val freq = lines.select(col("__id"), col("__key")).distinct()
      .groupBy(col("__key")).agg(count(lit(1)).as("__df"))
    lines.join(freq, Seq("__key"))
      .groupBy(col("__id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__df") <= maxDf,
            struct(col("__idx"), col("__line"))))),
          p => p.getField("__line")), "\n").as("clean_text"),
        sum(when(col("__df") <= maxDf, 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("n_lines_dropped"))
      .withColumnRenamed("__id", idCol)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame

/** How a multiply-read intermediate frame is held between the stage that
  * produces it and the stages that re-read it (pair generation reads its
  * shingle/signature frames two or three times): a plain `.cache()`
  * (MEMORY_AND_DISK — it spills rather than fails), registered with
  * [[Retained]] so callers release it via `Retained.releaseAll(spark)`
  * once the result is consumed.
  */
object Staging {

  def stage(df: DataFrame): DataFrame = Retained.track(df.cache())
}

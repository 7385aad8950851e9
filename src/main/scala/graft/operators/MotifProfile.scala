package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series MOTIF and DISCORD discovery — the matrix-profile
  * questions (Yeh et al., ICDM 2016) over a pre-aggregated series:
  * the closest pair of non-overlapping length-`w` windows (the
  * repeating shape, e.g. "the promo week pattern") and the window
  * whose NEAREST neighbor is farthest (the one-off anomaly no other
  * stretch resembles).
  *
  * Distances are exact DECIMAL(38) sums of squared differences — no
  * z-normalization, no float ever decides an argmin/argmax, and the
  * oracle replays the whole thing relationally (HUGEINT on its side).
  * The published `ssd` is the exact value cast to double once, after
  * selection (deterministic nearest-double on both engines). Ties
  * break on the smallest window index (then the smaller neighbor).
  *
  * Scale shape: the window frame is |series| − w + 1 rows (CALENDAR-
  * bounded for the daily/monthly series this targets — the caller
  * passes the pre-aggregation, as with [[Kendall]]/Theil–Sen), built
  * by one pass of w−1 leads; the pair expansion is the O(n²) the
  * matrix profile is defined by, run as a broadcast join over the
  * tiny window frame with an exclusion zone |i−j| ≥ w so a window
  * never matches its own overlap. Each pair's distance is a w-term
  * codegen'd integer expression.
  *
  * Output: two rows `(kind, idx_a, idx_b, ssd)` —
  * `('motif', i, j, min ssd)` with i < j, and
  * `('discord', i, nn_j, max_i min_j ssd)`. Empty when fewer than
  * `2·w` points exist (no non-overlapping pair).
  */
object MotifProfile {

  def motifDiscord(series: DataFrame, orderCol: String, valueCol: String,
                   windowLen: Int): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(orderCol).as("__o"),
        col(valueCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull)
    val winCols = (0 until windowLen).map { j =>
      (if (j == 0) col("__x") else lag(col("__x"), -j).over(w))
        .as(s"__w$j")
    }
    // one window pass builds every length-w vector; trailing rows
    // whose vector runs off the series drop (their last lead is null)
    val wins = base
      .select(row_number().over(w).cast("long").as("__i") +: winCols: _*)
      .filter(col(s"__w${windowLen - 1}").isNotNull)
      .transform(Checkpoint(_)) // tiny; read by both join sides
    val a = wins.toDF(("__i" +: (0 until windowLen).map(j => s"__a$j")): _*)
    val b = wins.toDF(("__j" +: (0 until windowLen).map(j => s"__b$j")): _*)
    // hybrid ssd (the Spearman q177 lesson, applied the fast way
    // round): a cents-scale daily spread of ~1.4e9 squares past
    // 2^63/w, where Spark would wrap silently and DuckDB raises — but
    // DECIMAL on every pair costs ~3× codegen'd longs. One cheap agg
    // measures the actual value span; the LONG path runs whenever
    // w·span² provably fits, the DECIMAL(38) path otherwise.
    val spanFits: Boolean = {
      import wins.sparkSession.implicits._
      // span measured over EVERY value (the last w−1 points never
      // appear as a window head, so the window frame alone could
      // understate the extremes)
      base.agg(min(col("__x")), max(col("__x")))
        .as[(Option[Long], Option[Long])].head() match {
        case (Some(mn), Some(mx)) =>
          val s = BigInt(mx) - BigInt(mn)
          // the DECIMAL path is exact only while w·span² fits in 38
          // digits; past that a term/sum would NULL under ANSI-off and
          // a NULL ssd sorts FIRST in the ascending motif orderBy,
          // silently electing a garbage pair — fail loudly instead
          // (the ExactSelection 2^63-guard doctrine)
          require(BigInt(windowLen) * s * s < BigInt(10).pow(38),
            s"motifDiscord: value span $s with windowLen=$windowLen " +
              "overflows the exact DECIMAL(38) ssd; rescale the series " +
              "(e.g. aggregate to coarser units) before profiling")
          BigInt(windowLen) * s * s < BigInt(2).pow(63)
        case _ => true // empty series: either path is vacuous
      }
    }
    val ssd: Column =
      if (spanFits)
        (0 until windowLen).map { j =>
          (col(s"__a$j") - col(s"__b$j")) *
            (col(s"__a$j") - col(s"__b$j"))
        }.reduce(_ + _)
      else
        (0 until windowLen).map { j =>
          // subtract AFTER the decimal cast — a long (a−b) can wrap
          // before the cast when the raw values straddle ±2^62
          val d = col(s"__a$j").cast("decimal(19,0)") -
            col(s"__b$j").cast("decimal(19,0)")
          (d * d).cast("decimal(38,0)")
        }.reduce(_ + _)
    // exclusion zone: |i − j| ≥ w keeps a window from matching its
    // own overlap; both orientations kept so the per-i nearest
    // neighbor sees every candidate
    // NOT checkpointed: materializing the O(n²) pair frame costs more
    // than re-running the broadcast join once per consumer. The
    // checkpointed window frame sits in 1-2 partitions — repartition
    // the probe side or the whole pair expansion runs on ONE task
    // (the q143 pair-expansion lesson: CPU is O(pairs), not O(rows))
    val par = wins.sparkSession.sparkContext.defaultParallelism
    val pairs = a.repartition(par).join(broadcast(b),
        abs(col("__i") - col("__j")) >= windowLen.toLong)
      .select(col("__i"), col("__j"), ssd.as("__ssd"))
    val motif = pairs.filter(col("__i") < col("__j"))
      .orderBy(col("__ssd"), col("__i"), col("__j"))
      .limit(1)
      .select(lit("motif").as("kind"), col("__i").as("idx_a"),
        col("__j").as("idx_b"), col("__ssd").cast("double").as("ssd"))
    val nn = pairs.groupBy(col("__i"))
      .agg(min(struct(col("__ssd"), col("__j"))).as("__m"))
      .select(col("__i"), col("__m.__ssd").as("__nn"),
        col("__m.__j").as("__nnj"))
    val discord = nn
      .orderBy(col("__nn").desc, col("__i"))
      .limit(1)
      .select(lit("discord").as("kind"), col("__i").as("idx_a"),
        col("__nnj").as("idx_b"), col("__nn").cast("double").as("ssd"))
    motif.unionByName(discord).orderBy(col("kind"), col("idx_a"))
  }
}

package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** Pins [[Boruvka]] against hand graphs and [[ProductQuantization]] /
  * the q261 transformWithState drain against their invariants.
  */
class MstPqSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  test("Boruvka: triangle drops exactly the heaviest edge") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 9L))
      .toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // round 1: every component's cheapest pick is (1,2) or (2,3) —
    // the w=9 edge never joins; one component remains
    assert(got(0) === ((1L, 2L, 3L, 1L)))
    // converged: nothing further to add
    assert(got(1) === ((2L, 0L, 0L, 1L)))
  }

  test("Boruvka: path graph connects fully in one round") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 7L))
      .toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 1)
      .collect()(0)
    // all three path edges are some component's minimum
    assert(got.getLong(1) === 3L && got.getLong(2) === 13L &&
      got.getLong(3) === 1L)
  }

  test("Boruvka: two separate components stay separate") {
    val edges = Seq((1L, 2L, 4L), (10L, 11L, 6L)).toDF("a", "b", "w")
    val got = Boruvka.forestRounds(edges, "a", "b", "w", rounds = 2)
      .collect()
    assert(got(0).getLong(1) === 2L && got(0).getLong(3) === 2L)
    assert(got(1).getLong(1) === 0L && got(1).getLong(3) === 2L)
  }

  test("Boruvka: long-chain merges plan in bounded time") {
    // 64 segments of 64 nodes on one path. Inside a segment weights rise
    // left to right, so round 1 picks form 64 chains of height 63
    // (pointer-doubling steps = 12: four checkpointed batches); the
    // heavy segment-boundary weights also rise, so round 2 merges the
    // 64 components along a chain of height 63 (steps = 6). Size
    // estimates that compound across those checkpoints stall the
    // driver's planner in BigInteger arithmetic long before the data
    // (4 095 edges) costs anything.
    val seg = 64
    val boundary = 1000000L
    val edges = (0 until seg * seg - 1).map { i =>
      val j = i % seg
      val w = if (j == seg - 1) boundary + i / seg else (j + 1).toLong
      (i.toLong, i + 1L, w)
    }.toDF("a", "b", "w")
    val got = failAfter(60.seconds) {
      Boruvka.forestRounds(edges, "a", "b", "w", rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
    }(ThreadSignaler)
    val inner = seg * (1 to seg - 1).sum.toLong
    val bridges = (seg - 1) * boundary + (0 until seg - 1).sum
    assert(got.toSeq === Seq((1L, seg * (seg - 1L), inner, seg.toLong),
      (2L, seg - 1L, bridges, 1L), (3L, 0L, 0L, 1L)))
  }

  test("PQ: codes are in range and deterministic; ADC self-rank top") {
    val e = graft.Tables.embeddings(spark, sf())
    val corpus = e.filter(col("vec_id") >= 10)
    val cb = ProductQuantization.fitCodebooks(corpus, "vec_id",
      "embedding", m = 2, k = 4, iters = 1)
    assert(cb.count() === 8) // 2 subspaces x 4 clusters
    val enc = ProductQuantization.encode(corpus, "vec_id", "embedding",
      cb, m = 2)
    val codes = enc.select(org.apache.spark.sql.functions
      .explode(col("codes"))).as[Long].collect()
    assert(codes.forall(c => c >= 1 && c <= 4))
    // re-encoding is bit-identical (no RNG anywhere)
    val again = ProductQuantization.encode(corpus, "vec_id", "embedding",
      cb, m = 2)
    assert(enc.orderBy("vec_id").collect().toSeq ===
      again.orderBy("vec_id").collect().toSeq)
  }

  test("q260 PQ recall: valid ppm per query, exact yardstick honored") {
    val rows = SparkEntry.q260PqAnn(spark, sf()).collect()
    assert(rows.length === 10) // one row per query vector
    rows.foreach { r =>
      val (h, ppm) = (r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"))
      assert(h >= 0 && h <= 5 && ppm === h * 200000)
    }
  }

  test("q261 drain equals the batch group-by and restores the provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val got = SparkEntry.q261StreamRunningTotals(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spark.conf.getOption(key) === before)
    val want = graft.Tables.events(spark, sf())
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .cast("long").as("c"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
  }
}

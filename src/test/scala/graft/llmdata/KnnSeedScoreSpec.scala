package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Heavy (bucket-local) seed scoring ≡ the light join-form seed, bit for
  * bit — the contract that lets the k-NN pipeline compute the cosine
  * INSIDE the band-bucket self-join at scale without the graph depending
  * on which shape built it. Both the exactly-once edge SET (pairCandIds'
  * first-shared-band predicate) and every cosine's bit pattern must
  * match. The join-form scorer's degenerate-input contract is pinned
  * here too.
  */
class KnnSeedScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private lazy val n = Similarity.withNorm(
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))).cache()

  // The operator's own size-adaptive knobs for the 500-vector fixture.
  private lazy val (planes, bits) = Similarity.knnBanding(500L)

  // The fixture as the k-NN pipeline seeds it: every vector new.
  private lazy val v = Similarity.withKnnBands(n, planes, bits).withColumn("__new", lit(true))

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Option[Long]] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None
         else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))
    }.toMap

  test("bucket-local seed scoring reproduces the join-form seed bit-for-bit on the fixture banding") {
    val (bucketDf, cache) = Similarity.knnSeed(v, light = false)
    val bucket = asMap(bucketDf)
    cache.foreach(_.unpersist(blocking = false))
    val join = asMap(Similarity.knnSeed(v, light = true)._1)
    assert(join.nonEmpty, "fixture banding produced no seed candidates")
    assert(bucket.keySet == join.keySet,
      s"seed edge sets differ: bucket-only ${(bucket.keySet -- join.keySet).take(5)}, " +
        s"join-only ${(join.keySet -- bucket.keySet).take(5)}")
    val diverging = join.count { case (k, v) => bucket(k) != v }
    assert(diverging == 0, s"$diverging of ${join.size} seed cosines differ at the bit level")
  }

  test("seed pairs are canonical (src < dst) and exactly-once") {
    val (bucketDf, cache) = Similarity.knnSeed(v, light = false)
    val rows = bucketDf.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    cache.foreach(_.unpersist(blocking = false))
    assert(rows.forall { case (s, d) => s < d }, "seed pairs must be canonical (lo, hi)")
    assert(rows.length == rows.distinct.length,
      "a pair sharing several bands must be emitted exactly once (first shared band)")
  }

  test("seed self-join runs with ZERO live shuffles — the one bucket-key exchange lives inside the cache") {
    // The scale property the rework bought: the bands×N vector frame is
    // repartitioned by (band, band_val) INTO the persisted frame, so both
    // self-join sides read the cache already co-partitioned and the join
    // plan needs no exchange at all (AQE stage reuse was measured NOT to
    // fire across the self-join's two sides, which would have shuffled
    // the vectors twice). At fixture scale the band frame is
    // broadcast-sized and AQE would pick BHJ; force the shuffle join to
    // pin the at-scale shape.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bucketDf, cache) = Similarity.knnSeed(v, light = false)
      // collect() (not count()) so the inspected queryExecution is the one
      // that ran — count() wraps the frame in a NEW execution and leaves
      // this plan isFinalPlan=false with no stages materialized.
      bucketDf.collect()
      // Typed traversal, not string matching: the cache-BUILD repartition
      // legitimately prints inside the InMemoryRelation's stored plan; a
      // live shuffle of THIS execution is a ShuffleQueryStageExec node in
      // the final adaptive plan tree (which stops at the cache-scan leaf).
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
      val root = bucketDf.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val live = root.collect { case s: ShuffleQueryStageExec => s }
      cache.foreach(_.unpersist(blocking = false))
      assert(live.isEmpty,
        s"expected the co-partitioned cache to satisfy the join with no live exchange, got:\n$root")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def scoredBy(pairs: org.apache.spark.sql.DataFrame,
                       zn: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
    Similarity.scoreEdges(pairs, zn).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("zero-norm contract: scoreEdges emits NULL (ranks last), never NaN") {
    import spark.implicits._
    val z = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val zn = Similarity.withNorm(z)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val rows = scoredBy(pairs, zn)
    assert(rows(2L).isEmpty, "zero-norm cosine must be NULL (Spark's Divide-by-zero)")
    assert(rows(3L).exists(c => c > 0.9), "well-defined pair must score")
    // A NaN would sort FIRST under Spark's desc and promote zero-norm
    // vectors into every top-k; NULL sorts last.
    val order = Similarity.scoreEdges(pairs, zn).orderBy(col("cos").desc)
      .collect().map(_.getLong(1))
    assert(order.toSeq == Seq(3L, 2L), "the zero-norm pair must rank last")
  }

  test("degenerate input: NULL cos for null/short vectors, absent id drops") {
    import spark.implicits._
    // 1 = well-formed, 2 = null embedding, 3 = mismatched dimension,
    // 4 = well-formed partner; pair (1,5) references an absent id.
    val z = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.5f)), (4L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val zn = Similarity.withNorm(z)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val j = scoredBy(pairs, zn)
    assert(j.keySet == Set(2L, 3L, 4L),
      "join form must keep null/mismatched pairs (NULL cos) and drop only absent ids")
    assert(j(2L).isEmpty, "null embedding: NULL cos")
    assert(j(3L).isEmpty, "dimension mismatch: NULL cos")
    assert(j(4L).exists(c => math.abs(c - 0.6) < 1e-6), "well-formed pair scores")
  }
}

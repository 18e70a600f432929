package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every retrieval path ends in the shared top-k tail, whose rank cut is a
  * plain `rank <= hi` filter on the raw `row_number` — the form
  * `InferWindowGroupLimit` needs to plant a map-side Partial
  * `WindowGroupLimit`, so each partition forwards at most `hi` rows per
  * query across the rank exchange. This pins the number of Partial limits
  * in each operator's physical plan: a tail edit that casts or wraps the
  * rank before the cut drops the limit silently (same rows, much larger
  * exchange), and this table catches it.
  */
class RetrievalPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"retrieval_plan_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  private lazy val ivfDir = { val d = tmpDir("ivf"); Similarity.buildIvfIndex(embs, d); d }
  private lazy val pqDir = { val d = tmpDir("pq"); Similarity.buildPqIndex(embs, d); d }

  // Partial WindowGroupLimit nodes per plan. IVF cuts each query's probe
  // cells and then its neighbors; PQ cuts ADC candidates and then the
  // exact re-rank. rpTopK cuts twice too, but its second window reads the
  // first one's query_id partitioning, so only the first needs a Partial
  // limit.
  private val expected: Seq[(String, () => DataFrame, Int)] = Seq(
    ("bruteForceTopK", () => Similarity.bruteForceTopK(embs, 4, 5), 1),
    ("hardNegatives", () => Similarity.hardNegatives(embs, 4, skip = 5, take = 10), 1),
    ("quantizedTopK", () => Similarity.quantizedTopK(embs, 4, 5), 1),
    ("ivfTopK", () => Similarity.ivfTopK(embs, 4, 5), 2),
    ("ivfTopKFromIndex", () => Similarity.ivfTopKFromIndex(spark, ivfDir,
      embs.filter(col("vec_id") < 4), 5), 2),
    ("lshTopK", () => Similarity.lshTopK(embs, 4, 5), 1),
    ("lshTopKMultiProbe", () => Similarity.lshTopKMultiProbe(embs, 4, 5), 1),
    ("rpTopK", () => Similarity.rpTopK(embs, 4, 5), 1),
    ("pqTopK", () => Similarity.pqTopK(embs, 4, 5), 2),
    ("pqTopKFromIndex", () => Similarity.pqTopKFromIndex(spark, pqDir, embs, 4, 5), 2),
    ("mmrTopK", () => Similarity.mmrTopK(embs, 4, 5), 1))

  private def partialLimits(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("WindowGroupLimit") && l.contains("Partial"))

  test("each retrieval path keeps its Partial WindowGroupLimit count") {
    graft.functions.VectorExprs.register(spark)
    val got = expected.map { case (name, build, _) =>
      name -> graft.core.CacheScope.scoped(partialLimits(build()))
    }.toMap
    expected.foreach { case (name, _, want) =>
      assert(got(name) == want, s"$name: $want Partial WindowGroupLimit node(s) expected, got ${got(name)}")
    }
  }
}

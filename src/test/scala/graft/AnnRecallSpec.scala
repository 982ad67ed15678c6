package graft

import graft.pipeline.{Ivf, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Seeded recall floors for the approximate ANN arms against the
  * brute-force ground truth on a planted-neighbor corpus — the
  * [[AnnRecall]] harness's measurement, pinned at test scale so a
  * regression in bucketing / probe-ring / nprobe routing fails the
  * suite, not just the committed artifact. Planted copies sit at
  * cosine ≈ 1, so a healthy index recovers nearly all of them; the
  * floors are deliberately below the measured values (≈1.0 / ≥0.9)
  * to absorb seed drift, not to excuse a broken index. */
class AnnRecallSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val k = 10

  private def recallOf(method: Seq[Double] => org.apache.spark.sql.DataFrame,
                       corpus: org.apache.spark.sql.DataFrame,
                       queries: Seq[(Long, Seq[Double])]): Double = {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val rs = queries.map { case (_, q) =>
      val truth = ids(Similarity.bruteForceTopK(corpus, "vec_id",
        "embedding", q, k))
      ids(method(q)).intersect(truth).size.toDouble / k
    }
    rs.sum / rs.size
  }

  it should "recover planted near-neighbors above the per-method floors" in {
    val seed = java.lang.Long.getLong("graft.fuzz.seed", 1329L)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (corpus, queries) = AnnRecall.plantedCorpus(spark, emb,
      numQueries = 8, planted = 10, seed = seed)
    corpus.cache(); corpus.count()
    val dim = queries.head._2.size

    val annIdx = java.nio.file.Files
      .createTempDirectory("ann_recall_spec_idx").toString
    val ivfIdx = java.nio.file.Files
      .createTempDirectory("ann_recall_spec_ivf").toString
    Similarity.buildIndex(corpus, "vec_id", "embedding", annIdx,
      dim = dim, numPlanes = 6)
    Ivf.buildIndex(corpus, "vec_id", "embedding", ivfIdx, k = 8, iters = 3)

    val lsh = recallOf(q => Similarity.lshTopK(corpus, "vec_id",
      "embedding", q, k, numPlanes = 6), corpus, queries)
    val lshP = recallOf(q => Similarity.portableLshTopK(corpus, "vec_id",
      "embedding", q, k, numPlanes = 6), corpus, queries)
    val index = recallOf(q => Similarity.queryIndex(spark, annIdx, q, k),
      corpus, queries)
    val ivf = recallOf(q => Ivf.queryIndex(spark, ivfIdx, q, k, nprobe = 3),
      corpus, queries)

    withClue(s"seed=$seed lsh=$lsh lsh_portable=$lshP index=$index ivf=$ivf: ") {
      // planted copies share the query's bucket at cosine ~1: the LSH
      // probe ring and the persisted index must recover nearly all
      lsh should be >= 0.85
      lshP should be >= 0.85
      index should be >= 0.85
      // IVF probes 3 of 8 centroid partitions; the planted copies sit
      // in the query's own centroid cell, which is always probed first
      ivf should be >= 0.8
    }
    corpus.unpersist()
  }

  // AnnRecall.plantedCorpus once drew query ids via `(i*17) % (maxId+1)`,
  // which silently under-selects (or zero-selects) on sparse / offset
  // id spaces. It now strides evenly over the sorted ACTUAL id set,
  // requires a non-empty table and reports the realized count. Pinned
  // on a sparse 3-id space and an offset dense space where the old
  // formula found zero ids.
  behavior of "AnnRecall query-id selection (advice #2)"

  private def embDf(ids: Seq[Long]) = {
    val rnd = new scala.util.Random(1335L)
    ids.map(id => (id, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
  }

  it should "realize the requested query count on a sparse id space" in {
    // ids nowhere near [0, n) — the old modular formula would have
    // selected ids 0,17,34,... and matched nothing
    val emb = embDf(Seq(7L, 5000L, 123456L))
    val (_, queries) = AnnRecall.plantedCorpus(spark, emb,
      numQueries = 2, planted = 1, seed = 1L)
    queries.size shouldBe 2
    queries.map(_._1).toSet.subsetOf(Set(7L, 5000L, 123456L)) shouldBe true
  }

  it should "realize queries on an offset dense id space" in {
    val emb = embDf((1000000L until 1000040L))
    val (_, queries) = AnnRecall.plantedCorpus(spark, emb,
      numQueries = 5, planted = 1, seed = 1L)
    queries.size shouldBe 5
    queries.map(_._1).foreach(id => id should be >= 1000000L)
  }

  it should "cap at the corpus size when fewer ids than requested" in {
    val emb = embDf(Seq(3L, 9L))
    val (_, queries) = AnnRecall.plantedCorpus(spark, emb,
      numQueries = 20, planted = 1, seed = 1L)
    queries.map(_._1).toSet shouldBe Set(3L, 9L)
  }

  it should "fail with a clear message on an empty embeddings table" in {
    val emb = embDf(Nil)
    val ex = intercept[IllegalArgumentException] {
      AnnRecall.plantedCorpus(spark, emb, numQueries = 2, planted = 1,
        seed = 1L)
    }
    ex.getMessage should include("no rows with non-null vectors")
  }

  it should "plant copies with ids above the corpus max" in {
    val emb = embDf(Seq(7L, 5000L))
    val (corpus, queries) = AnnRecall.plantedCorpus(spark, emb,
      numQueries = 2, planted = 3, seed = 1L)
    corpus.count() shouldBe (2 + 2 * 3)
    val planted = corpus.filter($"vec_id" > 5000L)
      .select("vec_id").as[Long].collect()
    planted should have length (2 * 3)
    planted.foreach(_ should be > 5000L)
    queries.size shouldBe 2
  }
}

package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[QuerySelect]], the seeded query-id selection of the measurement
  * mains: proportional picks reach the tail of a non-multiple id range
  * (the old `by(stride).take(n)` stopped at index 798 of 1000 for 400
  * picks), and the bounded sample is the exact full id set under the
  * cap and a deterministic bounded subset above it. */
class QuerySelectSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def embDf(ids: Seq[Long]) = {
    val rnd = new scala.util.Random(1336L)
    ids.map(id => (id, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
  }

  behavior of "QuerySelect.proportionalPick"

  it should "sample the tail of a non-multiple id range" in {
    // 1000 ids, 400 picks — the old stride selection stopped at index
    // 798, never touching ids 800..999
    val ids = (0L until 1000L).toArray
    val picks = QuerySelect.proportionalPick(ids, 400)
    picks.size shouldBe 400
    picks.distinct.size shouldBe 400
    picks.max should be >= 990L
    picks.min shouldBe 0L
  }

  it should "return all ids when n >= len and reject n = 0" in {
    val ids = (10L until 15L).toArray
    QuerySelect.proportionalPick(ids, 9) shouldBe ids.toSeq
    an[IllegalArgumentException] should be thrownBy
      QuerySelect.proportionalPick(ids, 0)
  }

  behavior of "QuerySelect.sampledSortedIds"

  it should "return the exact full sorted id set under the cap" in {
    val emb = embDf(Seq(42L, 7L, 99L, 13L))
    QuerySelect.sampledSortedIds(emb, "vec_id", seed = 5L).toSeq shouldBe
      Seq(7L, 13L, 42L, 99L)
  }

  it should "return a deterministic bounded sorted subset above the cap" in {
    val emb = embDf(0L until 4000L)
    emb.cache()
    val a = QuerySelect.sampledSortedIds(emb, "vec_id", seed = 5L,
      capRows = 500L)
    val b = QuerySelect.sampledSortedIds(emb, "vec_id", seed = 5L,
      capRows = 500L)
    a.toSeq shouldBe b.toSeq // pure function of (seed, id set)
    a.length should be < 2000 // bounded well below the corpus
    a.length should be > 100 // but a real sample, not a sliver
    a.toSeq shouldBe a.sorted.toSeq
    val c = QuerySelect.sampledSortedIds(emb, "vec_id", seed = 6L,
      capRows = 500L)
    c.toSeq should not be a.toSeq // seed moves the draw
    emb.unpersist()
  }
}

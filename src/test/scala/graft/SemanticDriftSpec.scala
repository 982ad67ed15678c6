package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Seeded floors for the [[SemanticDrift]] centroid-drift harness
  * (round-18): at ZERO drift the frozen-model incremental path and
  * the retrained arm must both recover essentially every planted
  * twin — the baseline the committed SEMANTIC_DRIFT artifact's curve
  * hangs off. A large mean shift is ALSO pinned: argmax-dot
  * assignment is a pure function of the vector, so a twin and its
  * drifted original still co-assign and twin recall survives — the
  * frozen model's drift cost shows up first as hot-cluster
  * concentration (max_cluster_share, reported not floored: it is the
  * operator's re-train signal, not a correctness property). */
class SemanticDriftSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  it should "recover planted twins at zero drift and keep twin recall under heavy drift" in {
    val seed = java.lang.Long.getLong("graft.fuzz.seed", 1335L)
    // coalesce(1): the floors hang off Ivf.trainCentroids (Lloyd's over
    // distributed data) and float reduction order varies with partition
    // scheduling — one partition makes the centroid sums a fixed-order
    // reduction, so the pinned floors cannot flake (round-18 advice)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").coalesce(1)
    val pts = SemanticDrift.measure(spark, emb, numPairs = 24,
      seed = seed, deltas = Seq(0.0, 2.0), k = 4, iters = 2,
      numPlanes = 2)
    val zero = pts.head
    val heavy = pts.last
    withClue(s"seed=$seed zero=$zero heavy=$heavy: ") {
      zero.recallFrozen should be >= 0.9
      zero.recallRetrained should be >= 0.9
      zero.sameClusterFrozen should be >= 0.9
      // pure mean shift moves twin AND original together: frozen twin
      // recall survives δ=2.0 (the curve's honest headline — the
      // drift cost is concentration, not missed twins)
      heavy.recallFrozen should be >= 0.85
      heavy.sameClusterFrozen should be >= 0.85
      heavy.maxClusterShareFrozen should (be > 0.0 and be <= 1.0)
    }
  }

  it should "fire the concentration/occupancy signal before mode-birth recall degrades under a bucket cap" in {
    val seed = java.lang.Long.getLong("graft.fuzz.seed", 1335L)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").coalesce(1)
    // cap 100: the mode bucket holds corpusMult * nMode = 48 rows at
    // share 0.25 (under cap -> pairs surface) and 144 at share 0.75
    // (over cap -> capBuckets drops the whole key)
    val pts = SemanticDrift.measureModeBirth(spark, emb, numPairs = 24,
      seed = seed, shares = Seq(0.0, 0.25, 0.75), cap = 100,
      corpusMult = 8, k = 4, iters = 2, numPlanes = 2)
    val Seq(zero, low, high) = pts
    withClue(s"seed=$seed zero=$zero low=$low high=$high: ") {
      zero.recallBase should be >= 0.9 // no mode yet, baseline intact
      // the signal FIRES while recall still holds: at share 0.25 the
      // mode bucket is already at >=30% of cap and the batch's hot
      // cluster carries at least the mode share...
      low.recallMode should be >= 0.9
      low.bucketOccupancy should be >= 0.3
      low.bucketOccupancy should be < 1.0
      low.maxClusterShareBatch should be >= 0.25
      // ...and past the cap the in-mode pairs are silently dropped
      // while out-of-mode recall is untouched — the failure the
      // occupancy alert exists to preempt
      high.bucketOccupancy should be > 1.0
      high.recallMode should be <= 0.1
      high.droppedModePairs should be >= 16
      // honest number: capBuckets drops the WHOLE key, so base pairs
      // whose original happens to share the mode's (cluster, bucket)
      // are collateral — at this scale 1/16 of keys hold the mode, so
      // some base loss is expected; it must stay partial, not total
      high.recallBase should be >= 0.5
      high.recallBase should be > high.recallMode
    }
  }

  it should "reject numPairs = 0 in SemanticDrift.measure" in {
    val rnd = new scala.util.Random(1336L)
    val emb = (0L until 10L).map(id => (id, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      SemanticDrift.measure(spark, emb, numPairs = 0, seed = 1L,
        deltas = Seq(0.0), k = 2, iters = 1)
  }
}

package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regression for the round-18 ADVICE item on the portable minhash
  * oracle: `portableMinHashOracle` duplicated the CTE body of
  * `portableMinHashCtes` — two copies of the portable hash-family SQL
  * that could silently diverge. Fixed: the all-pairs oracle is now
  * built on the shared helper; pinned here by checking the all-pairs
  * and incremental oracles share a byte-identical CTE prefix through
  * the `bands` CTE.
  *
  * The round's other cases live with the operators they guard:
  * [[AnnRecallSpec]] and [[SemanticDriftSpec]] (non-positive
  * query/pair counts) and [[QuerySelectSpec]] (proportional and
  * bounded id selection).
  */
class Round19AdviceSpec extends AnyFlatSpec with Matchers {

  behavior of "portable minhash oracle DRY (advice #5)"

  it should "share a byte-identical hash-family CTE prefix between the all-pairs and incremental oracles" in {
    val allPairs = SparkEntry.oracleSql("q_dedup_minhash_portable")
    val incr = SparkEntry.oracleSql("q_dedup_incr_portable")
    // both open with WITH <shared CTEs>, and the shared prefix runs
    // through the end of the `bands` CTE — the whole hash family
    val bandsEnd = "GROUP BY doc_id, i // "
    val cut = allPairs.indexOf(bandsEnd)
    cut should be > 0
    val prefixEnd = allPairs.indexOf(")", cut)
    val prefix = allPairs.substring(0, prefixEnd + 1)
    incr should startWith(prefix)
    // and the family appears exactly once per oracle (no duplicated body)
    allPairs.sliding("mh AS (".length).count(_ == "mh AS (") shouldBe 1
    incr.sliding("mh AS (".length).count(_ == "mh AS (") shouldBe 1
  }
}

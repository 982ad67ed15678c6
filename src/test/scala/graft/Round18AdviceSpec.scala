package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regression for a round-17 ADVICE item (the other one, AnnRecall's
  * query-id selection, is pinned in [[AnnRecallSpec]]).
  *
  *  1. Round17AdviceSpec's interpreted-path test mutated (and mis-
  *     restored) codegen confs on the SHARED TestSpark session —
  *     hard-coding factoryMode back to CODEGEN_ONLY instead of the
  *     captured prior value, and racing parallel suites. Fixed by
  *     running the interpreted arm on `spark.newSession()`. Pinned
  *     here: child-session conf mutations do not leak to the parent
  *     (the isolation mechanism the fix relies on).
  */
class Round18AdviceSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark

  behavior of "child-session conf isolation (advice #1)"

  it should "not leak codegen conf mutations from newSession to the shared session" in {
    val before = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val beforeFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val iso = spark.newSession()
    iso.conf.set("spark.sql.codegen.wholeStage", "false")
    iso.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    iso.conf.get("spark.sql.codegen.wholeStage") shouldBe "false"
    spark.conf.getOption("spark.sql.codegen.wholeStage") shouldBe before
    spark.conf.getOption("spark.sql.codegen.factoryMode") shouldBe beforeFm
  }
}

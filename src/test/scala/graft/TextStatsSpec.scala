package graft

import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Round-19 optimization regression: the native single-pass
  * TextStatsExprs must be BIT-IDENTICAL to the legacy column-
  * expression forms of tokenCount / stopwordRatio / avgWordLen /
  * qualityScore / langId they replaced (the committed oracles replay
  * the legacy semantics, so any divergence is a correctness bug, not
  * a style choice). The legacy forms are reproduced verbatim here and
  * compared row-by-row over a corpus that covers the edge cases:
  * NULL text (quality 0.7 / lang 'und' via least()-skips-null and the
  * when-chain fallthrough), empty/whitespace-only text, unicode +
  * punctuation, stopword-heavy text, >100-token documents (lenScore
  * cap), and marker words of every language branch. */
class TextStatsSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ---- legacy forms, verbatim from pre-round-19 TextAnalysis ----
  private val stops = Seq("the", "a", "of", "and", "to", "in", "is")
  private def legacyTokenCount(text: Column): Column =
    F.size(Dedup.tokens(text)).cast("long")
  private def legacyStopwordRatio(text: Column): Column = {
    val ts = Dedup.tokens(text)
    when(F.size(ts) === 0, lit(0.0))
      .otherwise(F.size(filter(ts, t => t.isin(stops: _*))).cast(DoubleType) /
        F.size(ts).cast(DoubleType))
  }
  private def legacyAvgWordLen(text: Column): Column = {
    val ts = Dedup.tokens(text)
    when(F.size(ts) === 0, lit(0.0))
      .otherwise(aggregate(ts, lit(0L), (acc, t) => acc + F.length(t))
        .cast(DoubleType) / F.size(ts).cast(DoubleType))
  }
  private def legacyPunctRatio(text: Column): Column =
    when(F.length(text) === 0, lit(0.0))
      .otherwise((F.length(text) -
        F.length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast(DoubleType) /
        F.length(text).cast(DoubleType))
  private def legacyQuality(text: Column): Column = {
    val lenScore = least(legacyTokenCount(text).cast(DoubleType) / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(legacyPunctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(legacyStopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3), 6)
  }
  private def legacyLangId(text: Column): Column = {
    val ts = Dedup.tokens(text)
    def cnt(ws: String*) = F.size(filter(ts, t => t.isin(ws: _*)))
    when(cnt("the", "a", "and", "of") > 0, lit("en"))
      .when(cnt("der", "die", "das", "und") > 0, lit("de"))
      .when(cnt("le", "la", "les", "et") > 0, lit("fr"))
      .when(cnt("el", "los", "las", "y") > 0, lit("es"))
      .otherwise(lit("und"))
  }

  private val corpus: Seq[Option[String]] = Seq(
    None,                                  // NULL: quality 0.7, lang und
    Some(""),                              // empty
    Some("   "),                           // whitespace-only
    Some(" The  quick brown fox IS in a hurry to get OF the fence. "),
    Some("der die das und der die"),       // de markers, repeated
    Some("le chat et la maison"),          // fr markers
    Some("el los las y punto"),            // es markers
    Some("und allein"),                    // de marker only
    Some("xyzzy plugh !!!???"),            // no markers, punct-heavy
    Some("café’s naïve — ünïcode † test 🙂 emoji"),
    Some("tab\tand\nnewline  splits"),
    Some(Seq.fill(150)("word").mkString(" ")),           // >100 tokens
    Some(Seq.fill(60)("the").mkString(" ")),             // stopword-heavy
    Some("a.b c,d (e) [f] {g} 1234 !@#$"),
    Some("ein Satz mit ÜBER und unter Groß-Klein"))

  private def df = corpus.toDF("text")

  "TextStatsExprs" should "match the legacy tokenCount / stopwordRatio / avgWordLen bit-for-bit" in {
    val got = df.select(
      TextAnalysis.tokenCount(col("text")).as("n1"),
      legacyTokenCount(col("text")).as("n2"),
      TextAnalysis.stopwordRatio(col("text")).as("s1"),
      legacyStopwordRatio(col("text")).as("s2"),
      TextAnalysis.avgWordLen(col("text")).as("a1"),
      legacyAvgWordLen(col("text")).as("a2")).collect()
    got.zip(corpus).foreach { case (r, src) =>
      withClue(s"text=$src: ") {
        r.isNullAt(0) shouldBe r.isNullAt(1)
        if (!r.isNullAt(0)) r.getLong(0) shouldBe r.getLong(1)
        r.isNullAt(2) shouldBe r.isNullAt(3)
        if (!r.isNullAt(2)) r.getDouble(2) shouldBe r.getDouble(3)
        r.isNullAt(4) shouldBe r.isNullAt(5)
        if (!r.isNullAt(4)) r.getDouble(4) shouldBe r.getDouble(5)
      }
    }
  }

  it should "match the legacy qualityScore bit-for-bit, including NULL => 0.7" in {
    val got = df.select(
      TextAnalysis.qualityScore(col("text")).as("q1"),
      legacyQuality(col("text")).as("q2")).collect()
    got.zip(corpus).foreach { case (r, src) =>
      withClue(s"text=$src: ") {
        r.isNullAt(1) shouldBe false // legacy never returns NULL either
        r.getDouble(0) shouldBe r.getDouble(1)
      }
    }
    // the documented NULL contract explicitly
    val nullQ = Seq(Option.empty[String]).toDF("text")
      .select(TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
    nullQ shouldBe 0.7
  }

  it should "match the legacy langId exactly, including NULL => 'und'" in {
    val got = df.select(
      TextAnalysis.langId(col("text")).as("l1"),
      legacyLangId(col("text")).as("l2")).collect()
    got.zip(corpus).foreach { case (r, src) =>
      withClue(s"text=$src: ") { r.getString(0) shouldBe r.getString(1) }
    }
  }

  it should "agree with the legacy forms on the sf0.001 documents corpus" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      TextAnalysis.qualityScore(col("text")).as("q1"),
      legacyQuality(col("text")).as("q2"),
      TextAnalysis.langId(col("text")).as("l1"),
      legacyLangId(col("text")).as("l2"),
      TextAnalysis.tokenCount(col("text")).as("n1"),
      legacyTokenCount(col("text")).as("n2"))
      .filter(!(col("q1") <=> col("q2")) || !(col("l1") <=> col("l2")) ||
        !(col("n1") <=> col("n2")))
    diff.count() shouldBe 0L
  }

  "tokenPairsCol" should "emit exactly the legacy transform(sequence...) pairs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ts = Dedup.tokens(col("text"))
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), ts.as("__ts")).filter(F.size(col("__ts")) >= 2)
    val legacy = base.select(col("doc_id"), posexplode(transform(
      sequence(lit(0), F.size(col("__ts")) - 2),
      i => struct(element_at(col("__ts"), i + 1).as("w1"),
        element_at(col("__ts"), i + 2).as("w2")))).as(Seq("p", "b")))
      .select(col("doc_id"), col("p"), col("b.w1"), col("b.w2"))
    val native = base.select(col("doc_id"), posexplode(
      graft.functions.TextStatsExprs.tokenPairsCol(col("__ts")))
      .as(Seq("p", "b")))
      .select(col("doc_id"), col("p"), col("b.w1"), col("b.w2"))
    legacy.exceptAll(native).count() shouldBe 0L
    native.exceptAll(legacy).count() shouldBe 0L
    // short-array corner: both call sites filter size >= 2, but the
    // native expression must still be total
    Seq(Seq("one"), Seq.empty[String]).toDF("ts")
      .select(F.size(graft.functions.TextStatsExprs.tokenPairsCol(col("ts"))))
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(0, 0)
  }

  "bigramLogProbTable" should "derive context counts identical to a direct recount" in {
    // round-19: c1 is now SUM(c12) over the bigram-count table instead
    // of a second full explode — prove the derivation on real text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ts = Dedup.tokens(col("text"))
    val bigrams = docs.filter(col("text").isNotNull)
      .select(ts.as("__ts"))
      .filter(F.size(col("__ts")) >= 2)
      .select(explode(transform(
        sequence(lit(0), F.size(col("__ts")) - 2),
        i => struct(element_at(col("__ts"), i + 1).as("w1"),
          element_at(col("__ts"), i + 2).as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val direct = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("c_direct"))
    val derived = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .groupBy(col("w1")).agg(sum(col("c12")).as("c_derived"))
    direct.join(derived, Seq("w1"), "full")
      .filter(!(col("c_direct") <=> col("c_derived")))
      .count() shouldBe 0L
  }

  "tokenPairs" should "survive the child array's backing buffer being reused" in {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val proj = UnsafeProjection.create(
      Array[DataType](ArrayType(StringType, containsNull = false)))
    def input(ws: String*) = InternalRow(
      new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any]))
    // UnsafeProjection reuses its output buffer across applies, so
    // arr's UTF8Strings are views into that buffer: tokenPairs must
    // copy its tokens to the heap
    val row = proj(input("alpha", "beta", "gamma"))
    val arr = row.getArray(0)
    val pairs = graft.functions.TextStatsExprs.tokenPairs(arr)
    pairs.numElements() shouldBe 2
    // overwrite the shared buffer with different, same-length tokens
    proj(input("XXXXX", "YYYY", "ZZZZZ"))
    val p0 = pairs.getStruct(0, 2)
    val p1 = pairs.getStruct(1, 2)
    p0.getUTF8String(0).toString shouldBe "alpha"
    p0.getUTF8String(1).toString shouldBe "beta"
    p1.getUTF8String(0).toString shouldBe "beta"
    p1.getUTF8String(1).toString shouldBe "gamma"
  }
}

package graft

import graft.pipeline.{Multimodal, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regressions for the round-12 advice items: regimeM Long-overflow
  * termination and the corpus-side degenerate-signature filter in
  * incremental media near-dup. (The GenScale stride guards live in
  * GenScaleSpec, the strict bench gate in BenchSelfValidationSpec.) */
class Round13AdviceSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  behavior of "Sketches.regimeM"

  it should "terminate and clamp at cap when cardinality exceeds it" in {
    // pre-fix: m <<= 1 on an Int crossed 2^30 → negative → stuck at 0
    // → infinite loop whenever target > 2^30 and cap allowed it
    Sketches.regimeM(3_000_000_000L, 4096, 2.0, 1 << 30) shouldBe (1 << 30)
    Sketches.regimeM(Long.MaxValue / 4, 4096, 2.0, 1 << 30) shouldBe (1 << 30)
  }

  it should "return the smallest power of two covering approx*headroom" in {
    Sketches.regimeM(1000, 4096, 2.0, 1 << 21) shouldBe 4096 // mMin floor
    Sketches.regimeM(3000, 4096, 2.0, 1 << 21) shouldBe 8192 // 6000 -> 8192
    Sketches.regimeM(5000, 4096, 2.0, 1 << 21) shouldBe 16384 // 10000 -> 16384
    Sketches.regimeM(0, 4096, 2.0, 1 << 21) shouldBe 4096 // empty corpus
    // result is always a power of two within [mMin, cap]
    for (d <- Seq(1L, 17L, 4095L, 4097L, 999_999L, 10_000_000L)) {
      val m = Sketches.regimeM(d, 4096, 2.0, 1 << 21)
      Integer.bitCount(m) shouldBe 1
      m should be >= 4096
      m should be <= (1 << 21)
      if (m < (1 << 21)) m.toLong should be >= math.ceil(d * 2.0).toLong
    }
  }

  it should "reject caps above 2^30 instead of risking overflow" in {
    an[IllegalArgumentException] should be thrownBy
      Sketches.regimeM(10, 4096, 2.0, Int.MaxValue)
    an[IllegalArgumentException] should be thrownBy
      Sketches.regimeM(10, 4097, 2.0, 1 << 21) // non-power-of-two mMin
    an[IllegalArgumentException] should be thrownBy
      Sketches.regimeM(10, 4096, 0.5, 1 << 21) // headroom < 1
  }

  behavior of "mediaNearDupAgainst"

  /** A solid image with one textured corner block: a couple of
    * horizontal-gradient bits set, everything else zero — a LOW-
    * popcount but nonzero signature, the exact shape that pairs with a
    * stale sig=0 corpus row inside the hamming radius. */
  private def nearSolidPng(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(0x808080))
    g.fillRect(0, 0, 32, 32)
    g.setColor(java.awt.Color.WHITE)
    g.fillRect(0, 0, 4, 12) // bright top-left corner -> few col0>col1 bits
    g.dispose()
    Multimodal.ImageCodec.encodePng(img)
  }

  it should "not pair batch rows with stale sig=0 rows in a pre-guard corpus" in {
    val batch = Seq(("n1", "image", nearSolidPng()))
      .toDF("media_id", "kind", "bytes")
    val batchSig = Multimodal.mediaSignTable(batch).select("sig")
      .as[Long].head()
    // the fixture must be meaningful: nonzero, within the radius of 0,
    // and with at least one all-zero 32-bit chunk (cleanChunks=2) so
    // the banding actually co-buckets it with sig=0
    batchSig should not be 0L
    java.lang.Long.bitCount(batchSig) should be <= 6
    Seq(batchSig & 0xFFFFFFFFL, batchSig >>> 32) should contain(0L)

    // a sign table persisted BEFORE the round-12 degenerate-signature
    // guard: carries a sig=0 row from a solid-color corpus image
    val staleCorpus = Seq(("c_solid", "image", 0L)).toDF("id", "kind", "sig")
    Multimodal.mediaNearDupAgainst(staleCorpus, batch).count() shouldBe 0L

    // positive control: the filter must not drop REAL corpus matches
    val goodCorpus = Seq(("c_dup", "image", batchSig)).toDF("id", "kind", "sig")
    val hits = Multimodal.mediaNearDupAgainst(goodCorpus, batch)
      .select("idNew", "idCorpus").as[(String, String)].collect()
    hits should contain theSameElementsAs Seq(("n1", "c_dup"))
  }
}

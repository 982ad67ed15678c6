package graft

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Contract of the deterministic scale-up generator the 10× regime
  * sweep runs on: same schemas as the driver corpus, key cardinality
  * grows by exactly the factor, replica 0 is the source verbatim, and
  * two runs produce identical content. */
class GenScaleSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"
  private val factor = 3
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  // the key whose distinct cardinality must scale, per scaled table
  private val scaledKeys = Map(
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  private lazy val out: String = {
    val dir = java.nio.file.Files.createTempDirectory("genscale-spec").toString
    GenScale.run(spark, src, dir, factor)
    dir
  }

  private def read(dir: String, t: String) =
    spark.read.parquet(s"$dir/$t.parquet")

  "GenScale" should "preserve every table's schema exactly" in {
    for (t <- tables)
      withClue(s"table $t: ") {
        read(out, t).schema shouldBe read(src, t).schema
      }
  }

  it should "scale row and key cardinality by the factor (dims fixed)" in {
    for (t <- Seq("region", "nation")) {
      read(out, t).count() shouldBe read(src, t).count()
    }
    for ((t, k) <- scaledKeys) withClue(s"table $t: ") {
      read(out, t).count() shouldBe factor * read(src, t).count()
      read(out, t).select(k).distinct().count() shouldBe
        factor * read(src, t).select(k).distinct().count()
    }
  }

  it should "keep replica 0 verbatim (keys below the source stride)" in {
    for ((t, k) <- scaledKeys) withClue(s"table $t: ") {
      val stride = GenScale.strideOf(read(src, t), k)
      val replica0 = read(out, t).filter(col(k) < stride)
      replica0.exceptAll(read(src, t)).count() shouldBe 0L
      read(src, t).exceptAll(replica0).count() shouldBe 0L
    }
  }

  it should "keep foreign keys consistent within every replica" in {
    // every scaled order still finds its customer, every lineitem its
    // order/part/supplier — the join graph survives replication
    val c = read(out, "customer"); val o = read(out, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .count() shouldBe 0L
    val l = read(out, "lineitem"); val p = read(out, "part")
    l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .count() shouldBe 0L
    l.join(p, l("l_partkey") === p("p_partkey"), "left_anti")
      .count() shouldBe 0L
  }

  it should "make text replicas near-duplicates with honest n_chars" in {
    val stride = GenScale.strideOf(read(src, "documents"), "doc_id")
    val docs = read(out, "documents")
    // r>0 text carries the per-replica suffix token
    val r2 = docs.filter(col("doc_id") >= lit(2L * stride) &&
      col("text").isNotNull)
    r2.count() should be > 0L
    r2.filter(!col("text").endsWith(" r2")).count() shouldBe 0L
    // n_chars recomputed everywhere text is non-null
    docs.filter(col("text").isNotNull &&
      col("n_chars") =!=
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .count() shouldBe 0L
  }

  it should "be deterministic across two runs" in {
    val out2 = java.nio.file.Files.createTempDirectory("genscale-spec2").toString
    GenScale.run(spark, src, out2, factor)
    for (t <- tables) withClue(s"table $t: ") {
      read(out, t).exceptAll(read(out2, t)).count() shouldBe 0L
      read(out2, t).exceptAll(read(out, t)).count() shouldBe 0L
    }
  }

  behavior of "GenScale.strideOf"

  it should "fail loudly on an empty source table" in {
    val empty = Seq.empty[Long].toDF("k")
    val e = intercept[IllegalArgumentException] {
      GenScale.strideOf(empty, "k")
    }
    e.getMessage should include("empty source table")
  }

  it should "derive max+1 across integral widths via the long cast" in {
    GenScale.strideOf(Seq(0L, 41L, 7L).toDF("k"), "k") shouldBe 42L
    // IntegerType column: pre-fix this was a ClassCastException
    GenScale.strideOf(Seq(3, 9).toDF("k"), "k") shouldBe 10L
  }
}

package graft

import graft.io.Layout
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Z-order layout: round-trip identity, multi-column clustering
  * (selective predicates on EITHER column touch few files where a
  * hash-scattered layout touches nearly all), NULL safety, and
  * argument validation. */
class LayoutSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 20k rows over two independent dimensions
  private lazy val data = (1 to 20000).map { i =>
    (i.toLong, (i * 7919) % 200L, ((i * 104729) % 1000).toDouble)
  }.toDF("id", "k", "v")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("t").toString

  "zorderWrite" should "preserve content exactly and cluster BOTH columns" in {
    val zpath = tmp("zorder")
    val npath = tmp("naive")
    Layout.zorderWrite(data, Seq("k", "v"), zpath, numFiles = 32)
    data.repartition(32).write.mode("overwrite").parquet(npath)

    // identity: nothing lost, duplicated, or altered
    val back = spark.read.parquet(zpath)
    back.count() shouldBe 20000
    back.select(sum("id"), sum("k"), sum("v")).head() shouldBe
      data.select(sum("id"), sum("k"), sum("v")).head()

    // clustering: a selective predicate on EITHER dimension touches
    // a fraction of the zordered files but ~all naive files
    for (pred <- Seq(col("k") === 42L, col("v") >= 990.0)) {
      val zTouched = Layout.filesTouched(spark, zpath, pred)
      val nTouched = Layout.filesTouched(spark, npath, pred)
      withClue(s"predicate $pred: z=$zTouched naive=$nTouched ") {
        zTouched.toDouble should be <= nTouched.toDouble / 2.0
        zTouched should be <= 12L
      }
    }
  }

  it should "tolerate NULLs in clustering columns" in {
    val withNulls = data.withColumn("k",
      when(col("id") % 100 === 0, lit(null)).otherwise(col("k")))
    val p = tmp("zorder-null")
    Layout.zorderWrite(withNulls, Seq("k", "v"), p, numFiles = 8)
    spark.read.parquet(p).count() shouldBe 20000
  }

  it should "reject bad arguments" in {
    an[IllegalArgumentException] should be thrownBy
      Layout.zorderWrite(data, Nil, tmp("x"), 8)
    an[IllegalArgumentException] should be thrownBy
      Layout.zorderWrite(data, Seq("k"), tmp("x"), 0)
    an[IllegalArgumentException] should be thrownBy
      Layout.zorderWrite(data, Seq("k", "v"), tmp("x"), 8, bits = 32)
  }

  "compact" should "bin-pack small files content-identically without a shuffle" in {
    val in = tmp("compact-in")
    data.repartition(64).write.mode("overwrite").parquet(in)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toSeq
    val smallFiles = parquetFiles(in)
    smallFiles.size shouldBe 64
    val total = smallFiles.map(_.length).sum

    val out = tmp("compact-out")
    // target ≈ a quarter of the data per file → 4 output files
    // (ceil division in the target so total/target is exactly 4)
    val n = Layout.compact(spark, in, out, targetFileBytes = (total + 3) / 4)
    n shouldBe 4
    parquetFiles(out).size should be <= 4
    // content identity, exact multiset
    val a = spark.read.parquet(in); val b = spark.read.parquet(out)
    b.count() shouldBe 20000
    a.exceptAll(b).count() shouldBe 0
    b.exceptAll(a).count() shouldBe 0
    // the no-sortCols path is coalesce: NO exchange anywhere
    spark.read.parquet(in).coalesce(4).queryExecution.executedPlan
      .toString should not include "Exchange"
  }

  it should "re-establish clustering when compacting with sortCols" in {
    val in = tmp("compact-sort-in")
    data.repartition(64).write.mode("overwrite").parquet(in) // scattered
    val out = tmp("compact-sort-out")
    val total = new java.io.File(in).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.length).sum
    Layout.compact(spark, in, out, total / 8, sortCols = Seq("k"))
    spark.read.parquet(out).count() shouldBe 20000
    // range-clustered on k: a selective k predicate touches few files
    Layout.filesTouched(spark, out, col("k") === 42L) should be <= 2L
  }

  it should "refuse in-place compaction and bad targets" in {
    an[IllegalArgumentException] should be thrownBy
      Layout.compact(spark, "/x", "/x", 1024)
    an[IllegalArgumentException] should be thrownBy
      Layout.compact(spark, "/x", "/y", 0)
    // a trailing slash or a nested output must not slip past the guard
    an[IllegalArgumentException] should be thrownBy
      Layout.compact(spark, "/x", "/x/", 1024)
    an[IllegalArgumentException] should be thrownBy
      Layout.compact(spark, "/x", "/x/sub", 1024)
  }

  it should "size partitioned (nested-directory) inputs recursively" in {
    // a top-level listing would see only key=... directories and size
    // the input as 0 bytes → 1 giant output file
    val in = tmp("compact-part-in")
    data.withColumn("part", col("id") % 4)
      .write.mode("overwrite").partitionBy("part").parquet(in)
    val total = java.nio.file.Files.walk(java.nio.file.Paths.get(in))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    val out = tmp("compact-part-out")
    val n = Layout.compact(spark, in, out, (total + 1) / 2)
    n shouldBe 2
    spark.read.parquet(out).count() shouldBe 20000
  }

  "q_compact scatter fixture" should "build the scatter once, behind a _DONE marker written last" in {
    // the fixture goes through the shared buildOnce helper (keyed
    // path, marker written last), so a second run rewrites nothing
    val dir = java.nio.file.Files.createTempDirectory("layout-compact").toString
    (0L until 200L).map(i =>
        (i, i % 7, (i % 13).toDouble, i * 1000000L, s"t${i % 3}", "{}"))
      .toDF("event_id", "user_id", "value", "ts", "event_type", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val fixture = new java.io.File(SparkEntry.tmpPath("compact_in", dir))
    def scatterMtimes: Map[String, Long] = {
      val sc = new java.io.File(fixture, "scatter")
      sc.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }

    val first = SparkEntry.queries("q_compact")(spark, dir)
    val n1 = first.agg(sum("n")).collect()(0).getLong(0)
    n1 shouldBe 200L
    new java.io.File(fixture, "_DONE") should exist
    val mt = scatterMtimes
    mt should not be empty

    val second = SparkEntry.queries("q_compact")(spark, dir)
    val n2 = second.agg(sum("n")).collect()(0).getLong(0)
    n2 shouldBe 200L
    scatterMtimes shouldBe mt // fixture untouched on the second pass
  }
}

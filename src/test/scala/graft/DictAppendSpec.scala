package graft

import graft.io.DictStore
import graft.rdf.{Iri, Lit, Quad, Term, XSD}
import graft.sparql.QuadsStats
import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Incremental dict-store ingest: DictStore.append grows a persisted
  * store without rewriting it — existing term ids frozen, unseen
  * terms above the old ceiling, sidecar schema exact, stats merged.
  * The contract: an appended store answers every query exactly like a
  * from-scratch encode of the union. */
class DictAppendSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark

  private def lit_(lex: String, dt: String) = Lit(lex, dt, "")
  private def q(s: String, p: String, o: Term) =
    Quad(Iri(s"urn:$s"), Iri(s"urn:p:$p"), o, None)

  private def df(quads: Seq[Quad]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(quads.map(_.toRow), 2),
    graft.rdf.TermSchema.quadType)

  // batch 1: customers with balances; batch 2 overlaps subjects/values
  // and adds new terms (numerics, a date, a fresh predicate)
  private val batch1 = Seq(
    q("a", "bal", lit_("100.5", XSD.double)),
    q("a", "name", lit_("alice", XSD.string)),
    q("b", "bal", lit_("250", XSD.integer)),
    q("b", "name", lit_("bob", XSD.string)),
    q("c", "bal", lit_("999.999", XSD.decimal)))
  private val batch2 = Seq(
    q("b", "bal", lit_("250", XSD.integer)), // exact duplicate quad
    q("d", "bal", lit_("75.25", XSD.double)),
    q("d", "name", lit_("dora", XSD.string)),
    q("e", "bal", lit_("NaN", XSD.double)),
    q("e", "seen", lit_("2024-06-01T00:00:00", XSD.dateTime)),
    q("c", "name", lit_("carol", XSD.string)))

  private val pfx = "PREFIX : <urn:p:>\n"

  private def bindings(d: DataFrame): Map[Seq[Option[Term]], Int] =
    d.collect().toSeq.map { r =>
      r.schema.indices.map(i =>
        if (r.isNullAt(i)) None
        else graft.rdf.TermSchema.fromRow(r.getStruct(i)))
    }.groupBy(identity).view.mapValues(_.size).toMap

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The one caller-side layout choice; every later operation runs
    * through the same `append`, `compact` and `load`. */
  private val layouts: Seq[(String, (DataFrame, String) => DictStore)] = Seq(
    "plain" -> ((d, dir) => DictStore.encode(d, dir)),
    "bucketed" -> ((d, dir) => DictStore.encodeBucketed(d, dir, buckets = 4)))

  /** From-scratch encode of the union: the reference every appended
    * store of either layout must answer like. */
  private lazy val fresh = DictStore.encode(df(batch1 ++ batch2), tmp("dict-union"))

  behavior of "DictStore.append"

  it should "answer queries exactly like a from-scratch encode of the union" in {
    val queries = Seq(
      "SELECT ?s ?b { ?s :bal ?b }",
      "SELECT ?s ?n ?b { ?s :name ?n . ?s :bal ?b }",
      // typed sidecar filter over rows from BOTH ingest batches
      "SELECT ?s ?b { ?s :bal ?b FILTER(?b > 80.0e0) }",
      // threshold top-k across the append boundary
      "SELECT ?b { ?s :bal ?b FILTER(?b > 0.0e0) } ORDER BY DESC(?b) LIMIT 3",
      // group over filter in id space
      "SELECT ?s (COUNT(*) AS ?n) { ?s :bal ?b FILTER(?b >= 75) } GROUP BY ?s",
      // temporal sidecar from the appended batch only
      """SELECT ?s { ?s :seen ?t FILTER(?t >= "2024-01-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>) }""",
      "SELECT ?s ?n { ?s :bal ?b OPTIONAL { ?s :name ?n } }")
    // one row per layout: encode -> append -> compact -> load, all but
    // the encode through the same layout-dispatching API
    for ((layout, encode) <- layouts) {
      val dir = tmp(s"dict-append-$layout")
      encode(df(batch1), dir)
      val appended = DictStore.append(df(batch2), dir)
      for (qy <- queries) withClue(s"$layout append: $qy\n") {
        bindings(appended.sparql(pfx + qy)) shouldBe
          bindings(fresh.sparql(pfx + qy))
      }
      DictStore.compact(spark, dir)
      val compacted = DictStore.load(spark, dir)
      for (qy <- queries) withClue(s"$layout compact: $qy\n") {
        bindings(compacted.sparql(pfx + qy)) shouldBe
          bindings(fresh.sparql(pfx + qy))
      }
    }
  }

  it should "freeze existing ids and assign new ones above the old ceiling" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-append-ids").toString
    DictStore.encode(df(batch1), dir)
    val d0 = spark.read.parquet(s"$dir/dict").collect()
      .map(r => r.getStruct(1).getString(1) -> r.getLong(0)).toMap
    val ceiling = d0.values.max
    DictStore.append(df(batch2), dir)
    val d1 = spark.read.parquet(s"$dir/dict").collect()
      .map(r => r.getStruct(1).getString(1) -> r.getLong(0)).toMap
    // every old term keeps its id
    d0.foreach { case (lex, id) => d1(lex) shouldBe id }
    // new terms sit strictly above the old ceiling
    (d1.keySet -- d0.keySet).foreach(lex => d1(lex) should be > ceiling)
    // no duplicate terms, ids unique
    val all = spark.read.parquet(s"$dir/dict").collect()
    all.map(_.getLong(0)).distinct.length shouldBe all.length
    all.map(_.getStruct(1)).map(_.toString).distinct.length shouldBe all.length
  }

  it should "survive a second append with the same guarantees" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-append2").toString
    DictStore.encode(df(batch1), dir)
    DictStore.append(df(batch2), dir)
    val batch3 = Seq(
      q("f", "bal", lit_("42", XSD.integer)),
      q("a", "bal", lit_("100.5", XSD.double))) // full duplicate
    val st = DictStore.append(df(batch3), dir)
    val dir2 = java.nio.file.Files.createTempDirectory("dict-union3").toString
    val all = DictStore.encode(df(batch1 ++ batch2 ++ batch3), dir2)
    val qy = pfx + "SELECT ?s ?b { ?s :bal ?b FILTER(?b >= 42) }"
    bindings(st.sparql(qy)) shouldBe bindings(all.sparql(qy))
    // dict stays duplicate-free across two appends
    val terms = spark.read.parquet(s"$dir/dict").collect().map(_.getStruct(1))
    terms.map(_.toString).distinct.length shouldBe terms.length
  }

  it should "merge stats additively with union-bounded ndv" in {
    val a = QuadsStats(10, Map(
      "p" -> QuadsStats.PredStat(6, 5, 4),
      "q" -> QuadsStats.PredStat(4, 4, 2)), 0.01)
    val b = QuadsStats(7, Map(
      "p" -> QuadsStats.PredStat(5, 5, 5),
      "r" -> QuadsStats.PredStat(2, 1, 1)), 3.0)
    val m = QuadsStats.merge(a, b)
    m.total shouldBe 17
    m.preds("p") shouldBe QuadsStats.PredStat(11, 10, 9)
    m.preds("q") shouldBe QuadsStats.PredStat(4, 4, 2)
    m.preds("r") shouldBe QuadsStats.PredStat(2, 1, 1)
    m.defaultCount shouldBe 3.0
    // ndv can never exceed the row count
    val c = QuadsStats.merge(
      QuadsStats(3, Map("p" -> QuadsStats.PredStat(2, 2, 2)), 0.01),
      QuadsStats(1, Map("p" -> QuadsStats.PredStat(1, 1, 1)), 0.01))
    c.preds("p") shouldBe QuadsStats.PredStat(3, 3, 3)
  }

  it should "refresh the persisted stats sidecar on append" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-append-st").toString
    DictStore.encode(df(batch1), dir)
    DictStore.append(df(batch2), dir)
    val st = QuadsStats.read(spark, s"$dir/stats")
    st.total shouldBe (batch1.size + batch2.size)
    st.preds("urn:p:bal").count shouldBe 6 // 3 + 3, the duplicate quad counts
    st.preds("urn:p:seen").count shouldBe 1
  }

  it should "compact an appended store back to the encode layout, same answers" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-compact").toString
    DictStore.encode(df(batch1), dir)
    DictStore.append(df(batch2), dir)
    DictStore.append(df(Seq(q("g", "bal", lit_("7", XSD.integer)))), dir)
    def parquetFiles(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    val quadFilesBefore = parquetFiles("quads")
    val before = bindings(DictStore.load(spark, dir).sparql(pfx +
      "SELECT ?s ?b { ?s :bal ?b FILTER(?b > 0.0e0) }"))
    DictStore.compact(spark, dir)
    parquetFiles("quads") should be < quadFilesBefore
    new java.io.File(s"$dir/quads_old").exists() shouldBe false
    new java.io.File(s"$dir/quads_compacting").exists() shouldBe false
    val st = DictStore.load(spark, dir)
    bindings(st.sparql(pfx +
      "SELECT ?s ?b { ?s :bal ?b FILTER(?b > 0.0e0) }")) shouldBe before
    // the dictionary stayed a bijection through the rewrite
    val d = spark.read.parquet(s"$dir/dict").collect()
    d.map(_.getLong(0)).distinct.length shouldBe d.length
  }

  it should "append to a BUCKETED store with the same union contract" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-append-bk").toString
    DictStore.encodeBucketed(df(batch1), dir, buckets = 4)
    val st = DictStore.append(df(batch2), dir)
    val dir2 = java.nio.file.Files.createTempDirectory("dict-union-bk").toString
    val all = DictStore.encodeBucketed(df(batch1 ++ batch2), dir2, buckets = 4)
    val queries = Seq(
      "SELECT ?s ?n ?b { ?s :name ?n . ?s :bal ?b }",
      "SELECT ?s ?b { ?s :bal ?b FILTER(?b > 80.0e0) }",
      "SELECT ?b { ?s :bal ?b FILTER(?b > 0.0e0) } ORDER BY DESC(?b) LIMIT 3",
      "SELECT ?s (COUNT(*) AS ?n) { ?s :bal ?b FILTER(?b >= 75) } GROUP BY ?s")
    for (qy <- queries) withClue(s"$qy\n") {
      bindings(st.sparql(pfx + qy)) shouldBe bindings(all.sparql(pfx + qy))
    }
    // both dict copies stay duplicate-free and in sync
    val lex = spark.read.parquet(s"$dir/dict_by_lex").collect()
    lex.map(_.getLong(0)).distinct.length shouldBe lex.length
    val bkt = st.dict.collect()
    bkt.map(_.getLong(0)).sorted.toSeq shouldBe
      lex.map(_.getLong(0)).sorted.toSeq
    // a reloaded store (fresh catalog attach) sees the appended data
    bindings(DictStore.load(spark, dir).sparql(pfx + queries.head))
      .values.sum shouldBe bindings(all.sparql(pfx + queries.head)).values.sum
  }

  it should "compact a bucketed store back to one sorted file per bucket" in {
    val dir = java.nio.file.Files.createTempDirectory("dict-cmp-bkt").toString
    DictStore.encodeBucketed(df(batch1), dir, buckets = 3)
    DictStore.append(df(batch2), dir)
    def bucketFiles(sub: String): Map[String, Int] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .groupBy { f => // the _NNNNN suffix before .c000 is the bucket id
          "_(\\d{5})\\.".r.findFirstMatchIn(f.getName).get.group(1)
        }
        .view.mapValues(_.length).toMap
    bucketFiles("quads").values.max should be > 1 // append left extras
    val qy = pfx + "SELECT ?s ?n ?b { ?s :name ?n . ?s :bal ?b }"
    val before = bindings(DictStore.load(spark, dir).sparql(qy))
    DictStore.compact(spark, dir)
    bucketFiles("quads").values.max shouldBe 1
    new java.io.File(s"$dir/quads_old").exists() shouldBe false
    new java.io.File(s"$dir/quads_compacting").exists() shouldBe false
    val st = DictStore.load(spark, dir)
    bindings(st.sparql(qy)) shouldBe before
    // dict bijection intact, lex copy in sync
    val bkt = st.dict.collect()
    bkt.map(_.getLong(0)).distinct.length shouldBe bkt.length
    spark.read.parquet(s"$dir/dict_by_lex").count() shouldBe bkt.length
  }

  /** Bucket id of every data file under `dir/sub`; `None` marks a
    * file without one, i.e. a plain-layout write. */
  private def bucketIds(dir: String, sub: String): Seq[Option[Int]] =
    new java.io.File(s"$dir/$sub").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))

  it should "reject pre-v5 stores loudly and keep bucketed stores bucket-numbered" in {
    import org.apache.spark.sql.functions.{col, when}
    // simulate a v4 layout: o_num renamed back to exact-only o_dec
    val dir = java.nio.file.Files.createTempDirectory("dict-append-v4").toString
    DictStore.encode(df(batch1), dir)
    val v4dir = java.nio.file.Files.createTempDirectory("dict-append-v4b").toString
    spark.read.parquet(s"$dir/quads")
      .withColumn("o_dec", when(col("o_cls") === 1, col("o_num")))
      .drop("o_num")
      .write.parquet(s"$v4dir/quads")
    spark.read.parquet(s"$dir/dict").write.parquet(s"$v4dir/dict")
    an[IllegalArgumentException] should be thrownBy
      DictStore.append(df(batch2), v4dir)
    // bucketed layout: append and compact dispatch to the bucketed
    // writers, so its catalog-owned directories only ever hold
    // bucket-numbered files (bucket ids come from file names)
    val bdir = tmp("dict-append-bkt")
    DictStore.encodeBucketed(df(batch1), bdir, buckets = 2)
    DictStore.append(df(batch2), bdir)
    for (sub <- Seq("quads", "dict")) withClue(s"append $sub: ") {
      val ids = bucketIds(bdir, sub)
      ids should not be empty
      all(ids) shouldBe defined
      all(ids.flatten) should be < 2
    }
    DictStore.compact(spark, bdir)
    for (sub <- Seq("quads", "dict")) withClue(s"compact $sub: ") {
      val ids = bucketIds(bdir, sub)
      all(ids) shouldBe defined
      ids.flatten.distinct should have size ids.size.toLong // one file per bucket
    }
    val qy = pfx + "SELECT ?s ?n ?b { ?s :bal ?b OPTIONAL { ?s :name ?n } }"
    bindings(DictStore.load(spark, bdir).sparql(qy)) shouldBe
      bindings(fresh.sparql(qy))
  }

  it should "restore the pre-compaction copy when compact re-runs after a crash between its renames" in {
    val qy = pfx + "SELECT ?s ?n ?b { ?s :bal ?b OPTIONAL { ?s :name ?n } }"
    for ((layout, encode) <- layouts) withClue(s"$layout: ") {
      val dir = tmp(s"dict-crash-$layout")
      encode(df(batch1), dir)
      DictStore.append(df(batch2), dir)
      val before = bindings(DictStore.load(spark, dir).sparql(qy))
      val subs = Seq("quads", "dict") ++
        (if (layout == "bucketed") Seq("dict_by_lex") else Nil)
      // the state a crash between the swap's two renames leaves: the
      // live directory renamed to <sub>_old, a rewrite in
      // <sub>_compacting (torn here, so promoting it would fail loudly)
      for (sub <- subs) {
        new java.io.File(s"$dir/$sub")
          .renameTo(new java.io.File(s"$dir/${sub}_old")) shouldBe true
        val torn = new java.io.File(s"$dir/${sub}_compacting")
        torn.mkdirs() shouldBe true
        java.nio.file.Files.write(
          new java.io.File(torn, "part-00000-torn.parquet").toPath,
          Array[Byte](1, 2, 3))
      }
      DictStore.compact(spark, dir)
      for (sub <- subs) {
        new java.io.File(s"$dir/$sub").isDirectory shouldBe true
        new java.io.File(s"$dir/${sub}_old").exists() shouldBe false
        new java.io.File(s"$dir/${sub}_compacting").exists() shouldBe false
      }
      bindings(DictStore.load(spark, dir).sparql(qy)) shouldBe before
    }
  }
}

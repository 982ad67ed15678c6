package graft

import graft.io.DictStore
import graft.rdf.{Iri, Lit, Quad, Term, XSD}
import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Regressions for the round-13 review items: the layout dispatch in
  * DictStore.append/compact must resolve through the STORE PATH's
  * filesystem (a `java.io.File` check is silently false for any
  * non-local scheme — hdfs://, s3a://, even an explicit `file:` —,
  * letting a plain append corrupt a bucketed store's bucket
  * contract), and appending to a legacy store written before
  * the stats sidecar existed must tolerate the missing sidecar the
  * way load() does instead of throwing. */
class Round14AdviceSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark

  private def lit_(lex: String, dt: String) = Lit(lex, dt, "")
  private def q(s: String, p: String, o: Term) =
    Quad(Iri(s"urn:$s"), Iri(s"urn:p:$p"), o, None)

  private def df(quads: Seq[Quad]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(quads.map(_.toRow), 2),
    graft.rdf.TermSchema.quadType)

  private val batch1 = Seq(
    q("a", "bal", lit_("100.5", XSD.double)),
    q("b", "bal", lit_("250", XSD.integer)),
    q("b", "name", lit_("bob", XSD.string)))
  private val batch2 = Seq(
    q("c", "bal", lit_("75.25", XSD.double)),
    q("c", "name", lit_("carol", XSD.string)))

  /** Bucket id of every data file under `dir/sub`; `None` marks a
    * file without one, i.e. a plain-layout write. */
  private def bucketIds(dir: String, sub: String): Seq[Option[Int]] =
    new java.io.File(s"$dir/$sub").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))

  /** Append and compact a 2-bucket store through `addressed(dir)`: the
    * bucketed directories must only ever hold bucket-numbered files
    * (one per bucket after compact), and load answers the union. */
  private def keepsBucketContract(addressed: String => String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("r14-bkt").toString
    DictStore.encodeBucketed(df(batch1), dir, buckets = 2)
    DictStore.append(df(batch2), addressed(dir))
    for (sub <- Seq("quads", "dict")) withClue(s"append $sub: ") {
      all(bucketIds(dir, sub)) shouldBe defined
    }
    DictStore.compact(spark, addressed(dir))
    for (sub <- Seq("quads", "dict")) withClue(s"compact $sub: ") {
      val ids = bucketIds(dir, sub)
      all(ids) shouldBe defined
      ids.flatten.distinct should have size ids.size.toLong // one per bucket
    }
    val union = DictStore.encode(df(batch1 ++ batch2),
      java.nio.file.Files.createTempDirectory("r14-bkt-u").toString)
    val qy = "PREFIX : <urn:p:>\nSELECT ?s ?b { ?s :bal ?b }"
    def rows(st: DictStore) = st.sparql(qy).collect().map(_.toString).sorted.toSeq
    rows(DictStore.load(spark, addressed(dir))) shouldBe rows(union)
  }

  behavior of "DictStore.append/compact on a bucketed store"

  // The scheme-qualified path is the dispatch proof: a
  // java.io.File(s"file:/…/bucketed.json").exists() check is ALWAYS
  // false ("file:" parses as a relative path segment), which once let
  // append() write plain-layout files into the bucketed quads/dict
  // directories. The layout dispatch reads the marker through the
  // path's Hadoop filesystem like every other store read.
  it should "keep the bucket contract when addressed with an explicit scheme" in {
    keepsBucketContract(dir => s"file:$dir")
  }

  it should "keep the bucket contract when addressed by a plain local path" in {
    keepsBucketContract(identity)
  }

  behavior of "DictStore.append on a legacy (pre-sidecar) store"

  it should "tolerate a missing stats sidecar like load() does" in {
    val dir = java.nio.file.Files.createTempDirectory("r14-legacy").toString
    DictStore.encode(df(batch1), dir)
    // simulate a store written before the stats sidecar existed
    val statsDir = new org.apache.hadoop.fs.Path(s"$dir/stats")
    statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(statsDir, true)
    val st = DictStore.append(df(batch2), dir) // pre-fix: AnalysisException
    // the store stays sidecar-less (a batch-only sidecar would
    // silently undercount the store), consistent with load()
    new java.io.File(s"$dir/stats").exists() shouldBe false
    // and the appended store still answers the union
    val dir2 = java.nio.file.Files.createTempDirectory("r14-legacy-u").toString
    val all = DictStore.encode(df(batch1 ++ batch2), dir2)
    val qy = "PREFIX : <urn:p:>\nSELECT ?s ?b { ?s :bal ?b }"
    st.sparql(qy).collect().length shouldBe all.sparql(qy).collect().length
    DictStore.load(spark, dir).sparql(qy).collect().length shouldBe
      all.sparql(qy).collect().length
  }

  it should "keep merging the sidecar when it exists" in {
    val dir = java.nio.file.Files.createTempDirectory("r14-stats").toString
    DictStore.encode(df(batch1), dir)
    DictStore.append(df(batch2), dir)
    val st = graft.sparql.QuadsStats.read(spark, s"$dir/stats")
    st.total shouldBe (batch1.size + batch2.size)
  }

  behavior of "Fuzzy.blockedFuzzyJoin shared-column precondition"

  // With collapseExact=true the expand-back joins would throw an
  // ambiguous-reference AnalysisException deep in analysis when the
  // sides share a non-block, non-key column; the guard turns that
  // into a clear require at the call site — for BOTH forms, so the
  // contract doesn't depend on the collapse flag.
  it should "fail loudly (not with an AnalysisException) in both forms" in {
    import spark.implicits._
    val l = Seq(("us", "alice", "x1")).toDF("cc", "lname", "city")
    val r = Seq(("us", "alicia", "x2")).toDF("cc", "rname", "city")
    for (collapse <- Seq(true, false)) {
      val ex = the[IllegalArgumentException] thrownBy
        graft.pipeline.Fuzzy.blockedFuzzyJoin(
          l, r, Seq("cc"), "lname", "rname", 2, collapseExact = collapse)
      ex.getMessage should include("city")
      ex.getMessage should include("rename")
    }
  }
}

package graft

import graft.io.DictStore
import graft.sparql.Algebra.{Materialized, Op}
import org.apache.spark.sql.DataFrame

/** Bucketed dict-store layout: semantic agreement with the plain
  * layout on every query shape the rewriter owns, plus the plan
  * properties that justify the layout at scale — subject–subject BGP
  * joins with zero exchanges (both quads scans arrive bucketed on
  * `s`), materialization joins that never shuffle the dictionary
  * side, and catalog re-attach over the persisted files.
  */
class DictBucketedSpec extends SparqlSpecBase {

  private val stores = scala.collection.mutable.Map.empty[String, (DictStore, DictStore)]

  /** (bucketed, plain) stores over the same fixture. */
  private def bothStores(fixtureName: String): (DictStore, DictStore) =
    stores.getOrElseUpdate(fixtureName, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-bkt-${fixtureName.takeWhile(_ != '.')}")
        .toString
      val fx = TestSpark.fixture(fixtureName)
      (DictStore.encodeBucketed(fx, s"$dir/b", buckets = 4),
        DictStore.encode(fx, s"$dir/p"))
    })

  private def same(fixtureName: String, query: String): Unit = {
    val (bucketed, _) = bothStores(fixtureName)
    assertResult(collect(bucketed.sparql(query)), run(fixtureName, query))
  }

  /** Exchange operators in the (pre-execution) physical plan. */
  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size

  private def noBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  "Bucketed DictStore" should "agree with the plain layout on the swallowed shapes" in {
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n ?m { ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin)
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name ?mbox
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }""".stripMargin)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org (COUNT(?book) AS ?nb)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }
        |GROUP BY ?org""".stripMargin)
    same("minus.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?s { ?s ?p ?o MINUS { ?s foaf:givenName "Bob" } }""".stripMargin)
    same("chain.ttl",
      "PREFIX : <http://example/>\nSELECT ?s ?o { ?s :next+ ?o }")
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?name { GRAPH ?g { ?x foaf:name ?name } }""".stripMargin)
  }

  it should "round-trip quads through the bucketed encode/decode" in {
    val fx = TestSpark.fixture("union.ttl")
    val decoded = bothStores("union.ttl")._1.decode()
    fx.exceptAll(decoded).count() shouldBe 0
    decoded.exceptAll(fx).count() shouldBe 0
  }

  private def blockDf(st: DictStore, q: String): DataFrame = {
    val op = graft.sparql.SparqlParser.parseAny(q) match {
      case graft.sparql.SparqlParser.SelectQuery(o, _) =>
        graft.sparql.BgpOptimizer.optimize(o)
      case other => fail(s"not a select: $other")
    }
    def firstLeaf(o: Op): Option[Materialized] = o match {
      case m: Materialized => Some(m)
      case graft.sparql.Algebra.Project(c, _) => firstLeaf(c)
      case graft.sparql.Algebra.Distinct(c) => firstLeaf(c)
      case _ => None
    }
    firstLeaf(st.rewrite(op)).getOrElse(fail(s"no materialized block in $q")).df
  }

  private val starBgp =
    """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
      |SELECT ?n ?m { ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin

  it should "plan a star BGP with fewer exchanges than the plain layout" in noBroadcast {
    val (bucketed, plain) = bothStores("optionals.ttl")
    val bktEx = exchanges(blockDf(bucketed, starBgp))
    val plainEx = exchanges(blockDf(plain, starBgp))
    // plain: both quads scans shuffle for the s–s join, plus one
    // probe-side + one dict-side exchange per materialization join.
    // bucketed: the s–s join needs NO exchange (both scans bucketed on
    // s) and each materialization join shuffles ONLY the probe side.
    withClue(s"bucketed=$bktEx plain=$plainEx: ") {
      bktEx should be < plainEx
      // 2 kept vars → exactly the two probe-side exchanges remain
      bktEx shouldBe 2
    }
    blockDf(bucketed, starBgp).queryExecution.executedPlan.toString should
      include("Bucketed: true")
  }

  /** A bucketed block whose s–s joins all stay exchange-free: exactly
    * one probe-side exchange per kept (materialized) var remains. */
  private def probeExchangesOnly(q: String, kept: Int): Unit = {
    same("optionals.ttl", q)
    noBroadcast {
      val df = blockDf(bothStores("optionals.ttl")._1, q)
      val plan = df.queryExecution.executedPlan.toString
      withClue(plan) {
        exchanges(df) shouldBe kept
        // no exchange hashes the subject key `x` (`__r_x` on a right side)
        raw"Exchange hashpartitioning\((__r_)?x#".r.findAllIn(plan) shouldBe empty
      }
    }
  }

  it should "keep a 3-scan star's chained s–s joins exchange-free" in {
    // the second join keys on the first join's output `x`: projecting
    // it as coalesce(l, r) would lose the bucketing and add exchanges
    probeExchangesOnly(
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |SELECT ?t ?n ?m { ?x rdf:type ?t . ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin,
      kept = 3)
  }

  it should "keep an OPTIONAL spine's s–s join exchange-free" in {
    probeExchangesOnly(
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n ?m { ?x foaf:name ?n OPTIONAL { ?x foaf:mbox ?m } }""".stripMargin,
      kept = 2)
  }

  it should "never shuffle the dictionary side of materialization joins" in noBroadcast {
    val (bucketed, _) = bothStores("optionals.ttl")
    // single kept var → one materialization join; assert the plan has
    // exactly one exchange and it hashes the probe-side key, i.e. no
    // `Exchange hashpartitioning(id…` over the dict scan
    val df = blockDf(bucketed,
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n { ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    exchanges(df) shouldBe 1
    raw"Exchange hashpartitioning\(id#".r.findAllIn(plan) shouldBe empty
  }

  it should "re-attach a fresh catalog to the persisted bucketed files" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-reattach").toString
    val fx = TestSpark.fixture("group_by.ttl")
    DictStore.encodeBucketed(fx, dir, buckets = 4)
    // simulate a fresh session: drop the catalog entries (external
    // tables — the files survive), then load must recreate
    // them with the persisted bucket spec
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bkt_"))
      .filter(t => spark.table(t.name).inputFiles.headOption.exists(_.contains(
        dir.replaceAll("[^A-Za-z0-9_/.-]", "_"))))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val re = DictStore.load(spark, dir)
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?lprice
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book . ?book :price ?lprice }""".stripMargin
    assertResult(collect(re.sparql(q)), run("group_by.ttl", q))
    // and the recreated tables still carry the bucket spec (zero
    // exchanges for the star join over s would need an s–s join; here
    // assert the scans report bucketing)
    noBroadcast {
      blockDf(re, q).queryExecution.executedPlan.toString should
        include("Bucketed: true")
    }
  }

  it should "keep the typed sidecar when compact re-attaches the tables before an append" in {
    // compact drops the catalog entries and load re-creates them: the
    // re-created quads table must declare every column its files carry
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-cmp-append").toString
    val fx = TestSpark.fixture("group_by.ttl")
    val isPrice = org.apache.spark.sql.functions.col("p.lex").endsWith("price")
    DictStore.encodeBucketed(fx.filter(!isPrice), s"$dir/b", buckets = 4)
    DictStore.compact(spark, s"$dir/b")
    DictStore.append(fx.filter(isPrice), s"$dir/b")
    val st = DictStore.load(spark, s"$dir/b")
    st.idQuads.columns should contain("o_num")
    val union = DictStore.encode(fx, s"$dir/p")
    val pfx = "PREFIX : <http://books.example/>\n"
    for (q <- Seq(
        "SELECT ?org ?lprice { ?org :affiliates ?auth . " +
          "?auth :writesBook ?book . ?book :price ?lprice }",
        "SELECT ?book ?p { ?book :price ?p FILTER(?p > 6) }",
        "SELECT ?p { ?book :price ?p } ORDER BY DESC(?p) LIMIT 2"))
      withClue(q) { assertResult(collect(st.sparql(pfx + q)), collect(union.sparql(pfx + q))) }
  }

  it should "keep the lex-clustered phase-1 dict as the lookup sidecar" in {
    // encodeBucketed freezes (id, term) in a plain lex-clustered write
    // first (ids must not cross a shuffle before committing — see the
    // scaladoc), re-buckets the frozen copy for the join side, and
    // keeps the phase-1 copy as the pruned constant-lookup side
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-phases").toString
    val st = DictStore.encodeBucketed(
      TestSpark.fixture("union.ttl"), s"$dir/s", buckets = 2)
    new java.io.File(s"$dir/s/dict_by_lex").exists() shouldBe true
    new java.io.File(s"$dir/s/bucketed.json").exists() shouldBe true
    // the sidecar and the bucketed table are the same (id, term) set
    val side = spark.read.parquet(s"$dir/s/dict_by_lex")
    side.exceptAll(st.dict).count() shouldBe 0
    st.dict.exceptAll(side).count() shouldBe 0
  }

  it should "push constant lookups down to the dictionary by lex" in {
    val (bucketed, plain) = bothStores("optionals.ttl")
    val terms = List[graft.rdf.Term](
      graft.rdf.Iri("http://xmlns.com/foaf/0.1/name"))
    for (st <- Seq(bucketed, plain)) {
      val plan = st.lookupFrame(terms).queryExecution.executedPlan.toString
      // the redundant lex conjunct reaches the parquet scan, where the
      // lex-clustered layout turns it into row-group pruning
      plan should include regex raw"PushedFilters: \[[^\]]*term\.lex"
    }
  }

  it should "refuse to load a non-bucketed path" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-miss").toString
    an[Exception] should be thrownBy DictStore.load(spark, dir)
  }
}

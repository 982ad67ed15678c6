package graft

import graft.io.QuadsIO
import graft.rdf.TurtleParser
import graft.sparql.Sparql._

/** FILTER / EXISTS / NOT EXISTS / MINUS — ports reference
  * FilterTest.scala, including the correlated-inner-filter and MINUS
  * cases the reference itself cannot run (SURVEY.md §5.6). */
class FilterSpec extends SparqlSpecBase {
  private val prologue =
    """PREFIX  dc:  <http://purl.org/dc/elements/1.1/>
      |PREFIX  ns:  <http://example.org/ns#>
      |""".stripMargin

  "FILTER" should "apply inside an OPTIONAL (condition in the join)" in {
    val q = prologue +
      """SELECT  ?title ?price
        |WHERE   { ?x dc:title ?title .
        |          OPTIONAL { ?x ns:price ?price . FILTER (?price < 30) }
        |        }""".stripMargin
    check("values.ttl", q, Seq(
      Map("title" -> str("SPARQL Tutorial")),
      Map("title" -> str("The Semantic Web"), "price" -> int(23)),
      Map("title" -> str("Priceless SPARQL"))))
  }

  it should "drop rows failing a numeric comparison" in {
    val q = prologue +
      """SELECT  ?title ?price
        |WHERE   { ?x dc:title ?title .
        |          ?x ns:price ?price . FILTER (?price < 30)
        |        }""".stripMargin
    check("values.ttl", q, Seq(
      Map("title" -> str("The Semantic Web"), "price" -> int(23))))
  }

  it should "treat EXISTS as a true semi-join (no duplicate inflation)" in {
    val q = prologue +
      """SELECT  ?title ?price
        |WHERE   { ?x dc:title ?title .
        |          FILTER EXISTS { ?x ns:price ?price }
        |        }""".stripMargin
    check("values.ttl", q, Seq(
      Map("title" -> str("SPARQL Tutorial")),
      Map("title" -> str("The Semantic Web"))))
  }

  it should "support NOT EXISTS" in {
    val q = prologue +
      """SELECT  ?title ?price
        |WHERE   { ?x dc:title ?title .
        |          FILTER NOT EXISTS { ?x ns:price ?price }
        |        }""".stripMargin
    check("values.ttl", q, Seq(Map("title" -> str("Priceless SPARQL"))))
  }

  it should "support NOT EXISTS with no shared variables" in {
    val q =
      """SELECT *
        |{
        |  ?s ?p ?o
        |  FILTER NOT EXISTS { ?x ?y ?z }
        |}""".stripMargin
    run("values.ttl", q) shouldBe empty
  }

  it should "lift a correlated inner FILTER into the anti-join" in {
    val q =
      """PREFIX : <http://example.com/>
        |SELECT * WHERE {
        |        ?x :p ?n
        |        FILTER NOT EXISTS {
        |                ?x :q ?m .
        |                FILTER(?n = ?m)
        |        }
        |}""".stripMargin
    check("inner_filter.ttl", q, Seq(
      Map("x" -> iri("http://example.com/b"), "n" -> dec("3.0"))))
  }

  it should "give a lifted correlated FILTER the outer binding the inner pattern leaves unbound" in {
    // EXISTS substitutes the outer ?v = 5 into its pattern, so the
    // FILTER sees 5 even though the { ?y :s ?z } branch — the one :b
    // matches — does not bind ?v: :a :q :b and :b :s :c make it true
    val data = QuadsIO.fromQuads(spark, TurtleParser.parse(
      """@prefix : <http://example/> .
        |:a :p 5 . :a :q :b . :b :s :c .""".stripMargin))
    val q =
      """PREFIX : <http://example/>
        |SELECT ?x {
        |  ?x :p ?v
        |  FILTER EXISTS { { ?x :q ?y FILTER(?v > 1) } { ?y :r ?v } UNION { ?y :s ?z } }
        |}""".stripMargin
    assertResult(collect(data.sparql(q)), Seq(Map("x" -> iri("http://example/a"))))
  }

  "MINUS" should "remove compatible rows but keep disjoint domains" in {
    val q =
      """PREFIX :       <http://example/>
        |PREFIX foaf:   <http://xmlns.com/foaf/0.1/>
        |
        |SELECT DISTINCT ?s
        |WHERE {
        |   ?s ?p ?o .
        |   MINUS {
        |      ?s foaf:givenName "Bob" .
        |   }
        |}""".stripMargin
    check("minus.ttl", q, Seq(
      Map("s" -> iri("http://example/alice")),
      Map("s" -> iri("http://example/carol"))))
  }
}

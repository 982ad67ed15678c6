package graft.sparql

import graft.rdf.{BNode, Iri, Lit, Term, XSD}
import org.apache.spark.sql.DataFrame

/** Public entry points — the analogue of the reference's
  * `SCollection[Statement].executeSparql` implicit syntax
  * (Interpreter.scala:164-205, SURVEY.md §2.11).
  *
  * {{{
  * import graft.sparql.Sparql._
  * val results: DataFrame = quadsDf.sparql("SELECT ?s WHERE { ?s ?p ?o }")
  * }}}
  *
  * Result schema: one nullable term-struct column per projected
  * variable (NULL = unbound). Use [[Compiler.lexical]] to flatten to
  * lexical strings.
  */
object Sparql {

  // ----- SERVICE endpoint registry (SPARQL 1.1 federated query) -----
  // The Spark-native reading of federation: an "endpoint" is another
  // quads DataFrame — a different table, bucket, or source — registered
  // under a constant IRI. SERVICE <iri> { … } then evaluates its
  // pattern against that dataset and joins the solutions, letting one
  // query span datasets without materializing their union.
  private val services =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Register `quads` as the dataset behind `SERVICE <endpoint>`.
    * The registry is JVM-global and holds a strong reference: a
    * registered DataFrame (and its lineage) lives until unregistered,
    * and one bound to a stopped SparkSession goes stale rather than
    * vanishing — unregister (or [[clearServices]]) when a session
    * ends. */
  def registerService(endpoint: String, quads: DataFrame): Unit =
    services.put(endpoint, quads)

  def unregisterService(endpoint: String): Unit = services.remove(endpoint)

  /** Drop every registered endpoint (e.g. on session teardown). */
  def clearServices(): Unit = services.clear()

  // ----- W3C SPARQL 1.1 Query Results exports (CSV / TSV) -----

  /** Write SELECT results as SPARQL 1.1 Results CSV (one header line,
    * bare lexical forms, unbound = empty) — distributed, one part file
    * per partition like any Spark CSV sink. */
  def writeResultsCsv(results: DataFrame, path: String): Unit =
    Compiler.lexical(results)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Write SELECT results as SPARQL 1.1 Results TSV: a `?var` header
    * line and full term syntax per cell (`<iri>`, `"lit"@lang`,
    * `"lit"^^<dt>`, `_:b`), unbound = empty — the lossless text form,
    * serialized by the same codegen'd token expressions as the N-Quads
    * writer. */
  def writeResultsTsv(results: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val cols = results.columns
    val header = cols.map("?" + _).mkString("\t")
    val body = results.select(concat_ws("\t",
      cols.map(c => coalesce(graft.io.QuadsIO.ntToken(results(c)), lit(""))): _*)
      .as("value"))
    // W3C TSV has ONE header line: emit it as its own single-row first
    // partition (part-00000) so the concatenated part files in name
    // order form a valid document — the write itself stays distributed
    val spark = results.sparkSession
    import scala.jdk.CollectionConverters._
    val headerDf = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(header)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType, nullable = false))))
    headerDf.coalesce(1).union(body).write.mode("overwrite").text(path)
  }

  /** One-line single-string-column DataFrame (header/footer parts for
    * the concatenable text-document writers). */
  private[graft] def oneLine(spark: org.apache.spark.sql.SparkSession,
                             s: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(s)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType, nullable = false))))
      .coalesce(1)
  }

  /** JSON string escaping as a pure column expression (same codegen'd
    * regexp_replace chain as the N-Quads writer; control characters
    * other than \n \r \t are not expected in term lexicals — the
    * parsers reject raw controls). */
  private def jsonEsc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "\\\\", "\\\\\\\\"),
      "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")
  }

  /** One term-struct column → its SPARQL-results-JSON object
    * (`{"type":"uri","value":…}` / bnode / literal with `xml:lang` or
    * `datatype`) — pure column expressions. */
  private def termJson(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import graft.rdf.TermKind
    val lex = jsonEsc(t.getField("lex"))
    val dt = t.getField("dt"); val lang = t.getField("lang")
    when(t.getField("kind") === TermKind.IRI,
      concat(lit("{\"type\":\"uri\",\"value\":\""), lex, lit("\"}")))
      .when(t.getField("kind") === TermKind.BNODE,
        concat(lit("{\"type\":\"bnode\",\"value\":\""), lex, lit("\"}")))
      .otherwise(concat(lit("{\"type\":\"literal\",\"value\":\""), lex, lit("\""),
        when(lang =!= "", concat(lit(",\"xml:lang\":\""), lang, lit("\"")))
          .when(dt =!= "" && dt =!= XSD.string,
            concat(lit(",\"datatype\":\""), jsonEsc(dt), lit("\"")))
          .otherwise(lit("")),
        lit("}")))
  }

  /** Write SELECT results as W3C SPARQL 1.1 Query Results JSON
    * (sparql11-results-json): header and footer are their own
    * single-line first/last partitions and each solution is one JSON
    * object per line, so the part files concatenated in name order
    * form one valid document. Unbound variables are omitted from
    * their solution object, per spec. Serialization is codegen'd
    * column expressions; the only extra cost is one zipWithIndex pass
    * to place the between-solutions commas (the array separator needs
    * to know which row is globally first). A single-boolean-column
    * frame ([[Compiler.runAsk]]'s shape) writes the ASK form
    * (`"boolean": …`) instead. */
  def writeResultsJson(results: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = results.sparkSession
    if (results.schema.length == 1 &&
        results.schema.head.dataType == org.apache.spark.sql.types.BooleanType) {
      val v = results.head().getBoolean(0) // ASK: single row by construction
      oneLine(spark, s"""{"head":{},"boolean":$v}""")
        .write.mode("overwrite").text(path)
      return
    }
    val cols = results.columns
    val header = "{\"head\":{\"vars\":[" +
      cols.map("\"" + _ + "\"").mkString(",") + "]},\"results\":{\"bindings\":["
    val parts = cols.map { c =>
      val t = results(c)
      when(t.isNotNull, concat(lit("\"" + c + "\":"), termJson(t)))
        .otherwise(lit(null))
    }
    // localCheckpoint: zipWithIndex launches its own counting job, so
    // an unpersisted body would execute the ENTIRE query twice (once
    // for the count, once for the write)
    val body = results.select(
      concat(lit("{"), concat_ws(",", parts: _*), lit("}")).as("value"))
      .localCheckpoint()
    val withComma = body.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row(if (i == 0L) r.getString(0) else "," + r.getString(0))
    }
    val bodyDf = spark.createDataFrame(withComma, body.schema)
    oneLine(spark, header).union(bodyDf).union(oneLine(spark, "]}}"))
      .write.mode("overwrite").text(path)
  }

  /** XML text escaping (&, <, >) as a column expression; the quote
    * variant additionally escapes '"' for attribute values. */
  private def xmlEsc(c: org.apache.spark.sql.Column,
                     quoteAttr: Boolean = false): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // CR must be a character reference: XML parsers NORMALIZE raw \r
    // (and \r\n) in content to \n, silently corrupting literal
    // lexicals on round-trip — found by ResultsFormatFuzzSpec
    val base = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"), "\r", "&#13;")
    if (quoteAttr)
      // attribute-value normalization additionally folds \t and \n
      // into spaces — escape them too in the attr variant
      regexp_replace(regexp_replace(regexp_replace(
        base, "\"", "&quot;"), "\n", "&#10;"), "\t", "&#9;")
    else base
  }

  /** Write SELECT results as W3C SPARQL 1.1 Query Results XML
    * (rdf-sparql-XMLres). Unlike JSON there is no between-results
    * separator, so this writer is embarrassingly parallel: header and
    * footer are single-line partitions, every `<result>` element is
    * one independent line. A single-boolean-column frame writes the
    * ASK form (`<boolean>`). */
  def writeResultsXml(results: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.rdf.TermKind
    val spark = results.sparkSession
    val pre = "<?xml version=\"1.0\"?>\n" +
      "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">"
    if (results.schema.length == 1 &&
        results.schema.head.dataType == org.apache.spark.sql.types.BooleanType) {
      val v = results.head().getBoolean(0)
      oneLine(spark, s"$pre<head/><boolean>$v</boolean></sparql>")
        .write.mode("overwrite").text(path)
      return
    }
    val cols = results.columns
    val header = pre + "<head>" +
      cols.map(c => s"""<variable name="$c"/>""").mkString + "</head><results>"
    def termXml(t: org.apache.spark.sql.Column) = {
      val lex = xmlEsc(t.getField("lex"))
      val dt = t.getField("dt"); val lang = t.getField("lang")
      when(t.getField("kind") === TermKind.IRI,
        concat(lit("<uri>"), lex, lit("</uri>")))
        .when(t.getField("kind") === TermKind.BNODE,
          concat(lit("<bnode>"), lex, lit("</bnode>")))
        .otherwise(concat(
          when(lang =!= "", concat(lit("<literal xml:lang=\""), lang, lit("\">")))
            .when(dt =!= "" && dt =!= XSD.string,
              concat(lit("<literal datatype=\""), xmlEsc(dt, quoteAttr = true), lit("\">")))
            .otherwise(lit("<literal>")),
          lex, lit("</literal>")))
    }
    val parts = cols.map { c =>
      val t = results(c)
      when(t.isNotNull, concat(lit("<binding name=\"" + c + "\">"),
        termXml(t), lit("</binding>"))).otherwise(lit(null))
    }
    val body = results.select(
      concat(lit("<result>"), concat_ws("", parts: _*), lit("</result>"))
        .as("value"))
    oneLine(spark, header).union(body)
      .union(oneLine(spark, "</results></sparql>"))
      .write.mode("overwrite").text(path)
  }

  private[sparql] def serviceFor(endpoint: String): Option[DataFrame] =
    Option(services.get(endpoint))

  /** Snapshot of every registered endpoint (variable-endpoint SERVICE
    * iterates this). */
  private[sparql] def registeredServices: Map[String, DataFrame] = {
    import scala.jdk.CollectionConverters._
    services.asScala.toMap
  }

  /** Serialize a term into SPARQL surface syntax (for pre-binding).
    * Control characters use the grammar's string escapes — a raw line
    * break inside a quoted string is invalid SPARQL, so the output
    * stays parseable by conforming processors, not just ours. */
  def serialize(t: Term): String = t match {
    case Iri(v) => s"<$v>"
    case BNode(id) => s"_:$id"
    case l: Lit =>
      val q = "\"" + l.lex.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
      if (l.lang.nonEmpty) s"$q@${l.lang}"
      else if (l.dt == XSD.string) q
      else s"$q^^<${l.dt}>"
  }

  /** Textual pre-binding — the analogue of the reference's
    * rdf4j-QueryStringUtil substitution (Interpreter.scala:179-205),
    * but done by injecting `BIND(<term> AS ?var)` at the head of the
    * WHERE group: the variable stays projectable AND constrains every
    * pattern via the natural join, without corrupting the SELECT list. */
  def preBind(query: String, bindings: Map[String, Term]): String = {
    val idx = whereGroupBrace(query)
    require(idx >= 0, "query has no WHERE group to bind into")
    val binds = bindings.map { case (name, term) =>
      s"BIND(${serialize(term)} AS ?$name)"
    }.mkString(" ", " ", " ")
    query.substring(0, idx + 1) + binds + query.substring(idx + 1)
  }

  /** Opening brace of the query's WHERE group: the '{' following the
    * top-level WHERE keyword, or — WHERE is optional in the grammar —
    * the first '{' at brace/paren depth 0. A naive `indexOf('{')`
    * would hit the CONSTRUCT template or a `SELECT (EXISTS{…} AS ?e)`
    * group instead. Scans outside strings, IRIs and comments; -1 when
    * no group exists. (For the `CONSTRUCT WHERE { … }` shorthand this
    * returns the shared template/pattern group, whose grammar admits
    * only triple patterns — injecting a BIND there fails loudly at
    * parse, which beats silently corrupting the template.) */
  private[graft] def whereGroupBrace(query: String): Int = {
    val n = query.length
    var i = 0
    var paren = 0
    var brace = 0
    var sawWhere = false
    var firstBrace = -1
    def wordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = query.charAt(i)
      c match {
        case '#' => while (i < n && query.charAt(i) != '\n') i += 1
        case '<' =>
          // Skip as an IRI only when '<' plausibly opens one: the next
          // char must not be whitespace or '=' (then it's a comparison,
          // e.g. `SELECT ((?a < ?b) AS ?c)`), and IRIREF admits no
          // whitespace — so the scan stops at the first space/newline
          // and an unclosed '<' cannot swallow the WHERE group.
          if (i + 1 < n && !query.charAt(i + 1).isWhitespace &&
            query.charAt(i + 1) != '=') {
            var j = i + 1
            while (j < n && query.charAt(j) != '>' &&
              !query.charAt(j).isWhitespace) j += 1
            if (j < n && query.charAt(j) == '>') i = j // consumed IRI
            // else: no '>' before whitespace — a comparison; fall through
          }
        case '\'' | '"' =>
          val triple = i + 2 < n &&
            query.charAt(i + 1) == c && query.charAt(i + 2) == c
          if (triple) {
            i += 3
            while (i + 2 < n && !(query.charAt(i) == c &&
              query.charAt(i + 1) == c && query.charAt(i + 2) == c)) i += 1
            i += 2
          } else {
            i += 1
            while (i < n && query.charAt(i) != c) {
              if (query.charAt(i) == '\\') i += 1
              i += 1
            }
          }
        case '(' => paren += 1
        case ')' => paren -= 1
        case '{' =>
          if (sawWhere) return i
          if (paren == 0 && brace == 0 && firstBrace < 0) firstBrace = i
          brace += 1
        case '}' => brace -= 1
        case ch if ch.isLetter =>
          val start = i
          while (i + 1 < n && wordChar(query.charAt(i + 1))) i += 1
          if (paren == 0 && brace == 0 &&
            query.substring(start, i + 1).equalsIgnoreCase("WHERE"))
            sawWhere = true
        case _ => ()
      }
      i += 1
    }
    firstBrace
  }

  /** Construct the query dataset per SPARQL 1.1 §13.2: `FROM` graphs
    * merge into the default graph (their g column nulled), `FROM
    * NAMED` graphs stay addressable by GRAPH; everything else — the
    * original default graph included — drops out. Pure filters on the
    * one quads scan, so Catalyst pushes the graph selection into the
    * source. Bag semantics throughout (the documented source-duplicate
    * contract): a triple present in two FROM graphs appears twice in
    * the merged default graph. */
  def applyDataset(quads: DataFrame,
                   ds: SparqlParser.DatasetSpec): DataFrame =
    if (ds.isEmpty) quads
    else {
      import org.apache.spark.sql.functions._
      def graphs(sel: Seq[Term]) =
        quads.filter(col("g").isNotNull &&
          col("g").getField("lex").isin(sel.map(_.lex): _*))
      val default =
        if (ds.from.isEmpty) None
        else Some(graphs(ds.from).withColumn("g",
          lit(null).cast(graft.rdf.TermSchema.termType)))
      val named =
        if (ds.fromNamed.isEmpty) None else Some(graphs(ds.fromNamed))
      (default ++ named).reduceOption(_ union _).getOrElse(quads.limit(0))
    }

  implicit class QuadsOps(private val quads: DataFrame) extends AnyVal {
    /** Execute a SPARQL 1.1 query over this quads DataFrame.
      * SELECT → one term-struct column per variable; ASK → single
      * boolean `ask` row; CONSTRUCT/DESCRIBE → a quads DataFrame
      * (s,p,o,g). */
    def sparql(query: String): DataFrame = dispatch(query, None)

    /** The one parse-and-dispatch for both the structural and the
      * stats-driven entry points — a single copy so a new query form
      * or dataset rule cannot silently reach only one of them. */
    private def dispatch(query: String,
                         st: Option[QuadsStats]): DataFrame =
      SparqlParser.parseAny(query) match {
        case SparqlParser.SelectQuery(op, ds) =>
          Compiler.run(applyDataset(quads, ds), BgpOptimizer.optimize(op, st))
        case SparqlParser.AskQuery(op, ds) =>
          Compiler.runAsk(applyDataset(quads, ds), BgpOptimizer.optimize(op, st))
        case SparqlParser.ConstructQuery(template, op, ds) =>
          Compiler.runConstruct(applyDataset(quads, ds), template,
            BgpOptimizer.optimize(op, st))
        case SparqlParser.DescribeQuery(targets, star, op, ds) =>
          Compiler.runDescribe(applyDataset(quads, ds), targets, star,
            op.map(BgpOptimizer.optimize(_, st)))
      }

    /** Execute with pre-bound variables (textual substitution). */
    def sparql(query: String, bindings: Map[String, Term]): DataFrame =
      sparql(preBind(query, bindings))

    /** One statistics pass over this dataset (per-predicate counts +
      * distinct subject/object estimates) for cost-based join
      * ordering — compute once per dataset, reuse across queries. */
    def analyze(): QuadsStats = QuadsStats.compute(quads)

    /** Execute with cost-based BGP join ordering driven by `stats`
      * (see [[QuadsStats]]). Same results as [[sparql(query*]] —
      * statistics change only the join order. */
    def sparql(query: String, stats: QuadsStats): DataFrame =
      dispatch(query, Some(stats))

    /** SPARQL 1.1 Update — the §3.1 data/pattern forms (INSERT DATA /
      * DELETE DATA / DELETE WHERE / DELETE…INSERT…WHERE) and the §3.2
      * graph-management forms (LOAD / CLEAR / DROP / CREATE / ADD /
      * COPY / MOVE), with ';'-separated operation sequences — as a
      * pure transform: returns the updated quads DataFrame; the caller
      * commits it by writing it back (e.g. QuadsIO.writeParquet), which
      * is not atomic for concurrent readers. */
    def sparqlUpdate(update: String): DataFrame =
      Compiler.runUpdates(quads, SparqlParser.parseUpdate(update))

    /** Execute and flatten term structs to lexical strings. */
    def sparqlLex(query: String): DataFrame =
      Compiler.lexical(sparql(query))
  }
}

package graft.io

import graft.rdf.{Term, TermSchema}
import graft.sparql.{Algebra, BgpOptimizer, Compiler, ExprCompiler, Sparql, SparqlParser}
import graft.sparql.Algebra._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dictionary-encoded quad store — the classic scale architecture of
  * native RDF engines (RDF-3X, Jena TDB, Virtuoso): every distinct term
  * maps to one 8-byte integer id, quads are stored as four long
  * columns, and basic graph patterns execute as equi-joins over longs
  * with the term structs joined back in ("late materialization") only
  * for the variables the rest of the query actually needs.
  *
  * Why this matters at 100 TB: the term-struct quad table shuffles
  * ~4 strings per column through every BGP join; the encoded table
  * shuffles 8 bytes. Join keys hash/compare as single longs instead of
  * 4-field structs, shuffle volume drops roughly by the average term
  * length (~20-40×), and min/max pruning on sorted long columns is far
  * tighter than on strings. The dictionary is built ONCE at ingest; the
  * per-query cost is one driver-side constant lookup (a filtered dict
  * scan) plus one materialization join per surviving output variable —
  * both independent of the BGP's intermediate cardinalities, which is
  * where the narrow representation wins.
  *
  * The reference engine has no counterpart (it ships rdf4j `Value`
  * object graphs through every GroupByKey —
  * /root/reference/src/main/scala/es/jolivar/scio/sparql/Interpreter.scala:299-947);
  * this is a Spark-first design choice, not a port.
  *
  * Layout under `path/`:
  *  - `dict/`  parquet `(id: long, term: struct)` — ids are
  *    `monotonically_increasing_id` assigned once at encode and frozen
  *    by the write (collision-free by construction, unlike hash ids,
  *    which at ~10^11 distinct terms would see birthday collisions);
  *  - `quads/` parquet `(s,p,o: long, g: long nullable)`, repartitioned
  *    by (p, s) and sorted within partitions — same
  *    vertical-partitioning-lite layout as [[QuadsIO.writeParquet]], so
  *    a constant-predicate scan touches few row groups and long min/max
  *    pruning does the rest.
  *
  * Every file is written by the one store writer
  * ([[Layout.storeWriter]]): zstd over Parquet v2 pages, the long
  * columns (`id`, and `s`/`p`/`o`/`g` along the (p, s) sort)
  * DELTA_BINARY_PACKED with no dictionary, and the lex-sorted unique
  * `term.lex` DELTA_BYTE_ARRAY (prefix-shared). Against the former v1
  * dictionary pages, bytes per quad: this store 8.5–8.8 → 5.7 on the
  * benchmark's compacted ingest_dict store and 5.86 → 4.34 at sf0.1;
  * the term-struct store, whose string leaves keep their dictionaries,
  * 5.146 → 5.149 on the benchmark's analytic_terms store and
  * 4.67 → 3.80 at sf0.1.
  *
  * Query execution ([[DictStore.sparql]]): the optimized algebra tree
  * is rewritten bottom-up — every maximal id-safe subtree compiles to
  * an id-space pipeline and re-enters the tree as an
  * [[Algebra.Materialized]] leaf carrying term-struct columns for
  * exactly the variables referenced outside it (unused midpoints are
  * pruned BEFORE materialization; pruning a column never changes bag
  * cardinality, so this is safe under any ancestor including
  * DISTINCT). Id-safe ([[isExtBlock]] + dedicated cases): BGP blocks;
  * OPTIONAL / MINUS spines and bag UNIONs; joins whose shared vars are
  * assured on both sides, including fully-defined VALUES probe lists
  * (solution compatibility is term identity, which IS id equality);
  * FILTER [NOT] EXISTS over BGP patterns; every SPARQL aggregate;
  * ORDER BY + LIMIT top-k; DISTINCT/REDUCED; `+`/`*` closures;
  * zero-length paths; and any EXISTS-free scalar FILTER, OPTIONAL
  * condition or BIND. The one standard-compiler fallback: BOTH-constant
  * `*`/`+` existence probes (no variable to carry ids for). The fast
  * path can never change semantics, only the plan under it.
  *
  * What is id-specific lives here:
  *  - the id scans ([[scanIds]]: constant positions as long equality);
  *  - the constant lookup ([[constIdsOf]], one pruned dict scan);
  *  - the decode: late materialization, the hybrid decode that lets
  *    the standard ExprCompiler evaluate a condition on just the
  *    referenced variables' terms, and the dict sort-key join — all
  *    through one dict-join primitive ([[joinDictCols]]);
  *  - the typed sidecar (join-free numeric/temporal FILTER and OPTIONAL
  *    conditions against a constant);
  *  - the threshold top-k (a sidecar cut before any dict contact);
  * plus the rewrite itself, its eligibility predicates and the id-space
  * operator bodies built from the pieces above. Every algebra analysis
  * they use (`conjuncts`, `exprVars`, `assuredVars`,
  * `normalizeNotExists`) is [[Algebra]]'s, and every representation-
  * blind operator tail (UNION padding, the aggregation pass with its
  * DISTINCT SUM/AVG side pass and accumulators, the zero-length node
  * domain and constant rows, the ALP closure) is `object Compiler`'s,
  * the same code the term-struct compiler runs.
  */
final class DictStore private (val spark: SparkSession,
                               val dict: DataFrame,
                               val idQuads: DataFrame,
                               val stats: Option[graft.sparql.QuadsStats],
                               lookupDict: Option[DataFrame] = None) {

  /** Term-struct view of the store: the four id columns joined back
    * against the dictionary (g via left join — NULL g is the default
    * graph, not a term). Residual operators that genuinely need term
    * structs (property paths, EXISTS subpatterns, GRAPH enumeration)
    * compile against this; Catalyst pushes their constant-term filters
    * through the join onto the dict scan. */
  lazy val decodedQuads: DataFrame = {
    def d(i: Int) = dict.select(col("id").as(s"__di$i"), col("term").as(s"__dt$i"))
    idQuads
      .join(d(0), col("s") === col("__di0"))
      .join(d(1), col("p") === col("__di1"))
      .join(d(2), col("o") === col("__di2"))
      .join(d(3), col("g") === col("__di3"), "left_outer")
      .select(col("__dt0").as("s"), col("__dt1").as("p"),
        col("__dt2").as("o"), col("__dt3").as("g"))
  }

  /** Decode the store back to a term-struct quads DataFrame (export /
    * re-encode path). */
  def decode(): DataFrame = decodedQuads

  /** Execute a SPARQL query with the id-space BGP fast path. Query
    * forms and result schemas match [[Sparql.QuadsOps.sparql]].
    * FROM / FROM NAMED apply as a pre-transform of the LONG quad
    * table ([[withDataset]]), so dataset-scoped queries keep the full
    * fast path. */
  def sparql(query: String): DataFrame = SparqlParser.parseAny(query) match {
    case SparqlParser.SelectQuery(op, ds) =>
      val st = withDataset(ds)
      Compiler.run(st.decodedQuads, st.rewrite(BgpOptimizer.optimize(op, stats)))
    case SparqlParser.AskQuery(op, ds) =>
      val st = withDataset(ds)
      Compiler.runAsk(st.decodedQuads, st.rewrite(BgpOptimizer.optimize(op, stats)))
    case SparqlParser.ConstructQuery(template, op, ds) =>
      val st = withDataset(ds)
      Compiler.runConstruct(st.decodedQuads, template,
        st.rewrite(BgpOptimizer.optimize(op, stats)))
    case _ => Sparql.QuadsOps(decodedQuads).sparql(query)
  }

  /** The dataset-scoped view of this store: [[Sparql.applyDataset]]'s
    * graph selection and default-graph retag transplanted to the long
    * quad table — FROM graphs filter by g id and retag to NULL (the
    * default graph), FROM NAMED restricts the named graphs, bag
    * semantics throughout. Graph names resolve by LEXICAL like the
    * term-struct path (a lex-pruned dict lookup); only graph-name
    * terms can occupy the g position, so lex-based ids are exact. */
  private def withDataset(ds: SparqlParser.DatasetSpec): DictStore =
    if (ds.isEmpty) this
    else {
      def ids(sel: Seq[Term]): Seq[Long] = {
        val lexes = sel.map(_.lex).distinct
        lookupDict.getOrElse(dict)
          .filter(col("term.lex").isin(lexes: _*))
          .select(col("id")).collect().map(_.getLong(0)).toSeq
      }
      def graphs(sel: Seq[Term]) = {
        val selIds = ids(sel)
        idQuads.filter(col("g").isNotNull &&
          (if (selIds.isEmpty) lit(false) else col("g").isin(selIds: _*)))
      }
      val default =
        if (ds.from.isEmpty) None
        else Some(graphs(ds.from)
          .withColumn("g", lit(null).cast(LongType)))
      val named =
        if (ds.fromNamed.isEmpty) None else Some(graphs(ds.fromNamed))
      val scoped = (default ++ named).reduceOption(_ union _)
        .getOrElse(idQuads.limit(0))
      new DictStore(spark, dict, scoped, stats, lookupDict)
    }

  // ----- the BGP block rewriter -----

  /** Replace every maximal Scan/Join-only subtree with a Materialized
    * leaf compiled in id space. SERVICE children are untouched (they
    * evaluate against a different dataset); EXISTS patterns are left to
    * the standard compiler (their correlated-filter lifting inspects
    * pattern structure). */
  private[graft] def rewrite(root: Op): Op = {
    val totalRefs = countRefs(root)
    // output variables of the whole query stay materialized even when
    // nothing inside the tree references them again (CONSTRUCT
    // templates, DESCRIBE targets and pre-binding read them by name)
    val keepAlways = Algebra.vars(root)
    // COUNT(DISTINCT *) counts distinct over ALL visible columns
    // without naming any variable, so reference counting cannot see
    // it — pruning a midpoint would shrink its distinct key. Disable
    // pruning for the whole query when one exists anywhere.
    val noPrune = usesDistinctStar(root)
    // vars a materialized subtree must keep: everything, or just those
    // referenced again outside `scope` (shared by the block and
    // Filter-EXISTS cases so the pruning rule cannot diverge)
    def keepFor(scope: Op, produced: List[String]): List[String] =
      if (noPrune) produced
      else {
        val scopeRefs = countRefs(scope)
        produced.filter(v =>
          keepAlways.contains(v) ||
            totalRefs.getOrElse(v, 0) > scopeRefs.getOrElse(v, 0))
      }
    def go(op: Op): Op = op match {
      case b if isExtBlock(b) => // a FILTER with no conjuncts
        val keep = keepFor(b, Algebra.varsOrdered(b))
        Materialized(compileFilterIds(b, Nil, keep), keep,
          assuredVars(b) intersect keep.toSet)
      case Join(l, r) => Join(go(l), go(r))
      case LeftJoin(l, r, c) => LeftJoin(go(l), go(r), c)
      case Union(l, r) => Union(go(l), go(r))
      case Minus(l, r) => Minus(go(l), go(r))
      case Group(c, keys, aggs) if groupCountEligible(c, keys, aggs) =>
        // group keys over assured vars stay assured; aggregate
        // outputs can be NULL (empty-group SAMPLE, poisoned SUM)
        Materialized(compileGroupCountIds(c, keys, aggs),
          keys ++ aggs.map(_._1), keys.toSet intersect assuredVars(c))
      // ORDER BY vars + LIMIT directly over a block: top-k in id
      // space — sort keys join in from the dictionary, the limit runs
      // over (skey, id) rows, and only the surviving k rows decode.
      // Plain SELECT stacks Slice(Project(Order(block))): the
      // projection then fixes exactly which vars decode.
      case sl @ TopK(c, keys, off, lim, proj)
        if proj.forall(_.forall(Algebra.vars(c).contains)) &&
          orderSliceEligible(c, keys, off, lim) =>
        val keep = proj.getOrElse(keepFor(sl, Algebra.varsOrdered(c)))
        Materialized(compileTopKIds(c, keys, off, lim.get, keep), keep,
          assuredVars(c) intersect keep.toSet)
      // DISTINCT/REDUCED directly over a (projected) block: dedup on
      // long tuples, decode only the SURVIVING rows (bijection ⇒ id
      // distinctness ≡ term distinctness, NULLs included)
      case IdDedup(c, vs) =>
        Materialized(compileDistinctIds(c, vs), vs,
          assuredVars(c) intersect vs.toSet)
      case f @ Filter(c, e) => filterEligible(c, e) match {
        case Some(conjs) =>
          val keep = keepFor(f, Algebra.varsOrdered(c))
          Materialized(compileFilterIds(c, conjs, keep), keep,
            assuredVars(c) intersect keep.toSet)
        case None => Filter(go(c), e)
      }
      // BIND over a block: the expression's vars hybrid-decode, the
      // bound value computes as a term column riding the id frame, and
      // the block still materializes late (SPARQL scoping guarantees
      // the bound name is fresh in the group pattern)
      case ex @ Extend(c, n, e)
        if isExtBlock(c) && !hasExists(e) && !Algebra.vars(c).contains(n) =>
        // the bound name is NOT assured (the expression may error)
        val keep = keepFor(ex, Algebra.varsOrdered(c) :+ n)
        Materialized(compileExtendIds(c, n, e, keep), keep,
          assuredVars(c) intersect keep.toSet)
      case Extend(c, n, e) => Extend(go(c), n, e)
      case Project(c, vs) => Project(go(c), vs)
      case Distinct(c) => Distinct(go(c))
      case Reduced(c) => Reduced(go(c))
      case Group(c, k, a) => Group(go(c), k, a)
      case Order(c, k) => Order(go(c), k)
      case Slice(c, o, l) => Slice(go(c), o, l)
      case alp: ArbitraryLengthPath if alpEligible(alp) =>
        val (df, vs) = compileAlpIds(alp)
        Materialized(df, vs, vs.toSet) // path endpoints bind every row
      // `*` with ONE constant end: split into zero ∪ plus. ALP output
      // is set-semantics over its bindings, so Distinct(Union(·,·)) is
      // exact; the zero branch binds the (possibly dict-absent)
      // constant from its literal, and the plus branch closes in id
      // space — the closure, the expensive part, keeps 8-byte keys
      case alp: ArbitraryLengthPath
        if alp.includeZero && isBlock(alp.edge) &&
          List(alp.s, alp.o).count {
            case T(_) => true; case _ => false } == 1 =>
        go(Distinct(Union(ZeroLengthPath(alp.s, alp.o, alp.g),
          alp.copy(includeZero = false))))
      case alp: ArbitraryLengthPath => alp.copy(edge = go(alp.edge))
      case ZeroLengthPath(V(sv), V(ov), g) =>
        val (df, vs) = compileZeroLengthIds(sv, ov, g)
        Materialized(df, vs, vs.toSet)
      // constant-end zero-length: a driver-built constant row — the
      // term may be ABSENT from the data and hence the dictionary, so
      // the binding comes from the literal, not an id; only the
      // named-graph enumeration (under GRAPH ?g) touches the store,
      // and it runs in id space with a k-row decode
      case ZeroLengthPath(s, o, g) =>
        val vs = graphVar(g).toList ++ List(s, o).collect { case V(n) => n }
        Materialized(Compiler.zeroLengthConst(spark, s, o, g, n =>
          materialize(idQuads.filter(col("g").isNotNull)
            .select(col("g").as(n)).dropDuplicates(), List(n))), vs, vs.toSet)
      case leaf => leaf // Scan handled by isExtBlock; Service/Values/… stay
    }
    go(root)
  }

  /** ORDER BY + LIMIT, directly or through plain SELECT's projection:
    * (child, sort keys, offset, limit, projected vars). */
  private object TopK {
    def unapply(op: Op): Option[(Op, List[(Expr, Boolean)], Long,
        Option[Long], Option[List[String]])] = op match {
      case Slice(Order(c, keys), off, lim) => Some((c, keys, off, lim, None))
      case Slice(Project(Order(c, keys), vs), off, lim) =>
        Some((c, keys, off, lim, Some(vs)))
      case _ => None
    }
  }

  /** DISTINCT/REDUCED over an id source, directly or through a
    * projection of its vars: (source, deduplicated vars). */
  private object IdDedup {
    def unapply(op: Op): Option[(Op, List[String])] = (op match {
      case Distinct(c) => Some(c)
      case Reduced(c) => Some(c)
      case _ => None
    }).collect {
      case Project(c, vs)
        if idSource(c).isDefined && vs.forall(Algebra.vars(c).contains) => (c, vs)
      case c if idSource(c).isDefined => (c, Algebra.varsOrdered(c))
    }
  }

  /** A BGP block: a Join tree whose every leaf is a Scan. */
  private def isBlock(op: Op): Boolean = op match {
    case _: Scan => true
    case Join(l, r) => isBlock(l) && isBlock(r)
    case _ => false
  }

  /** Extended id-space block: a spine of condition-free OPTIONAL and
    * MINUS nodes whose left arm is itself an extended block and whose
    * right arm is a pure BGP — at 100 TB these are exactly the
    * shuffles that want 8-byte keys, so they should not force the
    * whole query back onto term structs. Soundness guards, per node:
    *  - every variable shared between the arms is ASSURED on both
    *    sides (right is a BGP, so its vars are assured by definition;
    *    the left-side check excludes vars introduced by an inner
    *    OPTIONAL), which reduces SPARQL's compat join / MINUS
    *    domain-overlap semantics to plain long equality — no NULL
    *    matches-anything cases can arise;
    *  - at least one shared variable (a shared-nothing OPTIONAL is a
    *    cross product and a shared-nothing MINUS is the identity —
    *    both stay on the standard compiler);
    *  - OPTIONAL conditions must be EXISTS-free scalars (evaluated on
    *    the merged row via hybrid-decoded term columns, see the
    *    LeftJoin case of [[idsOf]]). */
  private def isExtBlock(op: Op): Boolean = op match {
    case b if isBlock(b) => true
    case LeftJoin(l, r, None) => isExtSpine(l, r)
    // a conditioned OPTIONAL stays in id space two ways: a right-only
    // term-identity conjunct pre-filters the right pattern (the merged
    // row's value IS the right row's value), and ANY other scalar
    // conjunct without a nested EXISTS evaluates on the merged row
    // during the join through hybrid-decoded term columns — the same
    // ExprCompiler.bool the standard compiler's joinCompat uses
    case LeftJoin(l, r, Some(cond)) =>
      isExtSpine(l, r) && conjuncts(cond).map(normalizeNotExists).forall(e =>
        (idPred(r, e) && exprVars(e).subsetOf(Algebra.vars(r))) ||
          !hasExists(e))
    case Minus(l, r) => isExtSpine(l, r)
    // bag UNION works on ids directly (absent vars pad as NULL longs)
    case Union(l, r) => isExtBlock(l) && isExtBlock(r)
    // Joins ABOVE unions/optionals are id-safe only when every shared
    // var is assured on BOTH sides — a possibly-null shared var needs
    // SPARQL compat semantics (NULL matches anything), which a long
    // equi-join would get wrong; those stay on the standard compiler.
    // A fully-defined VALUES may sit on either side as a probe list
    // when ALL its vars are shared with the data side: SPARQL solution
    // compatibility is TERM identity, i.e. id equality, and a constant
    // absent from the dictionary maps to sentinel -1, which no real id
    // equals — the row correctly never joins. (Values-only vars are
    // excluded because an unmatched -1 could never decode back to its
    // term; two VALUES may not join each other — both sides could map
    // DIFFERENT absent terms to -1 and falsely match.)
    case Join(l, r) =>
      def dataSide(x: Op) = isExtBlock(x)
      def valuesSide(x: Op, other: Op) = idSafeValues(x) &&
        Algebra.vars(x).subsetOf(Algebra.vars(other))
      val ok = (dataSide(l) && dataSide(r)) ||
        (dataSide(l) && valuesSide(r, l)) ||
        (dataSide(r) && valuesSide(l, r))
      ok && {
        val shared = Algebra.vars(l).intersect(Algebra.vars(r))
        shared.subsetOf(assuredVars(l)) && shared.subsetOf(assuredVars(r))
      }
    case _ => false
  }

  /** A VALUES block with no UNDEF anywhere — only then is every cell a
    * constant term the dictionary can (fail to) resolve; an UNDEF cell
    * needs compat NULL-matches-anything semantics. */
  private def idSafeValues(op: Op): Boolean = op match {
    case Values(_, rows) => rows.forall(_.forall(_.isDefined))
    case _ => false
  }

  private def isExtSpine(l: Op, r: Op): Boolean =
    isExtBlock(l) && isBlock(r) && {
      val shared = Algebra.vars(l).intersect(Algebra.vars(r))
      shared.nonEmpty && shared.subsetOf(assuredVars(l))
    }

  /** Any DISTINCT aggregate over `*` (expr = None) in the tree — the
    * one shape whose result depends on columns no variable reference
    * names (see [[rewrite]]). */
  private def usesDistinctStar(op: Op): Boolean = {
    def ex(e: Expr): Boolean = e match {
      case AggE(_, true, None, _) => true
      case AggE(_, _, eo, _) => eo.exists(ex)
      case FuncE(_, args) => args.exists(ex)
      case InE(x, l, _) => ex(x) || l.exists(ex)
      case ExistsE(p, _) => usesDistinctStar(p)
      case _ => false
    }
    op match {
      case Join(l, r) => usesDistinctStar(l) || usesDistinctStar(r)
      case LeftJoin(l, r, c) =>
        usesDistinctStar(l) || usesDistinctStar(r) || c.exists(ex)
      case Union(l, r) => usesDistinctStar(l) || usesDistinctStar(r)
      case Minus(l, r) => usesDistinctStar(l) || usesDistinctStar(r)
      case Filter(c, e) => usesDistinctStar(c) || ex(e)
      case Extend(c, _, e) => usesDistinctStar(c) || ex(e)
      case Project(c, _) => usesDistinctStar(c)
      case Distinct(c) => usesDistinctStar(c)
      case Reduced(c) => usesDistinctStar(c)
      case Group(c, _, aggs) =>
        usesDistinctStar(c) || aggs.exists(a => ex(a._2))
      case Order(c, keys) => usesDistinctStar(c) || keys.exists(k => ex(k._1))
      case Slice(c, _, _) => usesDistinctStar(c)
      case Service(_, c, _) => usesDistinctStar(c)
      case alp: ArbitraryLengthPath => usesDistinctStar(alp.edge)
      case _ => false
    }
  }

  /** Every variable reference anywhere in the tree, counted — the
    * pruning test is "does v occur more often in the whole query than
    * inside this block", which is occurrence-exact even when the same
    * name appears both inside and outside. */
  private def countRefs(op: Op): Map[String, Int] =
    refs(op).groupBy(identity).map { case (k, v) => (k, v.size) }

  private def refs(op: Op): List[String] = {
    def pos(x: VarOrTerm) = x match { case V(n) => List(n); case _ => Nil }
    def gs(g: GraphSpec) = g match { case GraphVar(n) => List(n); case _ => Nil }
    def ex(e: Expr): List[String] = e match {
      case VarE(n) => List(n)
      case ConstE(_) => Nil
      case FuncE(_, args) => args.flatMap(ex)
      case InE(x, l, _) => ex(x) ++ l.flatMap(ex)
      case ExistsE(p, _) => refs(p)
      case AggE(_, _, e2, _) => e2.toList.flatMap(ex)
    }
    op match {
      case Scan(s, p, o, g) => pos(s) ++ pos(p) ++ pos(o) ++ gs(g)
      case Singleton => Nil
      case Values(vs, _) => vs
      case Join(l, r) => refs(l) ++ refs(r)
      case LeftJoin(l, r, c) => refs(l) ++ refs(r) ++ c.toList.flatMap(ex)
      case Union(l, r) => refs(l) ++ refs(r)
      case Minus(l, r) => refs(l) ++ refs(r)
      case Filter(c, e) => refs(c) ++ ex(e)
      case Extend(c, n, e) => refs(c) ++ (n :: ex(e))
      case Project(c, vs) => refs(c) ++ vs
      case Distinct(c) => refs(c)
      case Reduced(c) => refs(c)
      case Group(c, keys, aggs) =>
        refs(c) ++ keys ++ aggs.flatMap { case (n, a) => n :: ex(a) }
      case Order(c, keys) => refs(c) ++ keys.flatMap { case (e, _) => ex(e) }
      case Slice(c, _, _) => refs(c)
      case Service(e, c, _) => pos(e) ++ refs(c)
      case Materialized(_, vs, _) => vs
      case ZeroLengthPath(s, o, g) => pos(s) ++ pos(o) ++ gs(g)
      case ArbitraryLengthPath(s, o, e, is, io, _, g) =>
        pos(s) ++ pos(o) ++ refs(e) ++ List(is, io) ++ gs(g)
    }
  }

  // ----- id-space transitive paths -----

  /** The ALP shapes this DIRECT id-space compile expresses: a
    * pure-BGP edge pattern, at least one variable endpoint
    * (both-constant is an existence probe the standard compiler
    * handles), and no zero-length with a constant endpoint — that
    * shape is instead SPLIT by the rewriter into
    * Distinct(ZeroLengthPath ∪ `+`-closure), whose plus branch lands
    * back here. */
  private def alpEligible(alp: ArbitraryLengthPath): Boolean = {
    val constEnds = List(alp.s, alp.o).count { case T(_) => true; case _ => false }
    isBlock(alp.edge) && constEnds < 2 && !(alp.includeZero && constEnds > 0)
  }

  /** ALP closure entirely in id space: the shared scaffolding
    * ([[graft.sparql.Compiler.alpPaths]]/`alpFinish` over
    * `transitiveClosure`) runs with dictionary-id constants and node
    * domains, so the semi-naive rounds join and shuffle single longs
    * and the dictionary joins back in ONCE, after convergence. The
    * subtle path semantics (backward walk, per-graph closure, cycle
    * queries, zero-length domains) exist only in the shared code. */
  private def compileAlpIds(alp: ArbitraryLengthPath): (DataFrame, List[String]) = {
    val endTerms = List(alp.s, alp.o).collect { case T(t) => t }
    val gTerms = alp.g match { case GraphTerm(t) => List(t); case _ => Nil }
    val consts = constIdsOf(
      (scanConstTerms(allScans(alp.edge)) ++ endTerms ++ gTerms).distinct)
    def cid(t: Term): Long = consts.getOrElse(t, -1L)
    val cidCol: Term => Column = t => lit(cid(t))

    val gSel = graphVar(alp.g).map(n => col(n).as("g")).toSeq
    val edges = GraftColumnBridge.freshLeaf(
      idsOf(alp.edge, consts)
        .select(gSel ++ Seq(col(alp.innerS).as("src"),
          col(alp.innerO).as("dst")): _*)
        .dropDuplicates()
        .localCheckpoint(eager = false))

    val paths = Compiler.alpPaths(alp, edges, cidCol,
      () => idGraphNodes(alp.g, cid),
      _ => throw new IllegalStateException(
        "zero-length with a constant endpoint is ineligible in id space"))
    val (df, names) = Compiler.alpFinish(paths, alp, cidCol)
    (materialize(df, names), names)
  }

  /** All node ids of the scoped graph, graph column `g` — the
    * zero-length path domain of the ALP and ZeroLengthPath id-space
    * compilers. */
  private def idGraphNodes(g: GraphSpec, cid: Term => Long): DataFrame =
    Compiler.graphNodes(scopedIds(g, cid), graphVar(g).map(_ => () => col("g")))

  /** The long quad table restricted to a graph scope. */
  private def scopedIds(g: GraphSpec, id: Term => Long): DataFrame = g match {
    case DefaultGraph => idQuads.filter(col("g").isNull)
    case GraphTerm(t) => idQuads.filter(col("g") === lit(id(t)))
    case GraphVar(_) => idQuads.filter(col("g").isNotNull)
  }

  /** Var-var zero-length path: every node of the scoped graph bound
    * to itself, entirely in id space. */
  private def compileZeroLengthIds(sv: String, ov: String,
                                   g: GraphSpec): (DataFrame, List[String]) = {
    val cids = constIdsOf(g match { case GraphTerm(t) => List(t); case _ => Nil })
    val nodes = idGraphNodes(g, t => cids.getOrElse(t, -1L))
    val gVar = graphVar(g)
    val gSel = gVar.map(_ => col("g")).toList
    val names = gVar.toList ++ (if (sv == ov) List(sv) else List(sv, ov))
    val df0 =
      if (sv == ov) nodes.select(gSel :+ col("node").as(sv): _*)
      else nodes.select(gSel ++ List(col("node").as(sv), col("node").as(ov)): _*)
    val df = gVar.map(n => df0.withColumnRenamed("g", n)).getOrElse(df0)
    (materialize(df, names), names)
  }

  // ----- id-space block compilation -----

  private def condConstTerms(op: Op): List[Term] = op match {
    case LeftJoin(l, r, c) =>
      condConstTerms(l) ++ condConstTerms(r) ++
        c.toList.flatMap(conjuncts).flatMap {
          case FuncE(_, args) => args.collect { case ConstE(t) => t }
          case _ => Nil
        }
    case Join(l, r) => condConstTerms(l) ++ condConstTerms(r)
    case Minus(l, r) => condConstTerms(l) ++ condConstTerms(r)
    case Union(l, r) => condConstTerms(l) ++ condConstTerms(r)
    case Values(_, rows) => rows.flatten.flatten
    case _ => Nil
  }

  private def idOperand(x: Expr, consts: Map[Term, Long]): Column = x match {
    case VarE(v) => col(v)
    case ConstE(t) => lit(consts.getOrElse(t, -1L))
    case other => throw new IllegalStateException(s"not an id operand: $other")
  }

  /** Term-IDENTITY predicate over `scope`'s vars: sameTerm for any
    * operands; `=` only against a constant IRI (see [[filterEligible]]
    * for why literal `=` cannot be an id predicate). */
  private def idPred(scope: Op, e: Expr): Boolean = e match {
    case FuncE("SAMETERM", List(a, b)) =>
      List(a, b).exists(_.isInstanceOf[VarE]) && List(a, b).forall {
        case VarE(v) => Algebra.vars(scope).contains(v)
        case ConstE(_) => true
        case _ => false
      }
    case FuncE("=", List(VarE(v), ConstE(_: graft.rdf.Iri))) =>
      Algebra.vars(scope).contains(v)
    case FuncE("=", List(ConstE(_: graft.rdf.Iri), VarE(v))) =>
      Algebra.vars(scope).contains(v)
    case _ => false
  }

  /** The id-space frame of an extended block, shared by the block,
    * EXISTS and ALP compilers. */
  private def idsOf(op: Op, consts: Map[Term, Long],
                    typedWanted: Set[String] = Set.empty): DataFrame = op match {
    case b if isBlock(b) =>
      // each typed-wanted var is carried by exactly ONE scan (its
      // first object-position binding, falling back to a subject-
      // position binding on v6 stores): join equality makes every
      // binding agree on the value, and a second copy would otherwise
      // enter the equi-join key set, where NULL keys drop rows
      var remaining = typedWanted
      allScans(b).map { sc =>
        val tvO = sc.o match {
          case V(n) if remaining.contains(n) => remaining -= n; Some(n)
          case _ => None
        }
        val tvS = sc.s match {
          case V(n) if hasSubjSidecar && remaining.contains(n) =>
            remaining -= n; Some(n)
          case _ => None
        }
        scanIds(sc, consts, tvO, tvS)
      }.reduceLeft(naturalJoin)
    case LeftJoin(l, r, cond) =>
      // right-only conditions pre-filter the right side BEFORE the
      // join (equivalent because they reference no left var: matched
      // rows see the same verdict, unmatched left rows pad with NULLs
      // either way): term-identity ones as long comparisons, numeric/
      // temporal-vs-constant ones on the typed sidecar (zero dict
      // joins — the OPTIONAL face of the typed FILTER fast path).
      // Everything else evaluates on the MERGED row during the join
      // (guarded eligible in isExtBlock).
      val conjs = cond.toList.flatMap(conjuncts).map(normalizeNotExists)
      def rightOnly(e: Expr) = exprVars(e).subsetOf(Algebra.vars(r))
      val (preConjs, rest) = conjs.partition(e => idPred(r, e) && rightOnly(e))
      val rTypedObjVars: Set[String] = typedSidecarVars(r)
      val (typedPre, mergedConjs) = rest.partition(e =>
        rightOnly(e) && typedEligible(e, rTypedObjVars))
      val typedPreVars = typedPre.flatMap(typedShape).map(_._1).distinct
      val ld = idsOf(l, consts)
      val rd0 = idsOf(r, consts, typedPreVars.toSet)
      var rd = preConjs.foldLeft(rd0) {
        case (acc, FuncE(_, List(a, b))) =>
          acc.filter(idOperand(a, consts) === idOperand(b, consts))
        case (_, other) =>
          throw new IllegalStateException(s"not id-expressible: $other")
      }
      typedPre.foreach(e => rd = rd.filter(typedCond(e)))
      if (typedPreVars.nonEmpty)
        rd = rd.drop(typedPreVars.flatMap(v =>
          Seq(tcCol(v), tdCol(v), teCol(v), ttCol(v))): _*)
      val shared = ld.columns.intersect(rd.columns).toSeq
      if (mergedConjs.isEmpty) ld.join(rd, shared, "left_outer")
      else {
        // hybrid decode on the owning side: shared vars read the left
        // copy (join equality makes the sides agree on matched rows),
        // right-only vars the right copy — the merged-row resolver of
        // the standard compiler's joinCompat, restricted to the vars
        // the condition actually references
        val condVars = mergedConjs.flatMap(exprVars).distinct
        val lNullable = Algebra.vars(l) -- assuredVars(l)
        val ldD = decodeVars(ld,
          condVars.filter(ld.columns.contains), lNullable)
        val rdD = decodeVars(rd,
          condVars.filter(v => !ld.columns.contains(v) &&
            rd.columns.contains(v)), Set.empty) // right is a BGP: assured
        val rename = shared.map(v => v -> s"__rj_$v").toMap
        val rdR = rename.foldLeft(rdD) { case (d, (v, rv)) =>
          d.withColumnRenamed(v, rv) }
        val keyConds = shared.map(v => ldD(v) === rdR(rename(v)))
        val ec = new ExprCompiler(n =>
          if (ldD.columns.contains(tvCol(n))) ldD(tvCol(n))
          else if (rdR.columns.contains(tvCol(n))) rdR(tvCol(n))
          else graft.sparql.TermFns.nullTerm)
        val joinCond = (keyConds :+ mergedConjs.map(ec.bool).reduce(_ && _))
          .reduce(_ && _)
        val outCols = (ld.columns ++ rd.columns).distinct.toIndexedSeq
        ldD.join(rdR, joinCond, "left_outer")
          .select(outCols.map(v =>
            (if (ld.columns.contains(v)) ldD(v) else rdR(v)).as(v)): _*)
      }
    case Minus(l, r) =>
      val (ld, rd) = (idsOf(l, consts), idsOf(r, consts))
      val shared = ld.columns.intersect(rd.columns).toSeq
      ld.join(rd.select(shared.map(col): _*), shared, "left_anti")
    case Union(l, r) => // absent vars pad as NULL ids
      Compiler.unionPadded(idsOf(l, consts), idsOf(r, consts),
        lit(null).cast(LongType))
    case Join(l, r) => // mixed join above unions/optionals (guarded assured)
      naturalJoin(idsOf(l, consts), idsOf(r, consts))
    case Values(vs, rows) => // probe list as a local long relation
      val schema = StructType(vs.map(StructField(_, LongType, nullable = false)))
      val data = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach { r =>
        data.add(org.apache.spark.sql.Row(
          r.map(t => consts.getOrElse(t.get, -1L)): _*))
      }
      spark.createDataFrame(data, schema)
    case other => throw new IllegalStateException(s"not an ext block: $other")
  }

  /** Join two id frames on all their shared columns — plain long
    * equality, since every shared var is assured on both sides — or
    * cross join them when they share none. */
  private def naturalJoin(l: DataFrame, r: DataFrame): DataFrame = {
    val shared = l.columns.intersect(r.columns).toSeq
    if (shared.isEmpty) l.crossJoin(r) else l.join(r, shared)
  }

  // ----- id-space aggregation -----

  /** Every SPARQL aggregate over a plain variable stays in id space:
    * the groupBy shuffle carries long keys and only the (group-sized,
    * post-agg) key and witness columns decode through the dictionary.
    *  - COUNT/SAMPLE are representation-blind — COUNT(?v) counts bound
    *    rows (id NULL-ness ⇔ term NULL-ness) and the dict is a
    *    bijection, so distinct ids ⇔ distinct terms; SAMPLE may return
    *    ANY group value by spec, and a decoded first-id IS one.
    *  - MIN/MAX compare the SAME total-order sort key as the standard
    *    compiler, joined in from a dictionary projection (the key is
    *    injective on terms, so the id tiebreak is inert); only the
    *    group-sized winners decode.
    *  - SUM/AVG/GROUP_CONCAT — and ANY aggregate over a computed
    *    expression — genuinely consume term values, so their input
    *    variables hybrid-decode pre-agg and the value feeds the SHARED
    *    [[graft.sparql.Compiler.aggAccumulator]]; the group keys stay
    *    8-byte longs through the shuffle, and keys still decode only
    *    post-agg.
    *  - DISTINCT SUM/AVG transplants the standard compiler's pre-dedup
    *    side pass: the dedup runs on LONG tuples (for a plain var the
    *    id is the distinctness witness — bijection again) and only the
    *    already-deduplicated stream decodes for accumulation.
    * Only nested-EXISTS aggregate expressions fall back. */
  private val aggFuncs =
    Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")

  private def groupCountEligible(c: Op, keys: List[String],
                                 aggs: List[(String, AggE)]): Boolean =
    aggs.nonEmpty && idSource(c).isDefined &&
      keys.forall(Algebra.vars(c).contains) &&
      aggs.forall { case (_, a) =>
        aggFuncs.contains(a.func) &&
          (a.expr match {
            case None => a.func == "COUNT" // COUNT(*) / COUNT(DISTINCT *)
            case Some(e) => !hasExists(e) // any scalar expr hybrid-decodes
          })
      }

  /** Join the dictionary's sort key in for each of `vars` (as column
    * `__sk_<var>`): the dict side is a projection `(id, sortKey(term))`
    * computed on the fly — never persisted, so it always reflects the
    * session's time zone, exactly like the standard compiler's row-side
    * sortKey. LEFT OUTER for vars an OPTIONAL may have left NULL. */
  private def joinSortKeys(df0: DataFrame, vars: List[String],
                           nullable: Set[String]): DataFrame = {
    // a var whose term is ALREADY hybrid-decoded derives its sort key
    // from that column — one dict join per var, never two
    val (derivable, joinable) =
      vars.partition(v => df0.columns.contains(tvCol(v)))
    val joined = joinDictCols(df0, joinable, nullable,
      graft.sparql.TermFns.sortKey, skCol)
    derivable.foldLeft(joined)((d, v) =>
      d.withColumn(skCol(v), graft.sparql.TermFns.sortKey(col(tvCol(v)))))
  }

  private def skCol(v: String): String = s"__sk_$v"

  /** The variable `e` names when it is a bare reference to one of
    * `scope`'s vars — the keys and aggregate inputs that stay ids. */
  private def plainVar(e: Expr, scope: Set[String]): Option[String] = e match {
    case VarE(v) if scope.contains(v) => Some(v)
    case _ => None
  }

  /** One dict join per var, projecting `proj(term)` as `name(var)` —
    * LEFT OUTER where an OPTIONAL may have left the id NULL (unbound
    * stays unbound). Shared by late materialization ([[materialize]]:
    * the term replaces the id column), the term decode
    * ([[decodeVars]]) and the sort-key join ([[joinSortKeys]]), so the
    * three cannot drift. */
  private def joinDictCols(df0: DataFrame, vars: List[String],
                           nullable: Set[String], proj: Column => Column,
                           name: String => String): DataFrame = {
    var df = df0
    // ONE canonical dict-side subtree for every var (fixed alias
    // names; the per-var name is a rename ABOVE the join): the N
    // per-var joins then reference plan-identical subtrees, so
    // Spark's ReuseExchange materializes the dict scan + broadcast
    // hash relation ONCE per query instead of once per decoded var
    // (round-20: two full-dict broadcast builds per 2-var entry).
    val d = dict.select(col("id").as("__ji"), proj(col("term")).as("__jv"))
    vars.foreach { v =>
      df = df.join(d, col(v) === col("__ji"),
        if (nullable.contains(v)) "left_outer" else "inner")
        .drop("__ji", name(v)) // the id column itself when name(v) == v
        .withColumnRenamed("__jv", name(v))
    }
    df
  }

  private def compileGroupCountIds(c: Op, keys: List[String],
                                   aggs: List[(String, AggE)]): DataFrame = {
    val nullable = Algebra.vars(c) -- assuredVars(c)
    // fast paths that never touch term values: COUNT/SAMPLE over a
    // plain block var run on ids, MIN/MAX over one on dict sort keys
    def plain(a: AggE): Option[String] =
      a.expr.flatMap(plainVar(_, Algebra.vars(c)))
    // DISTINCT SUM/AVG takes the standard compiler's pre-dedup side
    // pass, transplanted to id space (see below)
    val (distAggs, aggs1) = aggs.partition { case (_, a) =>
      a.distinct && (a.func == "SUM" || a.func == "AVG") }
    val (countAggs, rest) = aggs1.partition { case (_, a) =>
      a.func == "COUNT" && (a.expr.isEmpty || plain(a).isDefined) }
    val (sampleAggs, rest2) = rest.partition { case (_, a) =>
      a.func == "SAMPLE" && plain(a).isDefined }
    val (mmAggs, valueAggs) = rest2.partition { case (_, a) =>
      (a.func == "MIN" || a.func == "MAX") && plain(a).isDefined }
    // SUM/AVG/GROUP_CONCAT — and ANY aggregate over a computed
    // expression — consume term values: hybrid-decode the referenced
    // vars and feed the standard ExprCompiler value into the SHARED
    // accumulator. Group keys stay longs either way.
    val mmVars = mmAggs.map(a => plain(a._2).get).distinct
    val valueVars = valueAggs
      .flatMap(a => a._2.expr.toList.flatMap(exprVars))
      .filter(Algebra.vars(c).contains).distinct
    // an eligible FILTER below the group stays in id space too: the
    // aggregation then groups long keys over the filtered frame and
    // only the GROUP results decode
    val df0 = idFrame(c)
    // value decode FIRST so joinSortKeys can derive a var's sort key
    // from its already-decoded term instead of a second dict join
    val df = joinSortKeys(decodeVars(df0, valueVars, nullable),
      mmVars, nullable)
    val tvEc = tvExprCompiler(df)
    def countCol(a: AggE): Column = a.expr match {
      case None =>
        if (a.distinct) count_distinct(struct(df.columns.map(col): _*))
        else count(lit(1))
      case Some(VarE(v)) =>
        if (a.distinct) count_distinct(col(v)) else count(col(v))
      case other => throw new IllegalStateException(s"not countable: $other")
    }
    val aggCols =
      countAggs.map { case (n, a) =>
        graft.sparql.TermFns.intTerm(countCol(a)).as(n) } ++
      sampleAggs.map { case (n, a) =>
        first(col(plain(a).get), ignoreNulls = true).as(n) // a member id
      } ++
      mmAggs.map { case (n, a) =>
        val v = plain(a).get
        // same shape as the standard compiler's min(struct(sortKey,
        // term)): NULL-out unbound rows so min/max skip them
        val kt = when(col(v).isNotNull,
          struct(col(skCol(v)).as("k"), col(v).as("t")))
        (if (a.func == "MIN") min(kt) else max(kt)).as(n)
      } ++
      valueAggs.map { case (n, a) =>
        Compiler.aggAccumulator(Some(tvEc.value(a.expr.get)), Nil, a).as(n)
      }
    var grouped = Compiler.groupPass(df, keys, aggCols)
    // DISTINCT SUM/AVG side pass in id space: dedup (long keys, value)
    // FIRST — for a plain var the value is its 8-byte id (the dict
    // bijection makes id-distinctness ≡ term-distinctness), decoded
    // after the dedup (LEFT OUTER — unbound contributes like standard);
    // for a computed expression the hybrid-evaluated term — then the
    // shared side pass aggregates and joins back on the long keys
    distAggs.foreach { case (n, a) =>
      val (deduped, value) = plain(a) match {
        case Some(v) =>
          (decodeVars(df0.select((keys :+ v).distinct.map(col): _*)
            .dropDuplicates(), List(v), Set(v)), col(tvCol(v)))
        case None =>
          val vs = a.expr.toList.flatMap(exprVars)
            .filter(Algebra.vars(c).contains).distinct
          val withTv = decodeVars(df0, vs, nullable)
          (withTv.select(keys.map(col) :+
            tvExprCompiler(withTv).value(a.expr.get).as("__v"): _*)
            .dropDuplicates(), col("__v"))
      }
      grouped = Compiler.joinSidePass(grouped, deduped, value, keys, n, a)
    }
    // unwrap the min/max witness to a bare id; finish value aggregates
    // to their term columns (shared finisher)
    val unwrapped0 = mmAggs.foldLeft(grouped) { case (d, (n, _)) =>
      d.withColumn(n, col(n).getField("t"))
    }
    val unwrapped = (valueAggs ++ distAggs).foldLeft(unwrapped0) {
      case (d, (n, a)) => d.withColumn(n, Compiler.aggFinish(col(n), a))
    }
    // keys AND witness ids decode; counts/value aggregates are already
    // terms. Witnesses decode LEFT OUTER: an all-NULL group has no
    // min/max and SAMPLE of it is unbound.
    materialize(unwrapped, keys ++ sampleAggs.map(_._1) ++ mmAggs.map(_._1),
      nullable ++ sampleAggs.map(_._1) ++ mmAggs.map(_._1),
      carry = countAggs.map(_._1) ++ valueAggs.map(_._1) ++ distAggs.map(_._1))
  }

  // ----- id-space ORDER BY + LIMIT (top-k with late decode) -----

  /** An op the id compiler can turn into a raw ID frame: an extended
    * block, or an eligible FILTER directly above one. The filter's
    * conjunct list rides along so a consumer can reason about what
    * survives it (the sidecar ORDER BY's class pin). */
  private def idSource(op: Op): Option[(Op, List[Expr])] = op match {
    case Filter(c, e) => filterEligible(c, e).map(cs => (c, cs))
    case b if isExtBlock(b) => Some((b, Nil))
    case _ => None
  }

  /** The raw id frame of an id source (see [[idSource]]). */
  private def idFrame(c: Op): DataFrame = idSource(c) match {
    case Some((base, conjs)) => filterIdsFrame(base, conjs)
    case None => throw new IllegalStateException(s"not an id source: $c")
  }

  /** Top-k over a block is id-expressible when every sort key is an
    * EXISTS-free scalar and the window is Int-sized: plain-variable
    * keys take their sort key from a dictionary projection, computed
    * keys hybrid-decode their variables and sort on
    * sortKey(ExprCompiler.value) — the same key the standard
    * compiler's ORDER BY builds. The sort total-orders (skey, id)
    * rows, the limit keeps offset+k of them, and the dictionary
    * decodes ONLY those — at scale this turns a full-result decode +
    * TakeOrdered over term structs into a TakeOrdered over longs plus
    * a k-row join. */
  private def orderSliceEligible(c: Op, keys: List[(Expr, Boolean)],
                                 off: Long, lim: Option[Long]): Boolean =
    idSource(c).isDefined && keys.nonEmpty &&
      keys.forall { case (e, _) => !hasExists(e) } &&
      lim.exists(l => off >= 0 && l >= 0 && off + l > 0 &&
        off + l <= Int.MaxValue)

  private def compileTopKIds(c: Op, keys: List[(Expr, Boolean)],
                             off: Long, lim: Long,
                             keep: List[String]): DataFrame = {
    val (base, conjs) = idSource(c).getOrElse(
      throw new IllegalStateException(s"not an id source: $c"))
    val nullable = Algebra.vars(base) -- assuredVars(base)
    val blockVars = Algebra.vars(base)
    // sidecar threshold top-k: when the PRIMARY sort key is a plain
    // object var with sidecar columns, the lexicographic order lets a
    // first-key boundary prune regardless of what the later keys are
    // — a row strictly worse than the k-th best on key 1 cannot enter
    // the top-k whatever its tie-breaks do
    val typedObjVars: Set[String] =
      if (hasSidecarSortCols && isBlock(base))
        allScans(base).flatMap(_.o match {
          case V(n) => Some(n); case _ => None
        }).toSet
      else Set.empty
    keys match {
      case (VarE(v), asc) :: _
        if blockVars.contains(v) && typedObjVars.contains(v) &&
          thresholdTopKEnabled(base) =>
        return compileThresholdTopK(base, conjs, v, asc, keys,
          off, lim, keep, nullable, blockVars)
      case _ => ()
    }
    finishTopK(filterIdsFrame(base, conjs), keys, off, lim, keep, nullable,
      blockVars)
  }

  /** The common top-k tail: join/derive REAL sort keys onto an id
    * frame, TakeOrdered off+lim rows, decode only those, re-establish
    * the order on the carried keys, slice. Shared by the plain id
    * top-k (whole frame) and the threshold top-k (boundary
    * candidates only). */
  private def finishTopK(df0: DataFrame, keys: List[(Expr, Boolean)],
                         off: Long, lim: Long, keep: List[String],
                         nullable: Set[String],
                         blockVars: Set[String]): DataFrame = {
    val sortVars = keys.flatMap(k => plainVar(k._1, blockVars)).distinct
    val exprKeys = keys.map(_._1).filter(plainVar(_, blockVars).isEmpty).distinct
    val keyVars = exprKeys.flatMap(exprVars)
      .filter(blockVars.contains).distinct
    // expr-var decode FIRST so joinSortKeys can derive a plain sort
    // var's key from its already-decoded term instead of a second join
    var df = joinSortKeys(decodeVars(df0, keyVars, nullable),
      sortVars, nullable)
    val tvEc = tvExprCompiler(df)
    val exprSk = exprKeys.zipWithIndex.map { case (e, i) =>
      e -> s"__ske_$i" }.toMap
    exprSk.foreach { case (e, n) =>
      df = df.withColumn(n, graft.sparql.TermFns.sortKey(tvEc.value(e))) }
    df = df.drop(keyVars.map(tvCol): _*)
    // NULL skey ⇔ unbound var; Spark's default NULLS FIRST (asc) /
    // NULLS LAST (desc) coincides with the standard compiler's rank-0
    // unbound row, which sorts before every bound term (computed keys
    // are never NULL — sortKey itself maps unbound to rank 0)
    def sortCols = keys.map { case (e, asc) =>
      val k = plainVar(e, blockVars).map(v => col(skCol(v)))
        .getOrElse(col(exprSk(e)))
      if (asc) k.asc else k.desc
    }
    val topIds = df.orderBy(sortCols: _*).limit((off + lim).toInt)
    // decode the k rows, re-establish the order on the CARRIED skeys
    // (materialization joins do not preserve row order), then slice
    val decoded = materialize(topIds, keep, nullable,
      carry = sortVars.map(skCol) ++ exprSk.values.toList)
    val ordered = decoded.orderBy(sortCols: _*)
      .select(keep.filter(decoded.columns.contains).map(col): _*)
    (if (off > 0) ordered.offset(off.toInt) else ordered).limit(lim.toInt)
  }

  /** Exact ORDER BY + LIMIT that never touches the dictionary until
    * ~k rows remain — the sidecar threshold top-k.
    *
    * Rows whose sort-key prefix the sidecar can RECONSTRUCT are
    * "known": numerics (rank 3 — `o_num` carries the same
    * decimal(38,12) the sort key's num field holds, the saturation
    * legs reproduce from `o_dbl`, with NaN and bad lexicals on
    * DEC_MIN exactly like TermMath.sortKey's Java-semantics
    * `NaN >= 0 == false` branch, which Spark's NaN-largest `>=` would
    * get wrong) and — under the UTC gate — well-formed date/dateTimes
    * (rank 4; num/dbl derive from `o_ts`, and ANY monotone rounding
    * of the epoch double preserves the embedding because the true num
    * is itself a monotone function of dbl there). Everything else
    * (strings, IRIs, booleans, malformed temporals: the sidecar holds
    * only NULLs for them) is "unknown" and becomes an UNCONDITIONAL
    * candidate — at most |non-comparable objects| extra rows, zero on
    * the warehouse shapes this exists for.
    *
    * Phase 1 takes the k-th best KNOWN surrogate of the PRIMARY key
    * as the boundary. Because the surrogate is an order-embedding of
    * the full primary sort key (which only appends lexical
    * tie-breaks), and the later keys only ever break primary-key
    * ties, every true top-k row either beats the boundary, ties it,
    * or is unknown. Phase 2 refilters the frame to `unknown OR key <=
    * boundary` (>= for DESC), hands the survivors to the common
    * [[finishTopK]] tail — which joins REAL sort keys for ALL the
    * query's keys on just those rows — re-sorts, and decodes: the
    * dict joins see k+ties+unknown rows instead of every row. Cost
    * shape at scale: two narrow scans (ids + three fixed-width
    * sidecar columns, filters pushed both times), one TakeOrdered
    * over longs, no full-frame shuffle or join anywhere before the
    * cut. */
  private def compileThresholdTopK(base: Op, conjs: List[Expr], v: String,
                                   asc: Boolean, keys: List[(Expr, Boolean)],
                                   off: Long, lim: Long, keep: List[String],
                                   nullable: Set[String],
                                   blockVars: Set[String]): DataFrame = {
    val df0raw = filterIdsFrame(base, conjs, keepTyped = Set(v))
    val DEC = graft.sparql.TermFns.DEC
    val satMax = lit(graft.functions.TermMath.decSatMaxBD).cast(DEC)
    val satMin = lit(graft.functions.TermMath.decSatMinBD).cast(DEC)
    // o_ts keys are usable only when the session zone matches the
    // encode zone (both UTC) — otherwise temporal rows fall back to
    // unknown, which stays exact, just with more candidates
    val tsUsable = df0raw.columns.contains(ttCol(v)) &&
      spark.sessionState.conf.sessionLocalTimeZone == "UTC"
    val tsCol = if (tsUsable) col(ttCol(v))
                else lit(null).cast(org.apache.spark.sql.types.TimestampType)
    val isNum = col(tcCol(v)) >= 1
    val known = isNum || tsCol.isNotNull
    val numKey =
      when(col(teCol(v)).isNotNull, col(teCol(v)))
        .when(isnan(col(tdCol(v))), satMin)
        .when(col(tdCol(v)) >= 0, satMax)
        .otherwise(satMin)
    val keyCols: Seq[Column] = Seq(
      when(isNum, lit(3)).otherwise(lit(4)),
      when(isNum, numKey)
        .otherwise(tsCol.cast(org.apache.spark.sql.types.DoubleType).cast(DEC)),
      when(isNum, coalesce(col(tdCol(v)), lit(Double.NegativeInfinity)))
        .otherwise(tsCol.cast(org.apache.spark.sql.types.DoubleType)))
    val kn = keyCols.indices.map(i => s"__thk_$i")
    var df = df0raw.withColumn("__thknown", known)
    kn.zip(keyCols).foreach { case (n, k) => df = df.withColumn(n, k) }
    df = df.drop(Seq(tcCol(v), tdCol(v), teCol(v), ttCol(v)): _*)
    val k1 = (off + lim).toInt
    val keyStruct = struct(kn.map(col): _*)
    // the boundary: the k-th best KNOWN surrogate — worst of the
    // phase-1 TakeOrdered under the sort direction. One bounded
    // driver fetch (a single aggregated row), so the threshold rides
    // into phase 2 as a LITERAL.
    val bRow = df.filter(col("__thknown")).select(keyStruct.as("k"))
      .orderBy(kn.map(n => if (asc) col(n).asc else col(n).desc): _*)
      .limit(k1)
      .agg((if (asc) max(col("k")) else min(col("k"))).as("b"))
      .head()
    val candCond =
      if (bRow.isNullAt(0)) !col("__thknown") // no known rows at all
      else {
        val b = bRow.getStruct(0)
        val bLit = struct(
          lit(b.getInt(0)).as(kn(0)),
          lit(b.getDecimal(1)).cast(DEC).as(kn(1)),
          lit(b.getDouble(2)).as(kn(2)))
        !col("__thknown") ||
          (if (asc) keyStruct <= bLit else keyStruct >= bLit)
      }
    val cand = df.filter(candCond).drop("__thknown").drop(kn: _*)
    finishTopK(cand, keys, off, lim, keep, nullable, blockVars)
  }

  /** Project-then-distinct on long tuples; the dict joins in after
    * the dedup, so it sees only surviving rows. An eligible FILTER
    * below the distinct stays in id space the same way. */
  private def compileDistinctIds(c: Op, vs: List[String]): DataFrame =
    materialize(idFrame(c).select(vs.map(col): _*).dropDuplicates(),
      vs, Algebra.vars(c) -- assuredVars(c))

  // ----- id-space FILTER [NOT] EXISTS -----

  /** Any [NOT] EXISTS anywhere inside a scalar expression — such a
    * conjunct needs the standard compiler's correlated-subpattern
    * machinery and blocks the hybrid decode. */
  private def hasExists(e: Expr): Boolean = e match {
    case _: ExistsE => true
    case FuncE(_, args) => args.exists(hasExists)
    case InE(x, l, _) => hasExists(x) || l.exists(hasExists)
    case AggE(_, _, eo, _) => eo.exists(hasExists)
    case _ => false
  }

  /** Decompose an EXISTS pattern that is a BGP join tree with
    * interior FILTERs into (the pure block, each filter conjunct
    * tagged with the variable scope of its position's child) —
    * the id-space mirror of the standard compiler's
    * [[graft.sparql.Compiler]] compileExists strip. The position
    * scope decides local-vs-correlated downstream AND gates
    * eligibility: a local conjunct that references a SIBLING
    * branch's variable would evaluate unbound at its position but
    * bound after the block join, so such patterns fall back. */
  private def stripFilters(op: Op): Option[(Op, List[(Expr, Set[String])])] =
    op match {
      case Filter(c, e) => stripFilters(c).map { case (c2, cs) =>
        (c2, cs ++ conjuncts(e).map(normalizeNotExists)
          .map(x => (x, Algebra.vars(c2))))
      }
      case Join(a, b) =>
        for ((a2, ca) <- stripFilters(a); (b2, cb) <- stripFilters(b))
          yield (Join(a2, b2), ca ++ cb)
      case s: Scan => Some((s, Nil))
      case _ => None
    }

  /** An EXISTS pattern the id path can run: strips to a pure block
    * whose shared vars with the outer child are assured there, with
    * every stripped conjunct an EXISTS-free scalar that does not
    * reach outside its position scope except toward the OUTER query
    * (the correlated case — those evaluate on the merged row inside
    * the semi/anti join, exactly like the standard compiler's lifted
    * conjuncts). */
  private def existsEligible(c: Op, p: Op): Boolean =
    stripFilters(p).exists { case (cleaned, tagged) =>
      val shared = Algebra.vars(c).intersect(Algebra.vars(cleaned))
      shared.nonEmpty && shared.subsetOf(assuredVars(c)) &&
        tagged.forall { case (e, scope) =>
          !hasExists(e) && {
            val siblingRefs =
              (exprVars(e) -- scope).intersect(Algebra.vars(cleaned))
            val correlated =
              (exprVars(e) -- scope).intersect(Algebra.vars(c)).nonEmpty
            // correlated conjuncts evaluate post-join over the full
            // scope (sibling refs included, same as the standard
            // env); a LOCAL one evaluates at its position, so any
            // sibling reference would diverge — fall back
            correlated || siblingRefs.isEmpty
          }
        }
    }

  /** FILTER conditions the id-space path can take whole — every
    * conjunct must be one of:
    *  - [NOT] EXISTS over a BGP (with optional interior scalar
    *    FILTERs, correlated or not — see [[existsEligible]]) sharing
    *    ≥1 assured var with the (extended-block) child → a long
    *    semi/anti join; correlated conjuncts join the condition on
    *    hybrid-decoded term columns, the exact shape the standard
    *    compiler uses on term structs;
    *  - a term-IDENTITY scalar test: `sameTerm(x, y)` for any
    *    operands (sameTerm IS term identity, i.e. id equality), or
    *    `=` between a variable and a constant IRI. The IRI
    *    restriction matters: IRIs have no value-space aliasing,
    *    whereas "1"^^xsd:int = "01"^^xsd:int holds across DIFFERENT
    *    terms, so literal `=` is NOT id equality. The error cases
    *    coincide too: `=` on an unbound var or a literal/IRI mix
    *    errors → row dropped, exactly what a NULL/failed id equality
    *    does. These stay long predicates on the scan;
    *  - ANY other scalar expression without a nested EXISTS — the
    *    HYBRID decode: only the variables the condition references
    *    join their terms back in (id → term, a dict-sized side), the
    *    predicate evaluates through the SAME ExprCompiler.bool the
    *    standard compiler uses (so value-space equality, comparisons,
    *    casts, regex, error→NULL→drop are identical by construction),
    *    and the term columns drop again before any downstream join.
    *    At scale this filters early over longs-plus-one-term instead
    *    of forcing the whole query back onto term structs. */
  private def filterEligible(c: Op, cond: Expr): Option[List[Expr]] = {
    val cs = conjuncts(cond).map(normalizeNotExists)
    val ok = cs.nonEmpty && isExtBlock(c) && cs.forall {
      case ExistsE(p, _) => existsEligible(c, p)
      case e => idPred(c, e) || !hasExists(e)
    }
    if (ok) Some(cs) else None
  }

  /** Decode term columns for `vars` (as `__tv_<var>`) so a scalar
    * condition can evaluate in the middle of an id-space pipeline. */
  private def decodeVars(df0: DataFrame, vars: List[String],
                         nullable: Set[String]): DataFrame =
    joinDictCols(df0, vars.filterNot(v => df0.columns.contains(tvCol(v))),
      nullable, identity, tvCol)

  private def tvCol(v: String): String = s"__tv_$v"

  /** ExprCompiler whose variables resolve to the `__tv_` decoded term
    * columns (vars without one are unbound, exactly like the standard
    * compiler's missing-column case). */
  private def tvExprCompiler(df: DataFrame): ExprCompiler =
    new ExprCompiler(n =>
      if (df.columns.contains(tvCol(n))) col(tvCol(n))
      else graft.sparql.TermFns.nullTerm)

  // ----- typed-sidecar FILTER fast path -----
  // Numeric/temporal comparisons of an object-position variable
  // against a CONSTANT evaluate on the sidecar columns persisted at
  // encode (o_cls/o_dbl/o_dec/o_ts) — zero dict joins, and the
  // resulting predicates are plain column comparisons Spark pushes
  // into the parquet scan. Boolean algebra is kept branch-equal to
  // TermMath.valueCmp/valueEq: exact-exact compares decimal(38,12),
  // any-float compares full-precision doubles (Spark's NaN-largest /
  // -0.0=0.0 ordering IS Double.compare's), every error leg lands on
  // NULL or FALSE — both drop, like the hybrid's error→drop. The
  // constant pins the comparable class, which is what makes this
  // safe: var-var forms (strings? booleans?) and `!=` (an IRI != 5
  // is TRUE under RDFterm-equal, but a sidecar NULL would drop it)
  // stay on the hybrid path.
  private def tcCol(v: String): String = s"__tc_$v"
  private def tdCol(v: String): String = s"__td_$v"
  private def teCol(v: String): String = s"__te_$v"
  private def ttCol(v: String): String = s"__tt_$v"

  /** Whether ORDER BY + LIMIT should take the threshold path. The
    * threshold's win is avoiding the dict sort-key JOIN before the
    * cut — which only matters when the dict side would NOT broadcast;
    * when it fits under `autoBroadcastJoinThreshold` the plain top-k
    * is one broadcast-join job, strictly cheaper than the threshold's
    * extra boundary job and second scan. So `auto` (the default)
    * mirrors Spark's own broadcast decision on the dict's plan-stats
    * size — AND requires a single-scan base block: phase 1's boundary
    * job re-executes the id frame, so a multi-scan block pays its
    * star join TWICE, which the round-14 30× measurement showed
    * costs more than the avoided dict join (TOPK_REGIME_r14.json:
    * shuffle.multi_key_decode always 2.59 s vs never 2.18 s, while
    * shuffle.single_key is parity-to-win and the win grows with dict
    * size). `spark.graft.topk.threshold` = always/never overrides —
    * the differential specs and the scale-path battery entry pin the
    * threshold machinery with `always` regardless of toy dict sizes. */
  private def thresholdTopKEnabled(base: Op): Boolean =
    spark.conf.get("spark.graft.topk.threshold", "auto") match {
      case "always" => true
      case "never" => false
      case _ =>
        val bt = spark.sessionState.conf.autoBroadcastJoinThreshold
        (bt <= 0 || dictSizeEstimate > BigInt(bt)) &&
          allScans(base).size == 1
    }
  private lazy val dictSizeEstimate: BigInt =
    dict.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The sidecar decimal column: v5 stores persist `o_num` (decimal
    * for ANY numeric — the name doubles as the layout-version
    * signal), v4 the exact-only `o_dec`. The FILTER fast path works
    * on both (its exact-exact branch only reads cls-1 rows, where the
    * two are identical); the sidecar ORDER BY fast path needs the
    * float rows' decimals and is gated on [[hasSidecarSortCols]]. */
  private def decColName: String =
    if (idQuads.columns.contains("o_num")) "o_num" else "o_dec"
  private def hasSidecarSortCols: Boolean =
    idQuads.columns.contains("o_num")
  /** v6 stores also persist the typed sidecar for the SUBJECT
    * position (`s_cls`/`s_dbl`/`s_num`, plus `s_ts` on UTC encodes —
    * `s_num` is the version signal): generalized-RDF literal subjects
    * get the same join-free scan-pushed FILTER path as objects. */
  private def hasSubjSidecar: Boolean =
    idQuads.columns.contains("s_num")

  /** Vars a typed FILTER conjunct may target inside `b`: every
    * object-position scan var (v4+), plus subject-position scan vars
    * on v6 stores. A var bound in either position carries the same
    * TERM, so either sidecar yields the identical comparable value —
    * the claim in [[idsOf]] just picks one source per var. */
  private def typedSidecarVars(b: Op): Set[String] =
    if (idQuads.columns.contains("o_dbl") && isBlock(b))
      allScans(b).flatMap { sc =>
        (sc.o match { case V(n) => List(n); case _ => Nil }) ++
          (sc.s match {
            case V(n) if hasSubjSidecar => List(n); case _ => Nil
          })
      }.toSet
    else Set.empty

  /** (var, op, constant literal, constIsLeftOperand) when `e` has the
    * typed-comparable shape. `=` is included (numeric-equal /
    * dateTime-equal are the only hybrid branches a numeric/temporal
    * constant can reach with TRUE); `!=` is NOT (see above). */
  private def typedShape(e: Expr): Option[(String, String, graft.rdf.Lit, Boolean)] =
    e match {
      case FuncE(op @ ("<" | "<=" | ">" | ">=" | "="),
                 List(VarE(v), ConstE(t: graft.rdf.Lit))) =>
        Some((v, op, t, false))
      case FuncE(op @ ("<" | "<=" | ">" | ">=" | "="),
                 List(ConstE(t: graft.rdf.Lit), VarE(v))) =>
        Some((v, op, t, true))
      case _ => None
    }

  private def typedEligible(e: Expr, objVars: Set[String]): Boolean =
    typedShape(e).exists { case (v, _, t, _) =>
      objVars.contains(v) && (
        graft.rdf.XSD.numeric.contains(t.dt) ||
          ((t.dt == graft.rdf.XSD.date || t.dt == graft.rdf.XSD.dateTime) &&
            idQuads.columns.contains("o_ts") &&
            spark.sessionState.conf.sessionLocalTimeZone == "UTC"))
    }

  /** Compile a typed-eligible conjunct against the carried sidecar
    * columns (see [[typedEligible]] for the semantics argument). */
  private def typedCond(e: Expr): Column = {
    val (v, op, t, constLeft) = typedShape(e).getOrElse(
      throw new IllegalStateException(s"not typed-eligible: $e"))
    def cmp(a: Column, b: Column): Column = op match {
      case "<" => a < b
      case "<=" => a <= b
      case ">" => a > b
      case ">=" => a >= b
      case "=" => a === b
    }
    def vc(varSide: Column, constSide: Column): Column =
      if (constLeft) cmp(constSide, varSide) else cmp(varSide, constSide)
    val cls = col(tcCol(v))
    if (graft.rdf.XSD.numeric.contains(t.dt)) {
      val cDbl = lit(t.lex).try_cast(DoubleType)
      if (graft.rdf.XSD.exactNumeric.contains(t.dt)) {
        val cDec = lit(t.lex).try_cast(graft.sparql.TermFns.DEC)
        (cls === 2 && vc(col(tdCol(v)), cDbl)) ||
          (cls === 1 && vc(col(teCol(v)), cDec))
      } else // float constant: any numeric var compares as double
        cls >= 1 && vc(col(tdCol(v)), cDbl)
    } else // date/dateTime constant (zone gated in typedEligible)
      vc(col(ttCol(v)), lit(t.lex).try_cast(TimestampType))
  }

  private def compileFilterIds(child: Op, conjs: List[Expr],
                               keep: List[String]): DataFrame =
    materialize(filterIdsFrame(child, conjs), keep,
      Algebra.vars(child) -- assuredVars(child))

  /** Everything [[compileFilterIds]] does short of the final decode:
    * the filtered ID frame, for consumers that keep working in id
    * space above the filter (top-k, group-by). `keepTyped` names vars
    * whose sidecar columns (`__tc_/__td_/__te_/__tt_`) must survive on
    * the frame (sidecar ORDER BY keys) instead of being dropped after
    * the typed conjuncts apply. */
  private def filterIdsFrame(child: Op, conjs: List[Expr],
                             keepTyped: Set[String] = Set.empty): DataFrame = {
    val (existsConjs, scalarConjs) = conjs.partition(_.isInstanceOf[ExistsE])
    // term-identity predicates run as long comparisons ON THE SCAN;
    // numeric/temporal comparisons against a constant run on the
    // TYPED OBJECT SIDECAR (zero dict joins, parquet-pushable);
    // everything else is a hybrid conjunct evaluated on decoded terms
    val (idConjs, rest) = scalarConjs.partition(idPred(child, _))
    val typedObjVars: Set[String] = typedSidecarVars(child)
    val (typedConjs, hybridConjs) =
      rest.partition(typedEligible(_, typedObjVars))
    val typedVars = typedConjs.flatMap(typedShape).map(_._1).distinct.toSet ++
      (keepTyped intersect typedObjVars)
    val condTerms = conjs.flatMap {
      case ExistsE(p, _) => scanConstTerms(allScans(p))
      case FuncE(_, args) => args.collect { case ConstE(t) => t }
      case _ => Nil
    }
    val consts = constIdsOf((scanConstTerms(allScans(child)) ++
      condConstTerms(child) ++ condTerms).distinct)
    val nullable = Algebra.vars(child) -- assuredVars(child)
    var df = idsOf(child, consts, typedVars)
    idConjs.foreach {
      case FuncE(_, List(a, b)) =>
        df = df.filter(idOperand(a, consts) === idOperand(b, consts))
      case other => throw new IllegalStateException(s"not id-expressible: $other")
    }
    typedConjs.foreach(e => df = df.filter(typedCond(e)))
    if (typedVars.nonEmpty)
      df = df.drop((typedVars -- keepTyped).toSeq.flatMap(v =>
        Seq(tcCol(v), tdCol(v), teCol(v), ttCol(v))): _*)
    if (hybridConjs.nonEmpty) {
      val condVars = hybridConjs.flatMap(exprVars)
        .filter(Algebra.vars(child).contains).distinct
      val decoded = decodeVars(df, condVars, nullable)
      val ec = tvExprCompiler(decoded)
      df = decoded.filter(hybridConjs.map(ec.bool).reduce(_ && _))
        .drop(condVars.map(tvCol): _*)
    }
    existsConjs.foreach {
      case ExistsE(p, negated) =>
        val (cleaned, tagged) = stripFilters(p).getOrElse(
          throw new IllegalStateException(s"ineligible EXISTS pattern: $p"))
        val cleanedVars = Algebra.vars(cleaned)
        val leftVars = Algebra.vars(child)
        // the standard compiler's partition rule: a conjunct reaching
        // outside its position scope toward the outer query lifts
        // into the join condition; everything else filters the
        // subpattern at its position (eligibility guaranteed no
        // local conjunct references a sibling branch, so evaluating
        // locals on the joined block frame is position-equivalent)
        val (corr, local) = tagged.partition { case (e, scope) =>
          (exprVars(e) -- scope).intersect(leftVars).nonEmpty
        }
        var pd = idsOf(cleaned, consts)
        if (local.nonEmpty) {
          val lv = local.flatMap(t => exprVars(t._1))
            .filter(cleanedVars.contains).distinct
          val dec = decodeVars(pd, lv, Set.empty) // pure block: assured
          val ec = tvExprCompiler(dec)
          pd = dec.filter(local.map(t => ec.bool(t._1)).reduce(_ && _))
            .drop(lv.map(tvCol): _*)
        }
        if (corr.isEmpty) {
          val shared = df.columns.intersect(pd.columns).toSeq
          df = df.join(pd.select(shared.map(col): _*), shared,
            if (negated) "left_anti" else "left_semi")
        } else {
          // correlated semi/anti join: long equality on the shared
          // assured vars carries the join, the lifted conjuncts
          // evaluate on hybrid-decoded term columns from BOTH frames
          // (sub side wins name resolution, like the standard env)
          val corrEs = corr.map(_._1)
          val corrVars = corrEs.flatMap(exprVars).distinct
          val subCorrVars = corrVars.filter(cleanedVars.contains)
          val outerCorrVars = corrVars.filter(v =>
            !cleanedVars.contains(v) && df.columns.contains(v))
          val shared = df.columns.intersect(pd.columns).toSeq
          val pdD = decodeVars(pd, subCorrVars, Set.empty)
          val dfD = decodeVars(df, outerCorrVars, nullable)
          val pdR = pdD.columns.foldLeft(pdD)((d, v) =>
            d.withColumnRenamed(v, s"__ex_$v"))
          val keyConds = shared.map(v => dfD(v) === pdR(s"__ex_$v"))
          val ec = new ExprCompiler(n =>
            if (pdD.columns.contains(tvCol(n))) pdR(s"__ex_${tvCol(n)}")
            else if (dfD.columns.contains(tvCol(n))) dfD(tvCol(n))
            else graft.sparql.TermFns.nullTerm)
          val joinCond = (keyConds ++ corrEs.map(ec.bool)).reduce(_ && _)
          df = dfD.join(pdR, joinCond,
            if (negated) "left_anti" else "left_semi")
            .drop(outerCorrVars.map(tvCol): _*)
        }
      case other => throw new IllegalStateException(s"not an EXISTS: $other")
    }
    df
  }

  /** BIND in id space: decode the expression's variables, compute the
    * bound TERM column on the id frame (same ExprCompiler value as the
    * standard compiler's Extend), drop the decoded inputs, and late-
    * materialize everything else. The computed column is already a
    * term, so it rides through [[materialize]] as `carry`. */
  private def compileExtendIds(c: Op, n: String, e: Expr,
                               keep: List[String]): DataFrame = {
    val nullable = Algebra.vars(c) -- assuredVars(c)
    val condVars = exprVars(e).toList.filter(Algebra.vars(c).contains)
    val df = decodeVars(filterIdsFrame(c, Nil), condVars, nullable)
    val bound = df.withColumn(n, tvExprCompiler(df).value(e))
      .drop(condVars.map(tvCol): _*)
    materialize(bound, keep.filterNot(_ == n), nullable,
      carry = if (keep.contains(n)) List(n) else Nil)
  }

  /** Every Scan leaf of an extended block (constant-lookup scope). */
  private def allScans(op: Op): List[Scan] = op match {
    case s: Scan => List(s)
    case Join(l, r) => allScans(l) ++ allScans(r)
    case LeftJoin(l, r, _) => allScans(l) ++ allScans(r)
    case Minus(l, r) => allScans(l) ++ allScans(r)
    case Union(l, r) => allScans(l) ++ allScans(r)
    case Filter(c, _) => allScans(c)
    case _ => Nil
  }

  private def scanConstTerms(leaves: List[Scan]): List[Term] =
    leaves.flatMap { sc =>
      List(sc.s, sc.p, sc.o).collect { case T(t) => t } ++
        (sc.g match { case GraphTerm(t) => List(t); case _ => Nil })
    }.distinct

  /** One driver-side dict lookup for ALL constants of the block: a
    * single filtered scan of the dictionary (pushable term-struct
    * equality), collected to a Map. A constant absent from the dict
    * maps to id -1, which no quad carries — the scan legitimately
    * returns empty. */
  private def constIdsOf(terms: List[Term]): Map[Term, Long] =
    if (terms.isEmpty) Map.empty
    else lookupFrame(terms).collect().flatMap { r =>
      TermSchema.fromRow(r.getStruct(0)).map(_ -> r.getLong(1))
    }.toMap

  /** The (term, id) rows for a constant set, as a pruned dict scan.
    * Term equality is decomposed into LEAF-field predicates
    * (kind/lex/dt/lang conjunctions, OR'd per constant): unlike
    * whole-struct equality — which Spark lists as pushed but parquet
    * cannot evaluate against row-group statistics — every leaf
    * comparison is genuinely parquet-prunable, so on a lex-clustered
    * dictionary (both ingest paths range-partition + sort by
    * `term.lex`) the per-query driver lookup touches the few row
    * groups whose lex range covers the constants instead of scanning
    * the term-count-sized dictionary. Bucketed stores read the
    * lex-clustered `dict_by_lex` sidecar (same ids — phase 2
    * re-buckets the same frozen rows); the id-bucketed table itself
    * has no lex locality. */
  private[graft] def lookupFrame(terms: List[Term]): DataFrame = {
    import graft.rdf.{BNode, Iri, Lit, TermKind}
    def leafEq(t: Term): Column = {
      val (kind, dt, lang) = t match {
        case _: Iri => (TermKind.IRI, "", "")
        case _: BNode => (TermKind.BNODE, "", "")
        case l: Lit => (TermKind.LITERAL, l.dt, l.lang)
      }
      col("term.kind") === lit(kind) && col("term.lex") === lit(t.lex) &&
        col("term.dt") === lit(dt) && col("term.lang") === lit(lang)
    }
    lookupDict.getOrElse(dict)
      .filter(terms.map(leafEq).reduce(_ || _))
      .select(col("term"), col("id"))
  }

  /** One quad-pattern scan over the long-encoded table: constant
    * positions filter as long equality (pushed to parquet, pruned by
    * the (p,s)-sorted layout), variables project as long columns named
    * by the variable, repeated variables equate positionally. */
  private def scanIds(sc: Scan, consts: Map[Term, Long],
                      typedVar: Option[String] = None,
                      typedSubjVar: Option[String] = None): DataFrame = {
    def id(t: Term): Long = consts.getOrElse(t, -1L)
    var df = scopedIds(sc.g, id)
    Seq("s" -> sc.s, "p" -> sc.p, "o" -> sc.o).foreach {
      case (c, T(t)) => df = df.filter(col(c) === lit(id(t)))
      case _ => ()
    }
    val varPos = Algebra.scanVarPositions(sc.s, sc.p, sc.o, sc.g)
    Algebra.repeatedVarPairs(varPos).foreach { case (c1, c2) =>
      df = df.filter(col(c1) === col(c2))
    }
    // typed sidecar carry: project the object (or, on v6 stores,
    // subject) value columns under per-var names so a typed FILTER
    // evaluates right above this scan. Both positions' sidecars hold
    // the same function of the TERM, so a var may be fed from either
    // binding — the per-var column names make the source transparent
    // to typedCond.
    val typedCols = typedVar.toSeq.flatMap { n =>
      Seq(col("o_cls").as(tcCol(n)), col("o_dbl").as(tdCol(n)),
        col(decColName).as(teCol(n))) ++
        (if (idQuads.columns.contains("o_ts"))
          Seq(col("o_ts").as(ttCol(n))) else Nil)
    } ++ typedSubjVar.toSeq.flatMap { n =>
      Seq(col("s_cls").as(tcCol(n)), col("s_dbl").as(tdCol(n)),
        col("s_num").as(teCol(n))) ++
        (if (idQuads.columns.contains("s_ts"))
          Seq(col("s_ts").as(ttCol(n))) else Nil)
    }
    df.select(Algebra.firstOccurrence(varPos)
      .map { case (n, c) => col(c).as(n) }.toIndexedSeq ++ typedCols: _*)
  }

  /** Late materialization: swap each kept long column for its term
    * struct via one dict join per variable (inner — every id in the
    * store exists in the dict by construction; LEFT OUTER for vars an
    * OPTIONAL may have left NULL, preserving the row with an unbound
    * term). Pruned variables' long columns are dropped entirely. At
    * extreme scale the dict side of these joins should be a bucketed
    * table on `id`; with plain parquet AQE picks broadcast when the
    * dict is small enough. */
  private def materialize(idDf: DataFrame, keep: List[String],
                          nullable: Set[String] = Set.empty,
                          carry: List[String] = Nil): DataFrame = {
    val df = joinDictCols(idDf, keep.filter(idDf.columns.contains), nullable,
      identity, identity)
    // `carry`: already-term columns to keep as-is (aggregate outputs)
    df.select((keep.filter(df.columns.contains) ++ carry).map(col): _*)
  }
}

object DictStore {
  import graft.sparql.QuadsStats
  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.{Path => HPath}

  /** Output file size every plain-layout store write aims for (a
    * constant, not a setting). A fixed `shuffle.partitions`-way write
    * scattered a 6 MB store over 32 ~180 KB files of ~12 row groups
    * each; every later scan then paid 32 tasks x per-task reader setup
    * x 12 per-row-group inits — measured 4.2x the CPU of the same scan
    * over sensibly sized files. */
  private val TargetFileBytes = 128L * 1024 * 1024

  /** Scale-adaptive write partition count for the PLAIN store layouts:
    * the optimizer's size estimate of `df` over [[TargetFileBytes]],
    * through the one sizing rule ([[Layout.fileCount]]), clamped to
    * [1, shuffle.partitions]. At scale the estimate grows and the
    * count rises toward shuffle.partitions, so production stores keep
    * many target-sized files. Bucketed layouts are untouched — their
    * bucket count is the layout contract that buys shuffle-free
    * joins. */
  private def sizedParts(df: DataFrame): Int =
    Layout.fileCount(df.queryExecution.optimizedPlan.stats.sizeInBytes,
      TargetFileBytes,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** The plain quads layout: hash(p, s) partitions, (p, s)-sorted. */
  private def psSorted(df: DataFrame, parts: Int): DataFrame =
    df.repartition(parts, col("p"), col("s")).sortWithinPartitions("p", "s")

  /** The lex-clustered dict layout: range-partitioned and sorted by
    * `term.lex`, so files carry tight lex min/max for lookup pruning
    * (see [[DictStore.lookupFrame]]). */
  private def lexSorted(df: DataFrame, parts: Int): DataFrame =
    df.repartitionByRange(parts, col("term.lex"))
      .sortWithinPartitions(col("term.lex"))

  /** One-time ingest into the PLAIN layout: build the dictionary over
    * every distinct term of `quads`, encode the four positions to long
    * ids, and persist both under `path`. The four encode joins are the
    * one-time cost that buys every later query its narrow joins; AQE
    * broadcasts the dict side when it fits. [[encodeBucketed]] is the
    * other layout; every later operation ([[load]], [[append]],
    * [[compact]]) reads the layout from the store itself. */
  def encode(quads: DataFrame, path: String): DictStore = {
    val spark = quads.sparkSession
    // everything downstream (including the quads encode below) reads
    // the PERSISTED dict, so ids are frozen before use — see [[writeIds]]
    writeIds(distinctTerms(quads), 0L, s"$path/dict", SaveMode.Overwrite)
    Layout.storeWriter(psSorted(encodeIds(quads, spark.read.parquet(s"$path/dict")),
      sizedParts(quads)), SaveMode.Overwrite).parquet(s"$path/quads")
    // ANALYZE at ingest: per-predicate stats for cost-based join
    // ordering, persisted as a sidecar so every later load gets them
    // free (the one groupBy here is noise next to the encode joins)
    QuadsStats.write(spark, QuadsStats.compute(quads), s"$path/stats")
    // a plain re-encode over a former bucketed store drops its marker,
    // so the layout dispatch sees what was just written
    val (fs, marker) = hadoopFs(spark, s"$path/bucketed.json")
    fs.delete(marker, false)
    load(spark, path)
  }

  /** Every distinct term of the four quad positions (NULL g is the
    * default graph, not a term). Shared by both ingest layouts. */
  private def distinctTerms(quads: DataFrame): DataFrame =
    quads.select(col("s").as("term"))
      .unionByName(quads.select(col("p").as("term")))
      .unionByName(quads.select(col("o").as("term")))
      .unionByName(quads.filter(col("g").isNotNull).select(col("g").as("term")))
      .distinct()

  /** The one id-freezing dict writer ([[encode]], [[encodeBucketed]],
    * [[append]]): `terms` lex-clustered ([[lexSorted]]) into files sized
    * from the terms frame itself (not the quads batch), with ids
    * `base + monotonically_increasing_id` assigned INSIDE the write
    * stage and written to `out`. CRITICAL: no shuffle may sit between
    * the id assignment and the write — the assignment stage must BE
    * the write stage, so each task's (id, term) file is internally
    * consistent and exactly one attempt per task commits;
    * monotonically_increasing_id's task-retry nondeterminism can then
    * never produce two views of the same id space. (The lex range
    * partition and sort sit BEFORE the assignment inside that same
    * stage.) */
  private def writeIds(terms: DataFrame, base: Long, out: String,
                       mode: SaveMode): Unit =
    Layout.storeWriter(lexSorted(terms, sizedParts(terms))
      .select((monotonically_increasing_id() + lit(base)).as("id"),
        col("term")), mode).parquet(out)

  /** The four encode joins against a FROZEN dict (s/p/o inner, g left
    * outer), plus the TYPED OBJECT SIDECAR: four narrow columns
    * carrying the object literal's comparable value so numeric and
    * temporal FILTER conditions run in id space with ZERO dict joins
    * — and, because they are plain typed columns, push into the
    * parquet scan as row-group filters (the round-11 #6 item).
    *
    *  - `o_cls` 0 = not numeric, 1 = exact (integer/decimal family),
    *    2 = float/double — mirrors TermMath.numClass, which picks
    *    decimal vs double comparison semantics;
    *  - `o_dbl` Spark double cast of the lexical for ANY numeric
    *    (full-precision — NOT derived from o_dec, whose scale-12
    *    rounding would diverge from parseDouble on long fractions);
    *  - `o_num` decimal(38,12) cast for ANY numeric (NULL on
    *    overflow/bad lexical — exactly TermSortKey's saturation
    *    condition; v4 stores wrote the exact-only `o_dec`, which
    *    still serves the FILTER fast path but not ORDER BY);
    *  - `o_ts` timestamp for date/dateTime literals, cast in the
    *    ENCODE session's zone — the compile side only uses it when
    *    the query session zone matches (both pinned UTC here).
    *
    * Cost at 100 TB: fixed-width nullable columns, NULL for every
    * IRI/string object, so they RLE to near nothing and column
    * pruning skips them unless a filter references them. Stores
    * written before this sidecar existed load fine — the fast path
    * just stays off ([[DictStore.hasTypedCols]]). */
  private def encodeIds(quads: DataFrame, dict: DataFrame): DataFrame = {
    import graft.sparql.TermFns
    def d(i: Int) = dict.select(col("id").as(s"__ei$i"), col("term").as(s"__et$i"))
    val o = col("__et2")
    val sb = col("__et0")
    // o_ts/s_ts are only written when the encode session zone is UTC:
    // a zone-less date lexical casts differently per zone, and an
    // ABSENT column (fast path off) is honest where an all-NULL one
    // would wrongly drop rows at query time
    val tsCols =
      if (quads.sparkSession.sessionState.conf.sessionLocalTimeZone == "UTC")
        Seq(TermFns.ts(o).as("o_ts"), TermFns.ts(sb).as("s_ts"))
      else Nil
    def clsOf(t: Column): Column =
      when(TermFns.isFloating(t), lit(2))
        .when(TermFns.isExactNumeric(t), lit(1))
        .otherwise(lit(0)).cast("int")
    quads
      .join(d(0), col("s") === col("__et0"))
      .join(d(1), col("p") === col("__et1"))
      .join(d(2), col("o") === col("__et2"))
      .join(d(3), col("g") === col("__et3"), "left_outer")
      .select(Seq(col("__ei0").as("s"), col("__ei1").as("p"),
        col("__ei2").as("o"), col("__ei3").as("g"),
        clsOf(o).as("o_cls"),
        TermFns.numD(o).as("o_dbl"),
        // v5: decimal for ANY numeric (v4 wrote exact-only as o_dec —
        // the column NAME is the layout version signal: o_num stores
        // additionally support the sidecar ORDER BY fast path, whose
        // sort key needs the float rows' decimals too)
        TermFns.numDec(o).as("o_num"),
        // v6: the SAME sidecar for the SUBJECT position (s_num is the
        // version signal). Generalized-RDF quads can carry literal
        // subjects, and the reference scans-and-filters every pattern
        // position identically — these three (plus s_ts above) give
        // numeric/temporal subject FILTERs the identical zero-dict-
        // join, parquet-pushed fast path objects got in v5. On plain
        // IRI-subject corpora they are all-NULL fixed-width columns:
        // they RLE to nothing and column pruning skips them unless a
        // filter references them — the same 100 TB cost argument as
        // the object sidecar.
        clsOf(sb).as("s_cls"),
        TermFns.numD(sb).as("s_dbl"),
        TermFns.numDec(sb).as("s_num")) ++
        tsCols: _*)
  }

  /** Open a persisted store of either layout: the layout comes from
    * the store itself ([[bucketCount]]). A bucketed store re-attaches
    * its catalog tables if this session lacks them ([[table]]) and
    * keeps its lex-clustered lookup sidecar (absent on stores written
    * before it existed — the bucketed table answers lookups unpruned
    * then). The stats sidecar is optional: stores written before
    * ANALYZE-at-ingest still load, with structural ordering. */
  def load(spark: SparkSession, path: String): DictStore = {
    val buckets = bucketCount(spark, path)
    new DictStore(spark,
      table(spark, path, "dict", buckets), table(spark, path, "quads", buckets),
      readStats(spark, path),
      if (buckets.isEmpty) None
      else try Some(spark.read.parquet(s"$path/dict_by_lex"))
      catch { case _: org.apache.spark.sql.AnalysisException => None })
  }

  /** Incremental ingest into a store of either layout: append `quads`
    * to the persisted store at `path` WITHOUT rewriting what's there —
    * the 100 TB maintenance op for a growing corpus. Terms already in
    * the dictionary keep their ids; unseen terms get fresh ids ABOVE
    * the current ceiling through the same id-freezing writer as
    * [[encode]] ([[writeIds]] with the ceiling as base), written as NEW
    * dict files (into `dict_by_lex` for a bucketed store). The encoded
    * quads (typed sidecar included) land as new files under the
    * layout's partition scheme — batch-sized toward the constant
    * 128 MB file target for the plain layout, one file per bucket for
    * the bucketed one — and the stats sidecar merges additively
    * ([[QuadsStats.merge]] — counts exact, ndv union-bounded). Queries
    * against the appended store match a from-scratch encode of the
    * union exactly: ids differ, results cannot, because ids never
    * leave the store.
    *
    * Bucketed stores take a second phase: the frozen new dict rows
    * route into the id-bucketed dict table and the encoded quads into
    * the s-bucketed quads table as APPENDED bucket files. Spark keeps
    * bucket pruning and shuffle-free joins across appends; with more
    * than one file per bucket it just stops assuming per-bucket
    * sortedness, which [[compact]] restores (offline: compaction is
    * not atomic for concurrent readers, and a re-run after a crash
    * restores the pre-compaction copy).
    *
    * Crash consistency is job-granular and self-healing: a dict
    * append that committed without its quads append is re-absorbed on
    * retry (the anti-join finds those terms present and reuses their
    * ids; the bucketed phase 2 derives its rows by anti-joining
    * `dict_by_lex` against the bucketed dict, not from the batch); a
    * failed quads job leaves nothing visible. Re-running a
    * FULLY-committed append re-adds the batch (bag semantics: quad
    * multiplicity is data, the store cannot tell a retry from a
    * genuine re-ingest).
    *
    * Pre-v5 stores (`o_dec` sidecar) must re-encode first, and a store
    * carrying `o_ts` (UTC-encoded) requires a UTC append session —
    * appends never mix sidecar schemas inside one directory. */
  def append(quads: DataFrame, path: String): DictStore = {
    val spark = quads.sparkSession
    val buckets = bucketCount(spark, path)
    val existing = table(spark, path, "quads", buckets)
    require(existing.columns.contains("o_num"),
      s"$path is a pre-v5 store (o_dec sidecar): re-encode before appending")
    require(!existing.columns.contains("o_ts") ||
        spark.sessionState.conf.sessionLocalTimeZone == "UTC",
      s"$path carries o_ts (UTC-encoded): append needs a UTC session")
    val lexDir = s"$path/${if (buckets.isEmpty) "dict" else "dict_by_lex"}"
    val dict0 = spark.read.parquet(lexDir)
    val unseen = distinctTerms(quads)
      .join(dict0.select(col("term")), Seq("term"), "left_anti")
    writeIds(unseen, dict0.agg(max(col("id"))).head().getLong(0) + 1L,
      lexDir, SaveMode.Append)
    spark.catalog.refreshByPath(lexDir)
    val schema = existing.columns.map(col).toIndexedSeq // schema-exact
    buckets match {
      case None =>
        // batch-sized, not a fixed fan-out
        Layout.storeWriter(psSorted(encodeIds(quads, spark.read.parquet(lexDir))
          .select(schema: _*), sizedParts(quads)), SaveMode.Append).parquet(s"$path/quads")
      case Some(n) =>
        val base = tableBase(spark, path)
        def dict = table(spark, path, "dict", buckets)
        // phase 2 self-heals: whatever the lex copy has that the bucketed
        // table lacks routes in, whether frozen by this call or a dead one
        bucketedWrite(spark.read.parquet(lexDir)
            .join(dict.select(col("id")), Seq("id"), "left_anti"),
          n, "dict", s"$path/dict", s"${base}_dict", SaveMode.Append)
        spark.catalog.refreshTable(s"${base}_dict")
        bucketedWrite(encodeIds(quads, dict).select(schema: _*),
          n, "quads", s"$path/quads", s"${base}_quads", SaveMode.Append)
        spark.catalog.refreshTable(s"${base}_quads")
    }
    // legacy stores (written before the stats sidecar existed) stay
    // sidecar-less — consistent with load()'s tolerance; writing
    // batch-only stats here would silently undercount the store
    readStats(spark, path).foreach { prior =>
      QuadsStats.write(spark,
        QuadsStats.merge(prior, QuadsStats.compute(quads)), s"$path/stats")
    }
    // drop any cached listings of the grown directories (the session
    // file-status cache otherwise serves the pre-append file set)
    spark.catalog.refreshByPath(s"$path/dict")
    spark.catalog.refreshByPath(s"$path/quads")
    load(spark, path)
  }

  /** Compact a store of either layout after appends. Each [[append]]
    * lands one file set per batch, so file counts grow linearly with
    * batches and the dict's lex-range file pruning loosens (a term
    * range now spans one file per batch). This rewrites every table
    * back to its encode layout: plain quads to hash(p, s) partitions
    * of (p, s)-sorted files and the dictionary (a bucketed store's
    * `dict_by_lex` too) to tight lex-range files, both sized toward
    * the constant 128 MB file target; bucketed tables to one sorted
    * file per bucket. Ids are FROZEN rows here, so the rewrite is pure
    * movement; nothing is reassigned.
    *
    * Contract: compaction is NOT atomic for concurrent readers — run
    * it offline, like every table-maintenance op here. Each table
    * goes through the one directory [[swap]], so a re-run after a
    * crash restores the pre-compaction copy of any table the crash
    * left between its two renames, then compacts as usual. A bucketed
    * store's catalog entries are dropped (external tables: the files
    * survive) and re-created over the new files by [[load]]. */
  def compact(spark: SparkSession, path: String): Unit = {
    def lexFiles(df: DataFrame, out: String): Unit =
      Layout.storeWriter(lexSorted(df, sizedParts(df)), SaveMode.Overwrite).parquet(out)
    bucketCount(spark, path) match {
      case None =>
        swap(spark, path, "quads") { (df, out) =>
          Layout.storeWriter(psSorted(df, sizedParts(df)), SaveMode.Overwrite).parquet(out)
        }
        swap(spark, path, "dict")(lexFiles)
      case Some(n) =>
        val base = tableBase(spark, path)
        for (sub <- Seq("quads", "dict")) {
          spark.sql(s"DROP TABLE IF EXISTS ${base}_$sub")
          // the swap reads the FILES, not the catalog table: a
          // bucketed-scan child lets the optimizer drop the repartition
          // below the bucketed write, and the surviving task layout need
          // not align rows to one task per bucket — a plain parquet scan
          // keeps the shuffle, whose hash IS the bucket-id hash, giving
          // one file per bucket
          swap(spark, path, sub) { (df, out) =>
            spark.sql(s"DROP TABLE IF EXISTS ${base}_${sub}_cmp")
            bucketedWrite(df, n, sub, out, s"${base}_${sub}_cmp",
              SaveMode.ErrorIfExists)
            spark.sql(s"DROP TABLE ${base}_${sub}_cmp") // external: files stay
          }
        }
        swap(spark, path, "dict_by_lex")(lexFiles)
        load(spark, path) // re-create the catalog entries
    }
  }

  /** The one directory swap of [[compact]]: `write` rewrites the live
    * `path/sub` into `<sub>_compacting`, then live is renamed to
    * `<sub>_old`, the new copy to live, and `<sub>_old` is deleted.
    * Not atomic for concurrent readers. On entry a run that died
    * between the two renames (no live `<sub>`, a complete `<sub>_old`)
    * is undone by restoring `<sub>_old` BEFORE the dead run's
    * leftovers are cleared — a re-run never deletes the only copy. */
  private def swap(spark: SparkSession, path: String, sub: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val (fs, live) = hadoopFs(spark, s"$path/$sub")
    val tmp = new HPath(s"$path/${sub}_compacting")
    val old = new HPath(s"$path/${sub}_old")
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"restore failed: $old -> $live")
    fs.delete(tmp, true); fs.delete(old, true) // dead-run leftovers
    write(spark.read.parquet(live.toString), tmp.toString)
    require(fs.rename(live, old), s"swap failed: $live -> $old")
    require(fs.rename(tmp, live), s"swap failed: $tmp -> $live")
    fs.delete(old, true)
    spark.catalog.refreshByPath(live.toString)
  }

  // ----- bucketed layout -----

  /** Bucketed layout per table: bucket column and sort columns. */
  private val bucketSpec = Map(
    "dict" -> ("id", Seq("id")),
    "quads" -> ("s", Seq("p", "s")))

  /** Write `df` as bucketed table `name` with data at `dir`, under the
    * [[bucketSpec]] of `sub`. The repartition's hash IS the bucket-id
    * hash, so each bucket lands as one file per write. */
  private def bucketedWrite(df: DataFrame, buckets: Int, sub: String,
                            dir: String, name: String, mode: SaveMode): Unit = {
    val (by, sort) = bucketSpec(sub)
    Layout.storeWriter(df.repartition(buckets, col(by)), mode).option("path", dir)
      .bucketBy(buckets, by).sortBy(sort.head, sort.tail: _*)
      .saveAsTable(name)
  }

  /** Catalog identifier for a bucketed store's tables: derived from the
    * store path QUALIFIED through its filesystem (so `/x` and `file:/x`
    * name the same tables) to keep re-attach deterministic, suffixed to
    * keep two paths with the same sanitized form apart. */
  private def tableBase(spark: SparkSession, path: String): String = {
    val (fs, hp) = hadoopFs(spark, path)
    val q = fs.makeQualified(hp).toString
    val clean = q.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
    val tail = if (clean.length > 96) clean.takeRight(96) else clean
    f"graft_bkt_${tail}_${q.hashCode & 0x7fffffff}%08x"
  }

  /** One table of a store: the parquet directory `path/sub` for a plain
    * store; for a bucketed one the catalog table, re-created as an
    * (external) entry over the existing files when this session lacks
    * it — the bucket spec in the CREATE must match the writer's for
    * Spark to trust the file-name bucket ids, which `bucketed.json`
    * guarantees, and the columns are the ones the files carry (the
    * typed sidecar included). The entry declares the store writer's
    * options ([[Layout.storeOptions]]): a bucketed [[append]] writes
    * through the table and takes its options, so an entry without them
    * would append snappy files with v1 pages. In production
    * this catalog is the metastore. */
  private def table(spark: SparkSession, path: String, sub: String,
                    buckets: Option[Int]): DataFrame = buckets match {
    case None => spark.read.parquet(s"$path/$sub")
    case Some(n) =>
      val name = s"${tableBase(spark, path)}_$sub"
      val (by, sort) = bucketSpec(sub)
      if (!spark.catalog.tableExists(name)) {
        val schema = spark.read.parquet(s"$path/$sub").schema
        val opts = Layout.storeOptions(schema).map { case (k, v) => s"'$k' '$v'" }
          .mkString(", ")
        spark.sql(
          s"""CREATE TABLE $name (${schema.toDDL}) USING PARQUET OPTIONS ($opts)
             |CLUSTERED BY ($by) SORTED BY (${sort.mkString(", ")}) INTO $n BUCKETS
             |LOCATION '$path/$sub'""".stripMargin)
      }
      spark.table(name)
  }

  /** One-time ingest into a BUCKETED layout — the 100 TB shape of the
    * store, and with [[encode]] the one place a caller picks a layout:
    * [[load]], [[append]] and [[compact]] serve both, reading the
    * layout from `path/bucketed.json`. Two differences from the plain
    * layout, both invisible to query semantics (the class runs
    * unchanged over the catalog tables):
    *
    *  - `dict` is bucketed on `id`: every late-materialization join
    *    (and the [[DictStore.decodedQuads]] view) joins the dictionary
    *    on `id`, so a bucketed dict side arrives pre-partitioned and
    *    NEVER re-shuffles — at scale the dictionary is term-count-sized
    *    (~10^11 rows for 100 TB of triples), which would otherwise be
    *    the largest exchange of every query. Only the (intermediate-
    *    result-sized, id-only) probe side moves.
    *  - `quads` is bucketed on `s` and sorted by `(p, s)` within each
    *    bucket: the subject–subject joins of star-shaped BGPs — the
    *    dominant join shape in entity-centric queries — see BOTH sides
    *    pre-partitioned on `s` and plan with zero exchanges, while the
    *    within-bucket `(p, s)` sort keeps constant-predicate row-group
    *    pruning as tight as the plain layout's `(p, s)` clustering.
    *
    * The bucket count is the file layout here (one file per bucket per
    * write); only the lex-clustered `dict_by_lex` copy is sized toward
    * the constant 128 MB file target. [[compact]] brings both back to
    * that shape after appends; it is not atomic for concurrent readers,
    * and a re-run after a crash restores the pre-compaction copy.
    * Spark's bucketing metadata lives in the session catalog, so the
    * tables register under a path-derived name with their data at
    * `path/{dict,quads}` (external) — [[load]] re-attaches a fresh
    * session to the same files. */
  def encodeBucketed(quads: DataFrame, path: String,
                     buckets: Int = 32): DictStore = {
    val spark = quads.sparkSession
    val base = tableBase(spark, path)
    // TWO-phase dict write. Ids must freeze in a write whose stage IS
    // the assignment stage ([[writeIds]]): with a repartition between
    // monotonically_increasing_id and the bucketed write, an upstream
    // stage retry would re-assign ids for rows routed to not-yet-
    // committed bucket files while already-committed files keep the
    // old assignment — a silently non-bijective dictionary. So phase 1
    // freezes (id, term) exactly like encode(), and phase 2 re-buckets
    // the FROZEN copy (pure deterministic routing, retry-safe). The
    // phase-1 copy is lex-clustered and KEPT as `dict_by_lex`: it is
    // the pruned per-query constant-lookup side (the id-bucketed table
    // has no lex locality), and its ids are identical by construction.
    writeIds(distinctTerms(quads), 0L, s"$path/dict_by_lex", SaveMode.Overwrite)
    bucketedWrite(spark.read.parquet(s"$path/dict_by_lex"), buckets, "dict",
      s"$path/dict", s"${base}_dict", SaveMode.Overwrite)
    // the encode-join output is a deterministic row set and the
    // repartition routes by hash(s) — no assignment nondeterminism, so
    // the quads can bucket in one pass
    bucketedWrite(encodeIds(quads, spark.table(s"${base}_dict")), buckets,
      "quads", s"$path/quads", s"${base}_quads", SaveMode.Overwrite)
    QuadsStats.write(spark, QuadsStats.compute(quads), s"$path/stats")
    val (fs, marker) = hadoopFs(spark, s"$path/bucketed.json")
    val out = fs.create(marker, true)
    try out.write(s"""{"buckets": $buckets}""".getBytes(UTF_8)) finally out.close()
    load(spark, path)
  }

  // store I/O goes through the Hadoop FileSystem of the store path — a
  // store can live on any filesystem Spark writes to (hdfs://, s3a://,
  // file:…), not just the driver's local disk
  private def hadoopFs(spark: SparkSession, p: String) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** The layout dispatch of [[load]], [[append]] and [[compact]]: the
    * bucket count recorded in `path/bucketed.json`, `None` for a plain
    * store. It MUST resolve through the store path's own filesystem:
    * a `java.io.File` check is silently false for hdfs://, s3a:// or
    * an explicit `file:` scheme, and a bucketed store treated as plain
    * would get non-bucketed files in its catalog-owned directories
    * (bucket ids are derived from file names, so that corrupts the
    * bucket contract without any error). */
  private def bucketCount(spark: SparkSession, path: String): Option[Int] = {
    val (fs, marker) = hadoopFs(spark, s"$path/bucketed.json")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      Some(""""buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toInt).getOrElse(throw new IllegalArgumentException(
          s"$marker: no bucket count — not a bucketed store")))
    }
  }

  /** The one stats opener ([[load]], [[append]]): the stats sidecar of
    * an existing store, `None` when it predates the sidecar. MISSING
    * is the only tolerated state (checked via the store path's
    * filesystem): a sidecar that exists but cannot be read (corrupt
    * files, permissions) propagates, because swallowing it would make
    * append silently stop updating stats — indistinguishable from a
    * legacy store, leaving permanently undercounted CBO estimates. */
  private def readStats(spark: SparkSession, path: String): Option[QuadsStats] = {
    val (fs, hp) = hadoopFs(spark, s"$path/stats")
    if (!fs.exists(hp)) None else Some(QuadsStats.read(spark, hp.toString))
  }
}

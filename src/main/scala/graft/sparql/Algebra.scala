package graft.sparql

import graft.rdf.Term

/** SPARQL algebra IR.
  *
  * Mirrors the rdf4j TupleExpr node set the reference compiles
  * (the `processOperation` match at
  * /root/reference/src/main/scala/es/jolivar/scio/sparql/Interpreter.scala:299-947),
  * but as plain case classes produced by our own parser. Finite property
  * paths are desugared at parse time into Scan/Join/Union/ZeroLengthPath
  * exactly as rdf4j's parser does (SURVEY.md §2.8); transitive paths
  * become a first-class [[ArbitraryLengthPath]] node (the reference
  * cannot express them — README.md:60-63 — we execute them with an
  * iterative semi-naive fixpoint, SURVEY.md §7.5).
  */
object Algebra {

  /** A pattern position: a variable or a constant term.
    * Variables starting with "_anon" are parser-generated (blank nodes /
    * path midpoints) and are never projectable. */
  sealed trait VarOrTerm
  final case class V(name: String) extends VarOrTerm
  final case class T(term: Term) extends VarOrTerm

  /** Graph scope of a scan: default graph, a named graph constant, or a
    * named-graph variable (GRAPH ?g). */
  sealed trait GraphSpec
  case object DefaultGraph extends GraphSpec
  final case class GraphTerm(term: Term) extends GraphSpec
  final case class GraphVar(name: String) extends GraphSpec

  // ----- scalar / aggregate expressions -----
  sealed trait Expr
  final case class VarE(name: String) extends Expr
  final case class ConstE(term: Term) extends Expr
  /** Builtin or operator call; operators use their symbol as name
    * ("&&", "||", "!", "=", "!=", "<", "<=", ">", ">=", "+", "-", "*",
    * "/", "UMINUS", "UPLUS"). Casts use the full datatype IRI as name
    * with prefix "cast:". */
  final case class FuncE(name: String, args: List[Expr]) extends Expr
  final case class InE(e: Expr, list: List[Expr], negated: Boolean) extends Expr
  final case class ExistsE(pattern: Op, negated: Boolean) extends Expr
  /** Aggregate call inside SELECT/HAVING/ORDER BY; lifted into [[Group]]
    * by the parser with a synthetic binding name. func ∈ {COUNT, SUM,
    * MIN, MAX, AVG, SAMPLE, GROUP_CONCAT}; expr None = COUNT(*). */
  final case class AggE(func: String, distinct: Boolean, expr: Option[Expr],
                        separator: String = " ") extends Expr

  // ----- algebra operators -----
  sealed trait Op

  /** Triple/quad pattern scan (StatementPattern). */
  final case class Scan(s: VarOrTerm, p: VarOrTerm, o: VarOrTerm,
                        g: GraphSpec) extends Op
  /** One empty binding row (empty WHERE {}). */
  case object Singleton extends Op
  /** VALUES inline data; None = UNDEF. */
  final case class Values(vars: List[String],
                          rows: List[List[Option[Term]]]) extends Op

  final case class Join(l: Op, r: Op) extends Op
  final case class LeftJoin(l: Op, r: Op, cond: Option[Expr]) extends Op
  final case class Union(l: Op, r: Op) extends Op
  final case class Minus(l: Op, r: Op) extends Op
  final case class Filter(child: Op, cond: Expr) extends Op
  /** BIND / SELECT expression: compute `expr` as `name`. */
  final case class Extend(child: Op, name: String, expr: Expr) extends Op
  final case class Project(child: Op, vars: List[String]) extends Op
  final case class Distinct(child: Op) extends Op
  final case class Reduced(child: Op) extends Op
  /** GROUP BY keys + one synthetic output column per aggregate. */
  final case class Group(child: Op, keys: List[String],
                         aggs: List[(String, AggE)]) extends Op
  final case class Order(child: Op, keys: List[(Expr, Boolean)]) extends Op
  final case class Slice(child: Op, offset: Long, limit: Option[Long]) extends Op

  /** SPARQL 1.1 federated query: evaluate `child` against the dataset
    * registered under the constant `endpoint` IRI ([[Sparql.registerService]])
    * — the Spark-native reading of federation, where an "endpoint" is
    * another quads DataFrame (a different table, bucket or source).
    * With `silent`, an unregistered endpoint degrades to a single empty
    * solution instead of an error (spec §2.2: SERVICE SILENT failure).
    * A VARIABLE endpoint (spec §2.3 — evaluation order is
    * implementation-defined there) iterates every registered endpoint:
    * the child evaluates against each dataset with the variable bound
    * to that endpoint's IRI, and the branches union — so a binding for
    * the variable elsewhere in the query constrains the federation
    * through the ordinary join. */
  final case class Service(endpoint: VarOrTerm, child: Op, silent: Boolean) extends Op

  /** A subtree already compiled to a DataFrame by an alternative scan
    * path — today the dictionary-encoded BGP fast path
    * ([[graft.io.DictStore]]), which runs a whole basic graph pattern
    * as joins over integer term ids and hands back the materialized
    * term-struct columns. Opaque leaf to every later pass; `varNames`
    * is its column set and `assured` the subset bound on EVERY row —
    * the swallowed subtree's assured vars, which downstream joins
    * need to pick plain-equality vs compat keys (an OPTIONAL- or
    * UNION-introduced column can be NULL, and treating it as assured
    * would silently drop compat matches). */
  final case class Materialized(df: org.apache.spark.sql.DataFrame,
                                varNames: List[String],
                                assured: Set[String]) extends Op

  /** Zero hops: both ends bind to the same graph node (SURVEY.md §2.8). */
  final case class ZeroLengthPath(s: VarOrTerm, o: VarOrTerm,
                                  g: GraphSpec) extends Op
  /** Transitive closure over an edge relation given by a sub-pattern
    * from variable `innerS` to `innerO`. includeZero: `*` vs `+`. */
  final case class ArbitraryLengthPath(s: VarOrTerm, o: VarOrTerm,
                                       edge: Op, innerS: String, innerO: String,
                                       includeZero: Boolean,
                                       g: GraphSpec) extends Op

  /** The variable of a GRAPH ?g scope. */
  def graphVar(g: GraphSpec): Option[String] = g match {
    case GraphVar(n) => Some(n)
    case _ => None
  }

  /** Statically-known variables an operator MAY bind (the analogue of
    * rdf4j's getBindingNames, Interpreter.scala:152-162). */
  def vars(op: Op): Set[String] = op match {
    case Scan(s, p, o, g) =>
      Set(s, p, o).collect { case V(n) => n } ++
        (g match { case GraphVar(n) => Set(n); case _ => Set.empty[String] })
    case Singleton => Set.empty
    case Values(vs, _) => vs.toSet
    case Join(l, r) => vars(l) ++ vars(r)
    case LeftJoin(l, r, _) => vars(l) ++ vars(r)
    case Union(l, r) => vars(l) ++ vars(r)
    case Minus(l, _) => vars(l)
    case Filter(c, _) => vars(c)
    case Extend(c, n, _) => vars(c) + n
    case Project(_, vs) => vs.toSet
    case Distinct(c) => vars(c)
    case Reduced(c) => vars(c)
    case Group(_, keys, aggs) => keys.toSet ++ aggs.map(_._1)
    case Order(c, _) => vars(c)
    case Slice(c, _, _) => vars(c)
    case Service(e, c, _) => vars(c) ++
      (e match { case V(n) => Set(n); case _ => Set.empty[String] })
    case Materialized(_, vs, _) => vs.toSet
    case ZeroLengthPath(s, o, g) =>
      Set(s, o).collect { case V(n) => n } ++
        (g match { case GraphVar(n) => Set(n); case _ => Set.empty[String] })
    case ArbitraryLengthPath(s, o, _, _, _, _, g) =>
      Set(s, o).collect { case V(n) => n } ++
        (g match { case GraphVar(n) => Set(n); case _ => Set.empty[String] })
  }

  /** Variables an operator is GUARANTEED to bind on every row (the
    * analogue of getAssuredBindingNames) — the safe equi-join key set
    * of both the term-struct and the dictionary-id compiler. */
  def assuredVars(op: Op): Set[String] = op match {
    case Scan(_, _, _, _) | ZeroLengthPath(_, _, _) |
         ArbitraryLengthPath(_, _, _, _, _, _, _) => vars(op)
    case Singleton => Set.empty
    case Values(vs, rows) =>
      vs.toSet.filter(v => rows.forall(r => r(vs.indexOf(v)).isDefined))
    case Join(l, r) => assuredVars(l) ++ assuredVars(r)
    case LeftJoin(l, _, _) => assuredVars(l)
    case Union(l, r) => assuredVars(l) intersect assuredVars(r)
    case Minus(l, _) => assuredVars(l)
    case Filter(c, _) => assuredVars(c)
    case Extend(c, _, _) => assuredVars(c) // expr may error → unbound
    case Project(c, vs) => assuredVars(c) intersect vs.toSet
    case Distinct(c) => assuredVars(c)
    case Reduced(c) => assuredVars(c)
    case Group(c, keys, _) =>
      // a key over a possibly-unbound variable can itself be NULL
      keys.toSet intersect assuredVars(c)
    case Order(c, _) => assuredVars(c)
    case Slice(c, _, _) => assuredVars(c)
    // endpoint resolution happens at COMPILE time, so a registered
    // SILENT endpoint can never fail later — its child's assured vars
    // are safe (and keep equi-key join extraction); only an
    // unregistered SILENT endpoint degrades to one empty solution
    case Service(e, c, silent) => e match {
      case T(t) =>
        if (!silent || Sparql.serviceFor(t.lex).isDefined) assuredVars(c)
        else Set.empty
      // variable endpoint: every emitted row comes from some registered
      // endpoint with the variable bound to its IRI
      case V(n) => assuredVars(c) + n
    }
    // the fast path only swallows Scan/Join trees, whose variables are
    // bound on every row — so the whole column set is assured
    case Materialized(_, _, assured) => assured
  }

  /** Like [[vars]] but in first-appearance order (SELECT * ordering). */
  def varsOrdered(op: Op): List[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def pos(x: VarOrTerm): Unit = x match { case V(n) => seen += n; case _ => }
    def g(gs: GraphSpec): Unit = gs match { case GraphVar(n) => seen += n; case _ => }
    def walk(o: Op): Unit = o match {
      case Scan(s, p, ob, gs) => pos(s); pos(p); pos(ob); g(gs)
      case Singleton =>
      case Values(vs, _) => seen ++= vs
      case Join(l, r) => walk(l); walk(r)
      case LeftJoin(l, r, _) => walk(l); walk(r)
      case Union(l, r) => walk(l); walk(r)
      case Minus(l, _) => walk(l)
      case Filter(c, _) => walk(c)
      case Extend(c, n, _) => walk(c); seen += n
      case Project(_, vs) => seen ++= vs
      case Distinct(c) => walk(c)
      case Reduced(c) => walk(c)
      case Group(_, keys, aggs) => seen ++= keys; seen ++= aggs.map(_._1)
      case Order(c, _) => walk(c)
      case Slice(c, _, _) => walk(c)
      case Service(e, c, _) => pos(e); walk(c)
      case Materialized(_, vs, _) => seen ++= vs
      case ZeroLengthPath(s, o2, gs) => pos(s); pos(o2); g(gs)
      case ArbitraryLengthPath(s, o2, _, _, _, _, gs) => pos(s); pos(o2); g(gs)
    }
    walk(op)
    seen.toList
  }

  // ----- positional-variable mechanics of a quad-pattern scan -----
  // Shared by the term-struct scan (Compiler.compileScan) and the
  // id-space scan (DictStore.scanIds): which physical columns hold
  // variables, which pairs a repeated variable equates, and the
  // first-occurrence projection — identical algorithms regardless of
  // whether the columns carry term structs or dictionary longs.

  /** (physical column, variable name) for every variable position of a
    * quad pattern, in s/p/o/g order. */
  def scanVarPositions(s: VarOrTerm, p: VarOrTerm, o: VarOrTerm,
                       g: GraphSpec): Seq[(String, String)] =
    (Seq(("s", s), ("p", p), ("o", o)).collect { case (c, V(n)) => (c, n) }) ++
      (g match { case GraphVar(n) => Seq(("g", n)); case _ => Seq.empty })

  /** Column pairs a repeated variable (`?x :p ?x`) forces equal. */
  def repeatedVarPairs(varPos: Seq[(String, String)]): Seq[(String, String)] =
    varPos.groupBy(_._2).values.filter(_.size > 1).toSeq.flatMap { dup =>
      dup.sliding(2).collect { case Seq((c1, _), (c2, _)) => (c1, c2) }.toSeq
    }

  /** (variable, physical column) of each variable's FIRST position —
    * the scan's projection (later positions are equated duplicates). */
  def firstOccurrence(varPos: Seq[(String, String)]): Seq[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    varPos.foreach { case (c, n) => if (!seen.contains(n)) seen(n) = c }
    seen.toSeq
  }

  /** Flatten an &&-tree into its conjuncts (FILTER splitting and
    * correlated-EXISTS lifting both consume this). */
  def conjuncts(e: Expr): List[Expr] = e match {
    case FuncE("&&", List(a, b)) => conjuncts(a) ++ conjuncts(b)
    case other => List(other)
  }

  /** Free variables of an expression (for correlated-EXISTS lifting). */
  def exprVars(e: Expr): Set[String] = e match {
    case VarE(n) => Set(n)
    case ConstE(_) => Set.empty
    case FuncE(_, args) => args.flatMap(exprVars).toSet
    case InE(x, list, _) => exprVars(x) ++ list.flatMap(exprVars)
    case ExistsE(p, _) => vars(p)
    case AggE(_, _, ex, _) => ex.map(exprVars).getOrElse(Set.empty)
  }

  /** `!EXISTS{..}` ≡ `NOT EXISTS{..}` (and `!NOT EXISTS` ≡ EXISTS), so
    * both compilers see every [NOT] EXISTS conjunct as an [[ExistsE]]. */
  def normalizeNotExists(e: Expr): Expr = e match {
    case FuncE("!", List(inner)) => normalizeNotExists(inner) match {
      case ExistsE(p, n) => ExistsE(p, !n)
      case other => FuncE("!", List(other))
    }
    case other => other
  }
}

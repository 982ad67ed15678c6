package graft.sparql

import graft.rdf.{Term, TermSchema}
import Algebra._
import TermFns._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SPARQL algebra → DataFrame compiler — the analogue of the
  * reference's `processOperation` (Interpreter.scala:299-947), emitting
  * declarative DataFrame plans for Catalyst to optimize instead of a
  * hand-scheduled dataflow.
  *
  * Binding-set representation: one nullable term-struct column per
  * variable; NULL = unbound (SURVEY.md §1.4). Join, OPTIONAL, MINUS
  * and [NOT] EXISTS all lower to [[Compiler.compatJoin]], the one
  * SPARQL-compatible join, which the dict store's id-space compiler
  * calls too: variables assured-bound on both sides become hash-join
  * keys; possibly-unbound shared variables get the compatible-bindings
  * condition (NULL matches anything) — a strict superset of the
  * reference, which only joins assured bindings
  * (Interpreter.scala:152-162).
  */
object Compiler {

  def run(quads: DataFrame, op: Op): DataFrame = new Compiler(quads).compile(op)

  /** Semi-naive transitive closure over a `(g?, src, dst)` edge frame
    * — representation-AGNOSTIC: the standard compiler closes over
    * term-struct columns, the dict store's id-space path closes over
    * 8-byte longs (so the per-round shuffles carry longs, not
    * strings), both through this one loop. `start` seeds the walk;
    * `gKey` is `Seq("g")` when the closure must stay inside one named
    * graph (GRAPH ?g) and empty otherwise. Each round joins only the
    * frontier to the edge set, anti-joins away already-seen pairs,
    * and lazily checkpoints so plans stay bounded; the accumulated
    * result is kept as a lazy union of per-round checkpointed leaves,
    * re-materialized every 8 rounds to bound plan depth. */
  private[graft] def transitiveClosure(ed: DataFrame, start: DataFrame,
                                       gKey: Seq[String]): DataFrame = {
    def materialize(df: DataFrame): DataFrame =
      GraftColumnBridge.freshLeaf(df.localCheckpoint(eager = false))
    var parts = List(materialize(start.dropDuplicates()))
    var result = parts.head
    var frontier = parts.head
    var round = 0
    var done = frontier.isEmpty
    while (!done) {
      val joinCond = (Seq(col("f.dst") === col("e.src")) ++
        gKey.map(g => col(s"f.$g") === col(s"e.$g"))).reduce(_ && _)
      val next = materialize(
        frontier.alias("f")
          .join(ed.alias("e"), joinCond)
          .select(gKey.map(g => col(s"f.$g").as(g)) ++
            Seq(col("f.src").as("src"), col("e.dst").as("dst")): _*)
          .dropDuplicates()
          .join(result, gKey ++ Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) done = true
      else {
        parts ::= next
        round += 1
        if (round % 8 == 0) {
          result = materialize(parts.reduce(_ union _))
          parts = List(result)
        } else result = parts.reduce(_ union _)
        frontier = next
      }
    }
    result
  }

  /** ALP scaffolding over an already-compiled `(g?, src, dst)` edge
    * frame — shared, like [[transitiveClosure]], between the
    * term-struct and dictionary-id representations so the subtle path
    * semantics (constant-object BACKWARD walk + pair flip, per-graph
    * zero-length domains, seed selection) exist exactly once.
    * `constCol` encodes a constant endpoint for the representation
    * (term-struct literal / dict id); `graphNodes` supplies the
    * var-var zero-length domain as `(g?, node)` with the graph column
    * named `g`; `zeroSelf` builds the constant-endpoint zero-length
    * rows (the id path passes a thrower — its eligibility excludes
    * that shape, since an absent term has no id). */
  private[graft] def alpPaths(alp: ArbitraryLengthPath, edges: DataFrame,
                              constCol: Term => Column,
                              graphNodes: () => DataFrame,
                              zeroSelf: Column => DataFrame): DataFrame = {
    val gVar = graphVar(alp.g)
    val gKey = gVar.map(_ => "g").toSeq
    val reversed = edges.select(
      gVar.map(_ => col("g")).toSeq ++
        Seq(col("dst").as("src"), col("src").as("dst")): _*)
    (alp.s, alp.o) match {
      case (T(t), _) =>
        var paths = transitiveClosure(edges,
          edges.filter(col("src") === constCol(t)), gKey)
        if (alp.includeZero)
          paths = paths.unionByName(zeroSelf(constCol(t))).dropDuplicates()
        paths
      case (_, T(t)) =>
        // constant OBJECT: walk BACKWARD (reverse the edges, expand from
        // t, flip pairs back) — a forward walk from t would only ever
        // find direct predecessors
        var paths = transitiveClosure(reversed,
          reversed.filter(col("src") === constCol(t)), gKey)
          .select(gVar.map(_ => col("g")).toSeq ++
            Seq(col("dst").as("src"), col("src").as("dst")): _*)
        if (alp.includeZero)
          paths = paths.unionByName(zeroSelf(constCol(t))).dropDuplicates()
        paths
      case _ =>
        var paths = transitiveClosure(edges, edges, gKey)
        if (alp.includeZero) {
          val zero = gVar match {
            case Some(_) => graphNodes()
              .select(col("g"), col("node").as("src"), col("node").as("dst"))
            case None => graphNodes()
              .select(col("node").as("src"), col("node").as("dst"))
          }
          paths = paths.unionByName(zero).dropDuplicates()
        }
        paths
    }
  }

  /** Endpoint filters and output projection for a closed path set:
    * cycle queries (`?x p+ ?x`), constant-end filters, both-constant
    * existence probes. Returns the frame and its output names. */
  private[graft] def alpFinish(paths: DataFrame, alp: ArbitraryLengthPath,
                               constCol: Term => Column): (DataFrame, List[String]) = {
    val gVar = graphVar(alp.g)
    var df = paths
    val sel = scala.collection.mutable.ArrayBuffer.empty[Column]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    gVar.foreach { n => sel += col("g").as(n); names += n }
    (alp.s, alp.o) match {
      case (V(n1), V(n2)) if n1 == n2 => // cycle query ?x p+ ?x
        df = df.filter(col("src") === col("dst"))
        sel += col("src").as(n1); names += n1
      case _ =>
        alp.s match {
          case T(t) => df = df.filter(col("src") === constCol(t))
          case V(n) => sel += col("src").as(n); names += n
        }
        alp.o match {
          case T(t) => df = df.filter(col("dst") === constCol(t))
          case V(n) => sel += col("dst").as(n); names += n
        }
    }
    if (sel.isEmpty) (df.select().limit(1), Nil) // both constant: existence
    else (df.select(sel.toSeq: _*), names.toList)
  }

  /** Per-aggregate accumulator — representation-AGNOSTIC, shared by
    * the standard compiler's single-shuffle compileGroup and the dict
    * store's id-space aggregation (which hybrid-decodes only the
    * aggregated variable's term). `v` is the already-resolved value
    * column (None for COUNT(*)); `allCols` are the visible columns for
    * COUNT(DISTINCT *). Every aggregate reduces to ONE struct column
    * so any mix still costs one shuffle; SUM/AVG carry their
    * error-poisoning and type-promotion flags as sub-aggregates. */
  private[graft] def aggAccumulator(v: Option[Column], allCols: Seq[Column],
                                    a: AggE): Column = a.func match {
    case "COUNT" =>
      val c = v match {
        case None =>
          if (a.distinct) count_distinct(struct(allCols: _*))
          else count(lit(1))
        case Some(col0) =>
          if (a.distinct) count_distinct(col0) else count(col0)
      }
      struct(c.as("n"))
    case "SUM" | "AVG" =>
      // DISTINCT SUM/AVG never reaches here — compileGroup rewrites
      // it to a pre-deduplicated non-distinct pass (streaming memory
      // instead of a per-group collect_set of all distinct terms).
      val col0 = v.get
      val dec = sum(numDec(col0))
      val dbl = sum(numD(col0))
      val cnt = count(col0)
      struct(
        dec.as("dec"), dbl.as("dbl"), cnt.as("cnt"),
        // numD null on a numeric-typed term ⇔ invalid lexical form
        // ("abc"^^xsd:integer) — also an evaluation error per spec
        max(when(col0.isNull || !isNumeric(col0) || numD(col0).isNull, 1)
          .otherwise(0)).as("poisoned"),
        max(when(isFloating(col0), 1).otherwise(0)).as("anyFloat"),
        max(when(isNumeric(col0) && !isIntegerTyped(col0) && !isFloating(col0), 1)
          .otherwise(0)).as("anyDec"))
    case "MIN" =>
      struct(min(when(v.get.isNotNull,
        struct(sortKey(v.get).as("k"), v.get.as("t")))).as("kt"))
    case "MAX" =>
      struct(max(when(v.get.isNotNull,
        struct(sortKey(v.get).as("k"), v.get.as("t")))).as("kt"))
    case "SAMPLE" =>
      struct(first(v.get, ignoreNulls = true).as("t"))
    case "GROUP_CONCAT" =>
      val strs = when(v.get.isNotNull, lex(v.get))
      val arr = if (a.distinct) collect_set(strs) else collect_list(strs)
      struct(arr.as("items"))
    case other => throw new IllegalArgumentException(s"unknown aggregate $other")
  }

  /** Finisher for [[aggAccumulator]]'s struct: the aggregate's term
    * column (COUNT→integer term, SUM/AVG→promoted numeric or unbound
    * when poisoned, MIN/MAX/SAMPLE→the witness value, GROUP_CONCAT→
    * sorted-join string term). */
  private[graft] def aggFinish(t: Column, a: AggE): Column = a.func match {
    case "COUNT" => intTerm(t.getField("n"))
    case "SUM" =>
      val poisoned = t.getField("poisoned") === 1
      val anyFloat = t.getField("anyFloat") === 1
      val anyDec = t.getField("anyDec") === 1
      when(poisoned, nullTerm)
        .when(t.getField("cnt") === 0, intTerm(lit(0)))
        .when(anyFloat, doubleTerm(t.getField("dbl")))
        .when(anyDec, decTerm(t.getField("dec")))
        .otherwise(intTermFromDec(t.getField("dec")))
    case "AVG" =>
      val poisoned = t.getField("poisoned") === 1
      val anyFloat = t.getField("anyFloat") === 1
      val avgDec = t.getField("dec") / t.getField("cnt")
      when(poisoned, nullTerm)
        .when(t.getField("cnt") === 0, intTerm(lit(0)))
        .when(anyFloat, doubleTerm(t.getField("dbl") / t.getField("cnt")))
        .otherwise(decTerm(avgDec.cast(DEC)))
    case "MIN" | "MAX" => t.getField("kt").getField("t")
    case "SAMPLE" => t.getField("t")
    case "GROUP_CONCAT" =>
      strTerm(array_join(array_sort(t.getField("items")), a.separator))
  }

  // ----- representation-blind operator tails -----
  // Shared by this compiler (term-struct columns) and the dict store's
  // id-space compiler (dictionary-id columns): neither reads a value.

  /** A [[compatJoin]] condition's view of the two sides: a variable's
    * column on the left frame, on the (renamed) right frame, or in the
    * merged row — if any side has it. */
  final class JoinSides private[Compiler] (val left: String => Option[Column],
                                           val right: String => Option[Column],
                                           assuredBoth: String => Boolean) {
    /** The merged solution's binding: the left value when bound, else
      * the right one (compatible sides agree wherever both are bound).
      * A var assured on both sides is the left column itself, so the
      * join's output partitioning survives the projection. */
    def merged(v: String): Option[Column] = (left(v), right(v)) match {
      case (Some(l), Some(r)) => Some(if (assuredBoth(v)) l else coalesce(l, r))
      case (l, r) => l.orElse(r)
    }
  }

  /** The one SPARQL-compatible join, for both term representations:
    * Join, OPTIONAL, MINUS and [NOT] EXISTS of this compiler and of the
    * dict store's id-space compiler all call it. The right side's
    * shared columns are renamed; a shared var assured on both sides is
    * a plain `===` key (an extractable equi key), any other shared var
    * compatible-matches (`l.isNull || r.isNull || l === r` — NULL is
    * unbound and matches anything). `cond` ANDs an extra condition
    * built from the sides' resolvers. Inner and left-outer joins
    * return the merged columns ([[JoinSides.merged]]: left columns,
    * then the right-only ones); semi and anti joins the left columns. */
  private[graft] def compatJoin(l: DataFrame, r: DataFrame,
                                lAssured: Set[String], rAssured: Set[String],
                                joinType: String)(
                                 cond: JoinSides => Option[Column]): DataFrame = {
    val (lCols, rCols) = (l.columns.toSeq, r.columns.toSeq)
    val shared = lCols.filter(rCols.contains)
    val rr = r.withColumnsRenamed(shared.map(v => v -> s"__r_$v").toMap)
    def assuredBoth(v: String) = lAssured(v) && rAssured(v)
    val sides = new JoinSides(
      v => if (lCols.contains(v)) Some(l(v)) else None,
      v => if (shared.contains(v)) Some(rr(s"__r_$v"))
           else if (rCols.contains(v)) Some(rr(v)) else None,
      assuredBoth)
    val keys = shared.map { v =>
      val (a, b) = (l(v), rr(s"__r_$v"))
      if (assuredBoth(v)) a === b else a.isNull || b.isNull || a === b
    }
    val conds = keys ++ cond(sides)
    val joined =
      if (conds.isEmpty && joinType == "inner") l.crossJoin(rr)
      else l.join(rr, conds.reduceOption(_ && _).getOrElse(lit(true)), joinType)
    if (joinType == "left_semi" || joinType == "left_anti") joined
    else joined.select((lCols ++ rCols.filterNot(shared.contains))
      .map(v => sides.merged(v).get.as(v)): _*)
  }

  /** MINUS: drop left rows compatible with some right row that share at
    * least one var bound on both (disjoint-domain rows survive — the
    * semantics the reference does not implement, README.md:57-58;
    * SURVEY.md §2.3). An assured-on-both key is that witness already. */
  private[graft] def minus(l: DataFrame, r: DataFrame,
                           lAssured: Set[String], rAssured: Set[String]): DataFrame = {
    val shared = l.columns.toSeq.filter(r.columns.contains)
    if (shared.isEmpty) l
    else compatJoin(l, r, lAssured, rAssured, "left_anti") { s =>
      if (shared.exists(v => lAssured(v) && rAssured(v))) None
      else Some(shared.map(v =>
        s.left(v).get.isNotNull && s.right(v).get.isNotNull).reduce(_ || _))
    }
  }

  /** Bag UNION, each side padded to the union of both column sets with
    * `nullCol` (unbound: a NULL term struct, or a NULL id). */
  private[graft] def unionPadded(l: DataFrame, r: DataFrame,
                                 nullCol: Column): DataFrame = {
    val allCols = (l.columns ++ r.columns).distinct.toIndexedSeq
    def pad(df: DataFrame) = df.select(allCols.map(c =>
      (if (df.columns.contains(c)) df(c) else nullCol).as(c)): _*)
    pad(l).unionByName(pad(r))
  }

  /** The main aggregation pass: `aggCols` grouped by `keys`. When every
    * aggregate went to a DISTINCT SUM/AVG side pass, it still seeds one
    * row per group — and, ungrouped, one literal row, because SPARQL
    * returns exactly one solution even over an empty match
    * (`df.select().dropDuplicates()` would be empty, and the side-pass
    * join would then wrongly yield zero rows). */
  private[graft] def groupPass(df: DataFrame, keys: List[String],
                               aggCols: Seq[Column]): DataFrame =
    if (aggCols.nonEmpty)
      df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    else if (keys.isEmpty) df.sparkSession.range(1).select()
    else df.select(keys.map(col): _*).dropDuplicates()

  /** DISTINCT SUM/AVG side pass: aggregate the already-deduplicated
    * `(keys, value)` stream NON-distinct through [[aggAccumulator]] as
    * column `name` — constant memory per group, where a collect_set of
    * the distinct terms would be unbounded — and join it back onto the
    * main pass's `grouped` on the keys, null-safe (an optional group key
    * can be unbound). */
  private[graft] def joinSidePass(grouped: DataFrame, deduped: DataFrame,
                                  value: Column, keys: List[String],
                                  name: String, a: AggE): DataFrame = {
    val side = deduped.groupBy(keys.map(col): _*)
      .agg(aggAccumulator(Some(value), Nil, a.copy(distinct = false)).as(name))
    if (keys.isEmpty) grouped.crossJoin(side)
    else {
      val renamed = keys.foldLeft(side)((d, k) =>
        d.withColumnRenamed(k, s"__k_$k"))
      val cond = keys.map(k => grouped(k) <=> renamed(s"__k_$k")).reduce(_ && _)
      grouped.join(renamed, cond, "inner")
        .drop(keys.map(k => s"__k_$k"): _*)
    }
  }

  /** Every node (subject ∪ object) of an already graph-scoped quads
    * frame, as column `node` — the zero-length path domain — next to the
    * graph column `gCol()` builds when the path runs under GRAPH ?g
    * (a function, so each end's projection gets its own alias). */
  private[graft] def graphNodes(scoped: DataFrame,
                                gCol: Option[() => Column]): DataFrame = {
    def ends(pos: String) =
      scoped.select(col(pos).as("node") +: gCol.map(_()).toSeq: _*)
    ends("s").union(ends("o")).dropDuplicates()
  }

  /** Zero-length path with a constant end: one row per graph context —
    * one, or one per named graph under GRAPH ?g, which `namedGraphs(gv)`
    * supplies as column `gv` — binding the variable end to the
    * constant's term struct. The binding comes from the LITERAL: a
    * zero-length path binds a constant to itself even when the term is
    * absent from the data, and so from a dictionary. Both ends
    * constant: those rows iff the terms are equal. */
  private[graft] def zeroLengthConst(spark: SparkSession, s: VarOrTerm,
                                     o: VarOrTerm, g: GraphSpec,
                                     namedGraphs: String => DataFrame): DataFrame = {
    val ec = new ExprCompiler(_ => nullTerm)
    def constRows(cols: (String, Column)*): DataFrame = g match {
      case GraphVar(n) =>
        namedGraphs(n).select(col(n) +: cols.map { case (a, c) => c.as(a) }: _*)
      case _ =>
        spark.range(1).select(cols.map { case (a, c) => c.as(a) }: _*)
    }
    (s, o) match {
      case (T(ts), T(to)) =>
        if (ts == to) constRows() else spark.range(0).select()
      case (V(sv), T(t)) => constRows(sv -> ec.termCol(t))
      case (T(t), V(ov)) => constRows(ov -> ec.termCol(t))
      case _ => throw new IllegalStateException(
        s"zero-length path without a constant end: $s $o")
    }
  }

  /** ASK: one row, one boolean column `ask` — lazily planned (the
    * pattern is limited to a single row before the existence count). */
  def runAsk(quads: DataFrame, op: Op): DataFrame =
    new Compiler(quads).compile(op)
      .select(lit(1).as("__x")).limit(1)
      .agg((count(col("__x")) > 0).as("ask"))

  /** SPARQL 1.1 Update as a pure quad-table transform: returns the
    * updated quads DataFrame (the store is immutable parquet — the
    * caller commits the result by writing it as the new table version;
    * nothing here makes that write atomic for concurrent readers).
    * Semantics per §3.1.3: the WHERE solutions instantiate the
    * DELETE template, then the INSERT template, and deletion is
    * applied before insertion; existing duplicate source quads are
    * preserved (documented source-duplicate contract), deletion
    * removes every copy of a matched quad, and insertion adds one copy
    * of each not-already-present quad. */
  def runUpdate(quads: DataFrame, u: SparqlParser.Update): DataFrame =
    u match {
      case _: SparqlParser.InsertData | _: SparqlParser.DeleteData |
           _: SparqlParser.Modify => runModify(quads, u)
      case other => runGraphManagement(quads, other)
    }

  /** A ';'-separated update request: each operation sees the store
    * state left by the previous one (lazily — the whole request is
    * one composed plan; the caller materializes once). */
  /** A ';'-sequence applies each statement to the previous result. Left
    * lazy, statement k's plan embeds statement k-1's WHOLE plan at every
    * point it reads the store (an update reads it 2-3×: delete anti-join,
    * insert anti-join, union) — plan size goes multiplicative in the
    * number of statements. Materializing between statements (but not
    * after the last, which stays a lazy transform for the caller) keeps
    * the chain additive: each statement reads cached quad blocks once. */
  def runUpdates(quads: DataFrame, us: List[SparqlParser.Update]): DataFrame =
    us match {
      case Nil => quads
      case u :: Nil => runUpdate(quads, u)
      case u :: rest => runUpdates(GraftColumnBridge.freshLeaf(
        runUpdate(quads, u).localCheckpoint(eager = false)), rest)
    }

  private def runModify(quads: DataFrame, u: SparqlParser.Update): DataFrame = {
    import graft.rdf.TermKind
    val (del, ins, where, using, withGraph) = u match {
      case SparqlParser.InsertData(qs) =>
        (Nil, qs, Singleton: Op, SparqlParser.NoDataset, None)
      case SparqlParser.DeleteData(qs) =>
        (qs, Nil, Singleton: Op, SparqlParser.NoDataset, None)
      case SparqlParser.Modify(d, i, w, us, wg) =>
        (d, i, BgpOptimizer.optimize(w), us, wg)
      case other =>
        throw new IllegalArgumentException(s"not a modify form: $other")
    }
    // dataset for WHERE matching: USING wins over WITH; WITH swaps the
    // default graph for the named graph g but — unlike FROM — leaves
    // the store's named graphs addressable (§3.1.3)
    val matchQuads =
      if (!using.isEmpty) Sparql.applyDataset(quads, using)
      else withGraph match {
        case None => quads
        case Some(g) =>
          val named = quads.filter(quads("g").isNotNull)
          val promoted = quads
            .filter(quads("g").isNotNull && quads("g").getField("lex") === g.lex)
            .withColumn("g", lit(null).cast(TermSchema.termType))
          named.union(promoted)
      }
    val c = new Compiler(matchQuads)
    val bindings0 = c.compile(where)
    // one WHERE execution feeds every template quad
    val bindings =
      if (del.size + ins.size > 1) bindings0.localCheckpoint(eager = false)
      else bindings0
    val ec = new ExprCompiler(n =>
      if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm)
    def resolve(x: VarOrTerm): Column = x match {
      case V(n) =>
        if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm
      case T(t) => ec.termCol(t)
    }
    def gCol(g: GraphSpec): Column = g match {
      // WITH makes g the default TARGET graph for template quads
      case DefaultGraph => withGraph.map(ec.termCol)
        .getOrElse(lit(null).cast(TermSchema.termType))
      case GraphTerm(t) => ec.termCol(t)
      case GraphVar(n) => resolve(V(n))
    }
    def instantiate(tpl: List[SparqlParser.QuadTpl],
                    names: (String, String, String, String)): Option[DataFrame] =
      tpl.map { q =>
        val (sn, pn, on, gn) = names
        bindings
          .select(resolve(q.s).as(sn), resolve(q.p).as(pn),
            resolve(q.o).as(on), gCol(q.g).as(gn))
          .filter(col(sn).isNotNull && col(pn).isNotNull && col(on).isNotNull &&
            col(sn).getField("kind") =!= TermKind.LITERAL &&
            col(pn).getField("kind") === TermKind.IRI &&
            (col(gn).isNull || col(gn).getField("kind") === TermKind.IRI))
      }.reduceOption(_ union _).map(_.dropDuplicates())

    val afterDel = instantiate(del, ("ds", "dp", "do", "dg")) match {
      case None => quads
      case Some(d) =>
        quads.join(d,
          quads("s") <=> d("ds") && quads("p") <=> d("dp") &&
            quads("o") <=> d("do") && quads("g") <=> d("dg"), "left_anti")
    }
    instantiate(ins, ("s", "p", "o", "g")) match {
      case None => afterDel
      case Some(i0) =>
        // add only quads not already present AFTER deletion, so a quad
        // that is both deleted and re-inserted ends up present
        afterDel.union(antiPresent(i0, afterDel))
    }
  }

  /** Rows of `data` whose (s,p,o,g) quad is absent from `store`. Both
    * sides share column names and often lineage (store is usually
    * derived from the same scan), so the store side is renamed before
    * the anti join — comparing same-lineage attributes would otherwise
    * lean on Spark's dataset-id disambiguation (and warn "trivially
    * true equals predicate"). */
  private def antiPresent(data: DataFrame, store: DataFrame): DataFrame = {
    val st = store.select(col("s").as("__xs"), col("p").as("__xp"),
      col("o").as("__xo"), col("g").as("__xg"))
    data.join(st,
      data("s") <=> st("__xs") && data("p") <=> st("__xp") &&
        data("o") <=> st("__xo") && data("g") <=> st("__xg"), "left_anti")
  }

  /** SPARQL 1.1 Update §3.2 graph management as pure quad-table
    * transforms. Graphs exist exactly while they hold quads (the
    * quad-set model — same as rdf4j's memory store), so CREATE is a
    * no-op, DROP ≡ CLEAR, and the "graph does not exist" errors the
    * spec lets stores raise never apply; SILENT is accepted
    * everywhere and only changes LOAD (a failed read degrades to a
    * no-op instead of throwing). ADD/COPY/MOVE follow §3.2.5-7: COPY
    * clears the destination first, MOVE also clears the source, ADD
    * keeps both; a same-graph source and destination is a no-op.
    * Insertion adds one copy of each not-already-present quad
    * (matching runModify's INSERT), while COPY/MOVE write the source's
    * quad SET into the cleared destination. */
  private def runGraphManagement(quads: DataFrame,
                                 u: SparqlParser.Update): DataFrame = {
    import SparqlParser._
    val ec = new ExprCompiler(_ => TermFns.nullTerm)
    def matches(ref: GraphRef): Column = ref match {
      case DefaultRef => col("g").isNull
      case NamedRef(i) =>
        col("g").isNotNull && col("g").getField("lex") === i.lex
      case AllNamedRef => col("g").isNotNull
      case AllGraphsRef => lit(true)
    }
    def clear(df: DataFrame, ref: GraphRef): DataFrame = df.filter(!matches(ref))
    def retag(df: DataFrame, ref: GraphRef): DataFrame = ref match {
      case DefaultRef =>
        df.withColumn("g", lit(null).cast(TermSchema.termType))
      case NamedRef(i) => df.withColumn("g", ec.termCol(i))
      case other =>
        throw new IllegalArgumentException(s"not a target graph: $other")
    }
    // one copy of each not-already-present quad (INSERT semantics)
    def insertInto(store: DataFrame, data: DataFrame): DataFrame =
      store.union(antiPresent(data.dropDuplicates(), store))
    u match {
      case Create(_, _) => quads // graphs exist implicitly
      case Clear(ref, _) => clear(quads, ref)
      case Drop(ref, _) => clear(quads, ref)
      case AddGraph(src, dst, _) =>
        if (src == dst) quads
        else insertInto(quads, retag(quads.filter(matches(src)), dst))
      case CopyGraph(src, dst, _) =>
        if (src == dst) quads
        else clear(quads, dst)
          .union(retag(quads.filter(matches(src)), dst).dropDuplicates())
      case MoveGraph(src, dst, _) =>
        if (src == dst) quads
        else clear(clear(quads, dst), src)
          .union(retag(quads.filter(matches(src)), dst).dropDuplicates())
      case Load(doc, into, silent) =>
        val spark = quads.sparkSession
        try {
          val path = doc.lex match {
            case p if p.startsWith("file://") => p.stripPrefix("file://")
            case p if p.startsWith("file:") => p.stripPrefix("file:")
            case p => p
          }
          val loaded = graft.io.QuadsIO.read(spark, path)
          insertInto(quads, into match {
            case Some(g) => loaded.withColumn("g", ec.termCol(g))
            case None => loaded
          })
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (silent) quads
            else throw new IllegalArgumentException(
              s"LOAD <${doc.lex}> failed: ${e.getMessage}", e)
        }
      case other =>
        throw new IllegalArgumentException(s"not a graph-management form: $other")
    }
  }

  /** DESCRIBE as a Concise Bounded Description: all quads whose
    * subject is a described resource, plus — transitively — the quads
    * of every blank node reached in object position (the description
    * form is implementation-defined per SPARQL 1.1 §16.4; CBD is the
    * de-facto standard one). Returns a quads DataFrame like CONSTRUCT.
    * The bnode closure is a driver-side semi-naive loop (rounds =
    * bnode nesting depth, anti-join against the seen set handles
    * cycles); the resource set (constants ∪ variable bindings from
    * WHERE) is left to AQE to broadcast when small — a forced
    * broadcast would OOM the driver on DESCRIBE ?s WHERE { ?s ?p ?o }
    * over a large corpus. */
  def runDescribe(quads: DataFrame, targets: List[VarOrTerm], star: Boolean,
                  opOpt: Option[Op]): DataFrame = {
    val spark = quads.sparkSession
    val consts = targets.collect { case T(t) => t }
    val vars = targets.collect { case V(n) => n }
    val varDf: Option[DataFrame] = opOpt.flatMap { op0 =>
      val b = new Compiler(quads).compile(op0)
      val names =
        // DESCRIBE * mirrors SELECT *: user-visible variables only —
        // parser-generated _anon columns (path midpoints, bnode
        // property lists) are not resources the user asked about
        if (star) b.columns.toSeq.filterNot(_.startsWith("_anon"))
        else vars.filter(b.columns.contains)
      // ONE pass over the WHERE solutions: stack the candidate columns
      // and explode (a per-variable select would re-execute the whole
      // subplan once per variable)
      if (names.isEmpty) None
      else Some(
        b.select(explode(array(names.map(b(_)): _*)).as("__t"))
          .filter(col("__t").isNotNull))
    }
    val constDf: Option[DataFrame] =
      if (consts.isEmpty) None
      else {
        val rows: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList()
        consts.foreach(t => rows.add(
          org.apache.spark.sql.Row(graft.rdf.TermSchema.toRow(t))))
        Some(spark.createDataFrame(rows, StructType(Seq(
          StructField("__t", TermSchema.termType, nullable = false)))))
      }
    (varDf ++ constDf).reduceOption(_ union _) match {
      case None => quads.limit(0)
      case Some(ts) =>
        import graft.rdf.TermKind
        def materialize(df: DataFrame): DataFrame =
          GraftColumnBridge.freshLeaf(df.localCheckpoint(eager = true))
        var described = materialize(ts.dropDuplicates())
        var delta = described
        var result: DataFrame = null
        var done = delta.isEmpty
        while (!done) {
          // delta sets are disjoint from `described` by construction,
          // so the per-round quad batches never overlap — plain union
          val newQuads = materialize(
            quads.join(delta, quads("s") === delta("__t"), "left_semi"))
          result = if (result == null) newQuads else result.union(newQuads)
          val bnObjs = newQuads
            .filter(col("o").getField("kind") === TermKind.BNODE)
            .select(col("o").as("__t")).dropDuplicates()
          delta = materialize(bnObjs.join(described, Seq("__t"), "left_anti"))
          if (delta.isEmpty) done = true
          else described = materialize(described.union(delta))
        }
        if (result == null) quads.limit(0) else result
    }
  }

  /** CONSTRUCT: instantiate the template once per WHERE solution,
    * returning a deduplicated quads DataFrame (graph semantics).
    * Solutions that leave a template position unbound, or would put a
    * literal in subject position / non-IRI in predicate position, drop
    * that triple (SPARQL 1.1 §16.2). Template blank-node labels mint a
    * fresh node per solution (shared within the solution). */
  def runConstruct(quads: DataFrame, template: List[(VarOrTerm, VarOrTerm, VarOrTerm)],
                   op: Op): DataFrame = {
    import graft.rdf.TermKind
    val c = new Compiler(quads)
    val bindings0 = c.compile(op)
    val needsBnode = template.exists(t => Seq(t._1, t._2, t._3).exists {
      case V(n) => n.startsWith("_anonbn_")
      case _ => false
    })
    // One select per template triple consumes `bindings`: materialize it
    // so (a) the WHERE plan executes once, not per triple, and (b) the
    // per-solution uuid() is FROZEN — re-execution would re-draw it and
    // break blank-node sharing across the triples of one solution.
    val bindings1 =
      if (needsBnode) bindings0.withColumn("__sol", expr("uuid()"))
      else bindings0
    val bindings =
      if (needsBnode || template.size > 1) bindings1.localCheckpoint(eager = false)
      else bindings1
    val ec = new ExprCompiler(n =>
      if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm)
    def resolve(x: VarOrTerm): Column = x match {
      case V(n) if n.startsWith("_anonbn_") => // fresh bnode per solution
        TermFns.bnodeTerm(concat(lit(n.stripPrefix("_anonbn_") + "-"), col("__sol")))
      case V(n) =>
        if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm
      case T(t) => ec.termCol(t)
    }
    val parts = template.map { case (s, p, o) =>
      val (sc, pc, oc) = (resolve(s), resolve(p), resolve(o))
      bindings
        .select(sc.as("s"), pc.as("p"), oc.as("o"),
          lit(null).cast(TermSchema.termType).as("g"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull &&
          col("s").getField("kind") =!= TermKind.LITERAL &&
          col("p").getField("kind") === TermKind.IRI)
    }
    parts.reduce(_ union _).dropDuplicates()
  }

  /** CONSTRUCT over a STREAMING quads DataFrame: the same template
    * instantiation as [[runConstruct]] minus what streams cannot do —
    * no localCheckpoint (illegal on a streaming plan; the template
    * branches re-read the incremental source instead), no final
    * dropDuplicates (stateful — callers wanting set semantics add a
    * watermark + dropDuplicatesWithinWatermark downstream; BAG output
    * is the documented stream contract), and blank-node templates are
    * rejected (per-solution uuid sharing across branches needs the
    * materialization a stream cannot have). */
  def runConstructStream(quads: DataFrame,
                         template: List[(VarOrTerm, VarOrTerm, VarOrTerm)],
                         op: Op): DataFrame = {
    import graft.rdf.TermKind
    require(!template.exists(t => Seq(t._1, t._2, t._3).exists {
      case V(n) => n.startsWith("_anonbn_")
      case _ => false
    }), "blank-node CONSTRUCT templates are not streamable")
    val bindings = new Compiler(quads).compile(op)
    val ec = new ExprCompiler(n =>
      if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm)
    def resolve(x: VarOrTerm): Column = x match {
      case V(n) =>
        if (bindings.columns.contains(n)) bindings(n) else TermFns.nullTerm
      case T(t) => ec.termCol(t)
    }
    template.map { case (s, p, o) =>
      bindings
        .select(resolve(s).as("s"), resolve(p).as("p"), resolve(o).as("o"),
          lit(null).cast(TermSchema.termType).as("g"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull &&
          col("s").getField("kind") =!= TermKind.LITERAL &&
          col("p").getField("kind") === TermKind.IRI)
    }.reduce(_ union _)
  }

  /** Flatten term-struct result columns to their lexical forms
    * (convenience for harness/oracle comparison). */
  def lexical(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).getField("lex").as(c)).toIndexedSeq: _*)
}

final class Compiler(quads: DataFrame) {
  private val spark: SparkSession = quads.sparkSession
  import Algebra.{Filter => AFilter, Distinct => ADistinct}

  private def exprs(df: DataFrame): ExprCompiler =
    new ExprCompiler(n =>
      if (df.columns.contains(n)) df(n) else nullTerm)

  def compile(op: Op): DataFrame = op match {
    case Scan(s, p, o, g) => compileScan(s, p, o, g)

    case Singleton => spark.range(1).select()

    case Values(vs, rows) =>
      val schema = StructType(vs.map(v =>
        StructField(v, TermSchema.termType, nullable = true)))
      val data = new java.util.ArrayList[Row]()
      rows.foreach { r =>
        data.add(Row(r.map(_.map(TermSchema.toRow).orNull): _*))
      }
      spark.createDataFrame(data, schema)

    case Join(l, r) =>
      Compiler.compatJoin(compileV(l), compileV(r), assuredVars(l),
        assuredVars(r), "inner")(_ => None)

    case LeftJoin(l, r, cond) =>
      // [NOT] EXISTS conjuncts in an OPTIONAL's condition can't ride the
      // join condition (they lower to semi/anti joins, not Columns).
      // When they reference only right-side variables, pre-filtering the
      // right side is equivalent; left-referencing ones are unsupported.
      val cs = cond.toList.flatMap(conjuncts).map(normalizeNotExists)
      val (existsCs, scalarCs) = cs.partition(_.isInstanceOf[ExistsE])
      val r2 = existsCs.foldLeft(r) { (acc, e) =>
        // sound only when every left-side variable the EXISTS touches is
        // ASSURED on the right (then the right row's value IS the merged
        // value); merely-possible right bindings can be NULL rows from
        // other UNION branches, which would compat-match anything
        if ((exprVars(e).intersect(vars(l)) -- assuredVars(r)).nonEmpty)
          throw new IllegalArgumentException(
            "EXISTS in an OPTIONAL condition may not reference left-side " +
              "variables that are not assured-bound in the optional pattern")
        AFilter(acc, e)
      }
      // the scalar condition evaluates on the MERGED row (the
      // spec-correct OPTIONAL-with-FILTER the reference approximates by
      // pre-filtering the right side, Interpreter.scala:467-479)
      Compiler.compatJoin(compileV(l), compileV(r2), assuredVars(l),
        assuredVars(r2), "left_outer") { s =>
        val ec = new ExprCompiler(v => s.merged(v).getOrElse(nullTerm))
        scalarCs.map(ec.bool).reduceOption(_ && _)
      }

    case Union(l, r) => Compiler.unionPadded(compileV(l), compileV(r), nullTerm)

    case Minus(l, r) =>
      Compiler.minus(compileV(l), compileV(r), assuredVars(l), assuredVars(r))

    case AFilter(child, cond) => compileFilter(child, cond)

    case Extend(child, name, expr) =>
      val df = compileV(child)
      df.withColumn(name, exprs(df).value(expr))

    case Project(child, vs) =>
      val df = compileV(child)
      df.select(vs.map(v =>
        (if (df.columns.contains(v)) df(v) else nullTerm).as(v)): _*)

    case ADistinct(child) => compileV(child).dropDuplicates()
    case Reduced(child) => compileV(child).dropDuplicates()

    case Group(child, keys, aggs) => compileGroup(child, keys, aggs)

    case Order(child, sortKeys) =>
      val df = compileV(child)
      val ec = exprs(df)
      val cols = sortKeys.map { case (e, asc) =>
        val k = sortKey(ec.value(e))
        if (asc) k.asc else k.desc
      }
      df.orderBy(cols: _*)

    case Slice(child, offset, limit) =>
      // offset()/limit() take Int; a silent .toInt would WRAP above
      // 2^31 (LIMIT 2^32+5 → limit(5)). A LIMIT beyond Int.MaxValue
      // cannot constrain a Spark result that far anyway — clamp; an
      // OFFSET that large cannot be honored — refuse loudly.
      var df = compileV(child)
      if (offset > Int.MaxValue) throw new IllegalArgumentException(
        s"OFFSET $offset exceeds the supported maximum ${Int.MaxValue}")
      if (offset > 0) df = df.offset(offset.toInt)
      limit.foreach(n =>
        df = df.limit(math.min(n, Int.MaxValue.toLong).toInt))
      df

    case ZeroLengthPath(s, o, g) => compileZeroLength(s, o, g)

    case Service(T(endpoint), child, silent) =>
      Sparql.serviceFor(endpoint.lex) match {
        // the service pattern compiles against the REGISTERED dataset —
        // a fresh Compiler, so nested SERVICE/EXISTS inside it resolve
        // against that dataset (and the registry) too
        case Some(remote) => new Compiler(remote).compile(child)
        case None if silent => spark.range(1).select() // one empty solution
        case None => throw new IllegalArgumentException(
          s"no dataset registered for SERVICE <${endpoint.lex}> " +
            "(use Sparql.registerService, or SERVICE SILENT to tolerate)")
      }

    case Service(V(epVar), child, _) =>
      // variable endpoint: union over the registry snapshot, each branch
      // evaluated against its dataset with the variable bound to the
      // endpoint IRI (sorted for a deterministic plan). A child that
      // already binds the variable keeps its binding and the branch
      // filters on equality instead. An empty registry yields zero
      // solutions (SILENT or not — iteration cannot fail).
      val childCols = varsOrdered(child)
      val branches = Sparql.registeredServices.toList.sortBy(_._1)
        .map { case (iri, remote) =>
          val base0 = new Compiler(remote).compile(child)
          val base = childCols.filterNot(base0.columns.contains)
            .foldLeft(base0)((d, v) => d.withColumn(v, nullTerm))
          val epCol = exprs(base).termCol(graft.rdf.Iri(iri))
          if (childCols.contains(epVar))
            // compatibility semantics: a child solution with the
            // endpoint var UNBOUND merges with {epVar → endpoint IRI}
            // (so it survives, taking the IRI); a bound one must equal
            base.filter(base(epVar).isNull || base(epVar) === epCol)
              .withColumn(epVar, epCol)
          else base.withColumn(epVar, epCol)
        }
      branches.reduceOption(_ unionByName _).getOrElse {
        val cols = (childCols :+ epVar).distinct
        spark.range(0).select(cols.map(nullTerm.as(_)): _*)
      }

    case Materialized(df, _, _) => df

    case alp: ArbitraryLengthPath => compileALP(alp)
  }

  /** compile() + guarantee every variable of `op` exists as a column. */
  private def compileV(op: Op): DataFrame = {
    val df = compile(op)
    val missing = varsOrdered(op).filterNot(df.columns.contains)
    missing.foldLeft(df)((d, v) => d.withColumn(v, nullTerm))
  }

  // ----- scan -----
  private def compileScan(s: VarOrTerm, p: VarOrTerm, o: VarOrTerm,
                          g: GraphSpec): DataFrame = {
    val ec = exprs(quads)
    var df = quads
    var conds = List.empty[Column]
    g match {
      case DefaultGraph => conds ::= df("g").isNull
      case GraphTerm(t) => conds ::= (df("g") === ec.termCol(t))
      case GraphVar(_) => conds ::= df("g").isNotNull
    }
    Seq(("s", s), ("p", p), ("o", o)).foreach {
      case (c, T(t)) => conds ::= (df(c) === ec.termCol(t))
      case _ => ()
    }
    // repeated variables (?x :p ?x) → positional equality
    val varPos = scanVarPositions(s, p, o, g)
    repeatedVarPairs(varPos).foreach { case (c1, c2) =>
      conds ::= (df(c1) === df(c2))
    }
    conds.foreach(c => df = df.filter(c))
    df.select(firstOccurrence(varPos)
      .map { case (n, c) => col(c).as(n) }.toIndexedSeq: _*)
  }

  // ----- FILTER (incl. EXISTS / NOT EXISTS lowering) -----
  private def compileFilter(child: Op, cond: Expr): DataFrame = {
    val (existsConjs, scalarConjs) =
      conjuncts(cond).map(normalizeNotExists).partition {
        case _: ExistsE => true
        case _ => false
      }
    var df = compileV(child)
    val childVars = vars(child)
    if (scalarConjs.nonEmpty) {
      val ec = exprs(df)
      df = df.filter(scalarConjs.map(ec.bool).reduce(_ && _))
    }
    existsConjs.foreach { case ExistsE(pattern, negated) =>
      df = compileExists(df, childVars, assuredVars(child), pattern, negated)
    case _ => ()
    }
    df
  }

  /** FILTER [NOT] EXISTS as a true semi/anti join (the reference's
    * EXISTS inflates duplicates, Interpreter.scala:921-926; ours
    * doesn't). Correlated inner FILTERs (free variables referencing the
    * outer scope) are lifted into the join condition — SPARQL's
    * substitute() semantics. */
  private def compileExists(left: DataFrame, leftVars: Set[String],
                            leftAssured: Set[String],
                            pattern: Op, negated: Boolean): DataFrame = {
    // lift top-level filter conjuncts that reference outer variables
    def strip(op: Op): (Op, List[Expr]) = op match {
      case AFilter(c, e) =>
        val (c2, lifted) = strip(c)
        val (corr, local) = conjuncts(e).partition(x =>
          (exprVars(x) -- vars(c2)).intersect(leftVars).nonEmpty)
        val kept = local.reduceOption((a, b) => FuncE("&&", List(a, b)))
          .map(AFilter(c2, _)).getOrElse(c2)
        (kept, lifted ++ corr)
      case Join(a, b) =>
        val (a2, la) = strip(a); val (b2, lb) = strip(b)
        (Join(a2, b2), la ++ lb)
      case other => (other, Nil)
    }
    val (cleaned, correlated) = strip(pattern)
    // residual correlation (filters under UNION/OPTIONAL/MINUS branches
    // that still reference outer variables) would silently evaluate the
    // outer variable as NULL — reject loudly instead
    def checkResidual(op: Op): Unit = op match {
      case AFilter(c, e) =>
        val free = exprVars(e) -- vars(c)
        if (free.intersect(leftVars).nonEmpty)
          throw new IllegalArgumentException(
            "correlated FILTER nested under UNION/OPTIONAL/MINUS inside EXISTS is not supported")
        checkResidual(c)
      case Join(a, b) => checkResidual(a); checkResidual(b)
      case Union(a, b) => checkResidual(a); checkResidual(b)
      case LeftJoin(a, b, c) =>
        if (c.exists(e => (exprVars(e) -- vars(a) -- vars(b))
          .intersect(leftVars).nonEmpty))
          throw new IllegalArgumentException(
            "correlated OPTIONAL condition inside EXISTS is not supported")
        checkResidual(a); checkResidual(b)
      case Minus(a, b) => checkResidual(a); checkResidual(b)
      case Extend(c, _, e) =>
        if ((exprVars(e) -- vars(c)).intersect(leftVars).nonEmpty)
          throw new IllegalArgumentException(
            "correlated BIND inside EXISTS is not supported")
        checkResidual(c)
      case Project(c, _) => checkResidual(c)
      case ADistinct(c) => checkResidual(c)
      case Reduced(c) => checkResidual(c)
      case Group(c, _, aggs) =>
        if (aggs.exists { case (_, a) =>
          a.expr.exists(e => (exprVars(e) -- vars(c)).intersect(leftVars).nonEmpty)
        }) throw new IllegalArgumentException(
          "correlated aggregate inside EXISTS is not supported")
        checkResidual(c)
      case Order(c, keys) =>
        if (keys.exists { case (e, _) =>
          (exprVars(e) -- vars(c)).intersect(leftVars).nonEmpty
        }) throw new IllegalArgumentException(
          "correlated ORDER BY inside EXISTS is not supported")
        checkResidual(c)
      case Slice(c, _, _) => checkResidual(c)
      // strip() treats SERVICE as opaque (lifting a filter out of it
      // would change what the remote evaluates), so any correlated
      // reference inside must be rejected here, not silently NULLed
      case Service(_, c, _) => checkResidual(c)
      case alp: ArbitraryLengthPath => checkResidual(alp.edge)
      case _ => ()
    }
    checkResidual(cleaned)
    // the lifted conjuncts read the merged row, so a var the outer row
    // binds is its outer value wherever the inner pattern leaves it
    // unbound — substitute() semantics
    Compiler.compatJoin(left, compileV(cleaned), leftAssured,
      assuredVars(cleaned), if (negated) "left_anti" else "left_semi") { s =>
      val ec = new ExprCompiler(v => s.merged(v).getOrElse(nullTerm))
      correlated.map(ec.bool).reduceOption(_ && _)
    }
  }

  // ----- GROUP + aggregates -----
  /** All aggregates of a query in ONE groupBy.agg — single shuffle
    * (the reference spends one shuffle per aggregate plus N−1 joins,
    * Interpreter.scala:874-886; SURVEY.md §2.4). Error-poisoning for
    * SUM/AVG (any non-numeric/unbound in the group → unbound result)
    * rides along as flag sub-aggregates in the same pass. */
  private def compileGroup(child: Op, keys: List[String],
                           aggs: List[(String, AggE)]): DataFrame = {
    // GROUP BY on a variable the pattern never binds (e.g. one scoped
    // inside MINUS) is legal SPARQL: every solution maps it to
    // unbound, producing a single group with an unbound key — pad it
    // like compileV pads pattern vars
    val df0 = compileV(child)
    val df = keys.filterNot(df0.columns.contains)
      .foldLeft(df0)((d, v) => d.withColumn(v, nullTerm))
    val ec = exprs(df)

    def aggStruct(a: AggE): Column =
      Compiler.aggAccumulator(a.expr.map(ec.value), df.columns.map(col), a)

    def finish(name: String, a: AggE): Column =
      Compiler.aggFinish(col(s"__agg_$name"), a)

    // DISTINCT SUM/AVG: dedup (keys, term) FIRST, then aggregate the
    // deduped stream non-distinct in a side pass. Costs one extra
    // shuffle + key join per such aggregate (they are rare).
    val (distSumAvg, mainAggs) = aggs.partition { case (_, a) =>
      a.distinct && (a.func == "SUM" || a.func == "AVG")
    }

    var grouped = Compiler.groupPass(df, keys,
      mainAggs.map { case (n, a) => aggStruct(a).as(s"__agg_$n") })
    distSumAvg.foreach { case (n, a) =>
      val deduped = df
        .select(keys.map(col) :+ ec.value(a.expr.get).as("__v"): _*)
        .dropDuplicates()
      grouped = Compiler.joinSidePass(grouped, deduped, deduped("__v"), keys,
        s"__agg_$n", a)
    }

    if (aggs.isEmpty) grouped
    else {
      val out = keys.map(col) ++ aggs.map { case (n, a) => finish(n, a).as(n) }
      grouped.select(out: _*)
    }
  }

  // ----- property paths -----
  /** All graph nodes (subjects ∪ objects) within a graph scope. */
  private def graphNodes(g: GraphSpec): DataFrame = {
    val ec = exprs(quads)
    val scoped = g match {
      case DefaultGraph => quads.filter(quads("g").isNull)
      case GraphTerm(t) => quads.filter(quads("g") === ec.termCol(t))
      case GraphVar(_) => quads.filter(quads("g").isNotNull)
    }
    Compiler.graphNodes(scoped, g match {
      case GraphVar(n) => Some(() => col("g").as(n))
      case _ => None
    })
  }

  /** Distinct named-graph IRIs (for binding GRAPH ?g in bound-end
    * zero-length paths: the solution repeats once per named graph). */
  private def namedGraphs(gv: String): DataFrame =
    quads.filter(quads("g").isNotNull).select(col("g").as(gv)).dropDuplicates()

  private def compileZeroLength(s: VarOrTerm, o: VarOrTerm,
                                g: GraphSpec): DataFrame = (s, o) match {
    case (V(sv), V(ov)) if sv == ov =>
      graphNodes(g).withColumnRenamed("node", sv)
    case (V(sv), V(ov)) =>
      val n = graphNodes(g)
      n.select((col("node").as(sv) +: col("node").as(ov) +:
        n.columns.filter(_ != "node").map(col).toSeq): _*)
    case _ => Compiler.zeroLengthConst(spark, s, o, g, namedGraphs)
  }

  /** Transitive closure by semi-naive iteration — the driver-side loop
    * Beam's static DAG cannot express (reference README.md:60-63). Each
    * round joins the frontier to the edge set and removes already-seen
    * pairs; localCheckpoint cuts lineage so plans stay bounded. When an
    * endpoint is constant the walk starts there (frontier ≪ full
    * closure — the difference between O(V·E) and O(reachable) at scale). */
  private def compileALP(alp: ArbitraryLengthPath): DataFrame = {
    val ec = exprs(quads)
    // Materialize with FRESH attribute ids each round: iterative
    // self-joins/unions over localCheckpoint'd plans trip Catalyst's
    // attribute resolution (duplicate exprIds across both sides), so we
    // re-wrap the checkpointed RDD as a brand-new leaf plan. LAZY
    // checkpoint: the per-round emptiness probe (`isEmpty`) is the
    // materialization trigger, so each round runs ONE job instead of a
    // blocking checkpoint job followed by the probe.
    def materialize(df: DataFrame): DataFrame =
      GraftColumnBridge.freshLeaf(df.localCheckpoint(eager = false))
    // Within GRAPH ?g, the closure must stay INSIDE one named graph:
    // the graph column rides the edge set and joins round-to-round.
    val gVar = graphVar(alp.g)
    val gSel = gVar.map(n => col(n).as("g")).toSeq
    val gKey = gVar.map(_ => "g").toSeq
    val edges = materialize(
      compileV(alp.edge)
        .select(gSel ++ Seq(col(alp.innerS).as("src"), col(alp.innerO).as("dst")): _*)
        .dropDuplicates())

    /** Zero-length (t,t) rows — per named graph under GRAPH ?g. */
    def zeroSelf(term: Column): DataFrame = gVar match {
      case Some(_) =>
        namedGraphs("g").select(col("g"), term.as("src"), term.as("dst"))
      case None =>
        spark.range(1).select(term.as("src"), term.as("dst"))
    }
    // zero-length var-var domain, graph column canonically named "g"
    def nodes(): DataFrame = gVar match {
      case Some(n) => graphNodes(alp.g).withColumnRenamed(n, "g")
      case None => graphNodes(alp.g)
    }

    val paths = Compiler.alpPaths(alp, edges, ec.termCol, nodes, zeroSelf)
    Compiler.alpFinish(paths, alp, ec.termCol)._1
  }
}

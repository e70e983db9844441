package graft.kg

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Basic-graph-pattern (BGP) matching over the materialized edges table —
 * the SPARQL query primitive a KG built by this engine is FOR (reference
 * scope ends at parsing, e.g. NtParser.scala:717-803 hands triples to the
 * caller; querying the resulting graph is the natural next stage and is
 * expressed here Spark-first instead of via a bespoke join engine).
 *
 * A pattern is a list of triple patterns whose positions are variables or
 * constants. Matching is declarative relational algebra:
 *
 *   - each triple pattern becomes a SELECT over the edges frame with its
 *     constants as equality predicates — Catalyst pushes them into the
 *     parquet scan (`PushedFilters` on pred / obj_id), so a selective
 *     pattern reads a fraction of the edge list, not all of it;
 *   - patterns are combined by equi-joins on their shared variables
 *     (hash-partitioned on sha256 node ids — uniformly distributed,
 *     skew-free keys), in GREEDY SELECTIVITY ORDER (below), and AQE
 *     broadcasts whichever sides turn out runtime-small. Star patterns
 *     (shared subject) all join on subj_id, so over the E7 bucketed
 *     edges table every hop is Exchange-free.
 *
 * JOIN-ORDER SELECTION: patterns are joined most-selective-first by the
 * classic BGP heuristic (the static ordering RDF-3X-style engines use):
 * start from the pattern with the most constants, then repeatedly join
 * the CONNECTED pattern with the most bound positions — a constant
 * counts double, a variable already bound by the joined prefix counts
 * once — with the caller's order as tiebreak. Equi-joins commute, so
 * ordering changes only the intermediate sizes, never the result (the
 * kg_bgp_reorder driver gate pins a deliberately worst-case-ordered
 * query hash-equal to its well-ordered twin, and PlanAuditSpec pins the
 * selective pattern at the head of the join tree).
 *
 * Disconnected patterns (>= 2 components with no shared variable) are
 * rejected instead of silently cross-joining: at KG scale a cartesian
 * product is always a bug, and the caller can add the linking pattern
 * or run the components as separate queries.
 *
 * PROPERTY PATHS: a predicate position may hold a [[PathPat]], any
 * SPARQL 1.1 property path as one recursive [[PathAst]], evaluated by
 * one function (`pathRel`) into a (subj_id, obj_id) relation. Leaves
 * and negated sets are pushed scan filters, an alternative of distinct
 * leaf predicates is ONE pushed IN-filter scan, inverse swaps the id
 * columns, a sequence (`<p1>/<p2>/...`) composes one relation per part
 * via equi-joins on the intermediate node ids (bag semantics — one
 * binding row per distinct route, as SPARQL defines for `/`), and `+`
 * is the TRANSITIVE CLOSURE of the inner relation, computed by
 * `GraphOps.transitiveClosure` (iterative doubling, O(log diameter)
 * self-joins). Closure size is inherently O(n * reach) — at web scale
 * you put `+` on curated hierarchy predicates (subClassOf, partOf over
 * a vocabulary), never on instance-scale predicates; transitiveClosure's
 * maxIter bounds runaway inputs.
 *
 * The group operators around a BGP — OPTIONAL, MINUS, UNION, FILTER,
 * BIND, VALUES and the EXISTS probes — are nodes of the SPARQL algebra
 * tree ([[Sparql.Pattern]]), run by [[Sparql.evaluate]].
 *
 * Bag semantics (standard BGP): no implicit distinct. Binding columns
 * are emitted in VARIABLE-NAME ORDER (so results are independent of the
 * join order the optimizer picks).
 */
object Bgp {

  /** One position of a triple pattern: a named variable or a constant.
    * Constants match the edges-frame columns as-is: node ids (see
    * [[iriId]]/[[litId]]) in subject/object position, the predicate IRI
    * string in predicate position. */
  sealed trait TermPat
  final case class V(name: String) extends TermPat
  final case class C(value: String) extends TermPat
  /** The SPARQL 1.1 property-path algebra, recursively composable — the
    * one form of every path in predicate position (a [[PathPat]]). A
    * bare predicate is a [[C]], not a `PLeaf`, so it keeps the `pred`
    * column and a variable GRAPH. Every shape compiles through one
    * evaluator, `pathRel`; its one shape-specific plan is the
    * alternative of distinct leaf predicates, which is a single pushed
    * IN-filter scan instead of a union of scans. */
  sealed trait PathAst
  /** One predicate's forward edges. */
  final case class PLeaf(pred: String) extends PathAst
  /** `^path` — the inverse relation (id columns swapped). */
  final case class PInverse(inner: PathAst) extends PathAst
  /** `p1/p2/...` — relation composition, one equi-join per boundary on
    * the intermediate node ids (uniform sha256, skew-free), nothing but
    * two id columns ever crossing a join. */
  final case class PSequence(parts: Seq[PathAst]) extends PathAst
  /** `p1|p2|...` — bag union of the branch relations (SPARQL path
    * evaluation: each distinct route yields one row, so `<p>|<p>`
    * yields every `p` edge twice). */
  final case class PAlternative(parts: Seq[PathAst]) extends PathAst
  /** `path+` / `path*` / `path?` — closure of the composed relation via
    * the same O(log diameter) iterative doubling as `<p>+`; `*`/`?`
    * union the graph-wide zero-length identity (>= \|V\| rows — anchor
    * with a selective co-pattern). */
  final case class PClosure(inner: PathAst, op: Char) extends PathAst
  /** `!(f1|...|^i1|...)` — a negated property set with forward and
    * inverse members (SPARQL 1.1 9.1): the bag union of a forward
    * NOT-IN scan over `fwd` and an id-swapped NOT-IN scan over `inv`;
    * either side may be empty. */
  final case class PNegated(fwd: Seq[String], inv: Seq[String]) extends PathAst
  /** A property path (see [[PathAst]]) in predicate position. */
  final case class PathPat(path: PathAst) extends TermPat

  /** GRAPH-position scoping from a SPARQL dataset clause (13.2):
    * restrict the pattern's quads to the graph-IRI set `values` (a
    * pushed IN-filter on the raw graph column; EMPTY set = matches
    * NOTHING, the spec's empty default/named dataset), and additionally
    * bind the graph IRI to `bind` when the pattern sat inside
    * `GRAPH ?g { ... }` under FROM NAMED. */
  final case class GraphIn(values: Seq[String], bind: Option[String]) extends TermPat

  /** Whether a path's relation CONTAINS the zero-length identity over
    * every graph node — such relations are >= \|V\| rows, the weakest
    * in any query, and must never lead the join order. */
  private def pathHasIdentity(p: PathAst): Boolean = p match {
    case PClosure(_, '*') | PClosure(_, '?') => true
    case PClosure(inner, _)  => pathHasIdentity(inner)
    case PInverse(inner)     => pathHasIdentity(inner)
    case PSequence(parts)    => parts.forall(pathHasIdentity)
    case PAlternative(parts) => parts.exists(pathHasIdentity)
    case PLeaf(_) | PNegated(_, _) => false
  }

  /** A triple pattern, optionally scoped to a NAMED GRAPH (SPARQL
    * `GRAPH g { ... }`): `graph` constrains/binds the edges frame's
    * `graph` column — a RAW graph IRI derived from lineage (see
    * [[Materialize.quads]]), the same raw-IRI space as the pred column.
    * A constant graph is a pushed scan filter; a variable binds the
    * column. Path-form predicates accept a CONSTANT graph (the filter
    * applies before the closure/composition) but not a variable one —
    * a per-graph closure would need a plan this fragment doesn't build. */
  final case class TriplePattern(subj: TermPat, pred: TermPat, obj: TermPat,
                                 graph: Option[TermPat] = None)

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Node id of an IRI constant — same recipe as `Canonicalize.nodeId`
    * over an IRI term (canonical form, n3 `<iri>` rendering, sha256). */
  def iriId(iri: String): String =
    sha256Hex("<" + IriCanon.canonicalString(iri) + ">")

  /** Node id of a literal constant (n3 always prints the datatype,
    * reference types.scala:34-38). A language-tagged literal is typed
    * rdf:langString per RDF 1.1 — the parser always materializes that
    * pairing (terms.scala:49), so defaulting dt to xsd:string alongside
    * a lang tag would hash an id no edge can ever carry. */
  def litId(value: String,
            dt: String = RdfTerm.XsdString,
            lang: Option[String] = None): String = {
    val dtEff = if (lang.isDefined && dt == RdfTerm.XsdString) RdfTerm.RdfLangString else dt
    sha256Hex("\"" + value + "\"" + lang.map("@" + _).getOrElse("") + "^^<" + dtEff + ">")
  }

  /** Variables of a pattern (subject/object, a variable predicate and a
    * variable graph). */
  private def patVars(p: TriplePattern): Set[String] =
    (Seq(p.subj, p.pred, p.obj) ++ p.graph).collect {
      case V(n)                 => n
      case GraphIn(_, Some(n))  => n
    }.toSet

  /** Constant positions of a pattern; a path counts as a constant
    * predicate (it pins the relation to a fixed predicate set / its
    * closure / its composition) — EXCEPT a path whose relation contains
    * the zero-length identity over every graph node (>= \|V\| rows, the
    * WEAKEST relation in the query): counting it selective would put it
    * at the head of the join tree. */
  private def patConsts(p: TriplePattern): Int =
    (Seq(p.subj, p.pred, p.obj) ++ p.graph).count {
      case V(_)             => false
      case PathPat(ast)     => !pathHasIdentity(ast)
      case GraphIn(_, bind) => bind.isEmpty
      case _                => true
    }

  /** The (subj_id, obj_id) relation of a [[PathAst]] — recursive
    * composition: leaves and negated sets are pushed scan filters, inverse
    * swaps columns, sequences fold equi-joins on the intermediate ids
    * (nothing but two id columns ever crosses a join), alternatives are
    * bag unions, closures run the O(log diameter) iterative doubling over
    * the composed inner relation ('*'/'?' union the zero-length identity
    * of the SCOPED graph). */
  private def pathRel(base: DataFrame, p: PathAst): DataFrame = p match {
    case PLeaf(pr) =>
      base.filter(col("pred") === lit(pr)).select("subj_id", "obj_id")
    case PInverse(inner) =>
      pathRel(base, inner)
        .select(col("obj_id").as("subj_id"), col("subj_id").as("obj_id"))
    case PNegated(fwd, inv) =>
      val arms =
        (if (fwd.nonEmpty)
          Seq(base.filter(!col("pred").isin(fwd: _*))
            .select("subj_id", "obj_id"))
        else Nil) ++
        (if (inv.nonEmpty)
          Seq(base.filter(!col("pred").isin(inv: _*))
            .select(col("obj_id").as("subj_id"), col("subj_id").as("obj_id")))
        else Nil)
      require(arms.nonEmpty, "empty negated property set")
      arms.reduce(_ union _)
    case PSequence(parts) =>
      require(parts.sizeIs >= 2, s"a sequence path needs >= 2 parts: $p")
      val rels = parts.zipWithIndex.map { case (pt, i) =>
        pathRel(base, pt)
          .select(col("subj_id").as(s"n$i"), col("obj_id").as(s"n${i + 1}"))
      }
      rels.tail.zipWithIndex.foldLeft(rels.head) { case (acc, (r, i)) =>
        acc.join(r, Seq(s"n${i + 1}")).select(col("n0"), col(s"n${i + 2}"))
      }.select(col("n0").as("subj_id"), col(s"n${parts.size}").as("obj_id"))
    case PAlternative(parts) =>
      require(parts.sizeIs >= 2, s"an alternative path needs >= 2 parts: $p")
      val leaves = parts.collect { case PLeaf(pr) => pr }
      // distinct leaf predicates partition the matching edges, so one
      // pushed IN scan is their bag union; a repeated leaf must keep
      // its second copy of each edge, which only the union gives
      if (leaves.distinct.sizeIs == parts.size)
        base.filter(col("pred").isin(leaves: _*)).select("subj_id", "obj_id")
      else parts.map(pathRel(base, _)).reduce(_ union _)
    case PClosure(inner, op) => closureRel(pathRel(base, inner), op, base)
  }

  /** The `+`, `*` or `?` closure of a (subj_id, obj_id) path relation:
    * `+` is GraphOps.transitiveClosure (irreflexive, see its scaladoc),
    * `*` adds the zero-length path over `base`'s terms, `?` is the hop or
    * the zero-length path. */
  private def closureRel(hop: DataFrame, op: Char, base: DataFrame): DataFrame = op match {
    case '+' => GraphOps.transitiveClosure(hop, "subj_id", "obj_id")
    case '*' => closureRel(hop, '+', base).union(graphIdentity(base)).distinct()
    case '?' => hop.union(graphIdentity(base)).distinct()
    case other => throw new IllegalArgumentException(s"unknown path closure operator '$other'")
  }

  /** One relation per triple pattern: constants -> pushed-down filters,
    * variables -> renamed columns (a variable repeated WITHIN a pattern
    * becomes an equality filter and binds once); a path predicate swaps
    * the base edge relation for the path's (subj_id, obj_id) relation. */
  private[kg] def patternRel(base: DataFrame, p: TriplePattern): DataFrame = {
    Seq(p.subj, p.obj).foreach(t =>
      require(t.isInstanceOf[V] || t.isInstanceOf[C],
        s"path operators are only valid in predicate position: $p"))
    p.graph.foreach(g => require(g.isInstanceOf[V] || g.isInstanceOf[C] ||
      g.isInstanceOf[GraphIn],
      s"a GRAPH term must be a variable or an IRI constant: $p"))
    val isPlainPred = p.pred match {
      case V(_) | C(_) => true
      case _           => false
    }
    // a constant graph scopes the scan BEFORE any path composition (a
    // pushed equality on the raw graph column); a variable graph binds
    // the column and is only decidable for plain predicates — a
    // per-graph closure needs a plan this fragment doesn't build
    val gbase = p.graph match {
      case Some(C(g)) => base.filter(col("graph") === lit(g))
      case Some(V(_)) =>
        require(isPlainPred,
          s"a variable GRAPH cannot scope a path-form predicate: $p")
        base
      case Some(GraphIn(vals, bind)) =>
        require(bind.isEmpty || isPlainPred,
          s"a variable GRAPH cannot scope a path-form predicate: $p")
        // an empty dataset side matches nothing (SPARQL 13.2)
        if (vals.isEmpty) base.filter(lit(false))
        else base.filter(col("graph").isin(vals: _*))
      case Some(other) => // unreachable: the require above rejects these
        throw new IllegalArgumentException(s"invalid GRAPH term: $other")
      case None => base
    }
    val pairPos = Seq("subj_id" -> p.subj, "obj_id" -> p.obj)
    val (rel, pos) = p.pred match {
      case PathPat(ast) => (pathRel(gbase, ast), pairPos)
      case _ =>
        val trip = Seq("subj_id" -> p.subj, "pred" -> p.pred, "obj_id" -> p.obj)
        (gbase, p.graph match {
          case Some(g @ V(_))              => trip :+ ("graph" -> (g: TermPat))
          case Some(GraphIn(_, Some(b)))   => trip :+ ("graph" -> (V(b): TermPat))
          case _                           => trip
        })
    }
    require(pos.exists(_._2.isInstanceOf[V]),
      s"triple pattern $p has no variable — ASK-style existence checks " +
        "are a filter on the caller's side, not a join input")
    val filtered = pos.foldLeft(rel) {
      case (df, (c, C(v))) => df.filter(col(c) === lit(v))
      case (df, _)         => df
    }
    val varCols = pos.collect { case (c, V(n)) => (c, n) }
    val dupEq = varCols.groupBy(_._2).values.collect {
      case vs if vs.size > 1 => vs.map(v => col(v._1)).reduce(_ === _)
    }
    val withEq = dupEq.foldLeft(filtered)(_ filter _)
    val firstBinding = varCols.groupBy(_._2).map { case (n, vs) => (vs.head._1, n) }
    withEq.select(firstBinding.toSeq.sortBy(_._2).map { case (c, n) => col(c).as(n) }: _*)
  }

  /** The SPARQL zero-length path: (n, n) for every distinct term of the
    * graph — one distinct over the two id columns. */
  private def graphIdentity(base: DataFrame): DataFrame =
    base.select(col("subj_id").as("n"))
      .union(base.select(col("obj_id").as("n")))
      .distinct()
      .select(col("n").as("subj_id"), col("n").as("obj_id"))

  /** Greedy selectivity join order over pattern indices (see scaladoc);
    * private[kg] so the spec can pin the ordering heuristic directly. */
  private[kg] def joinOrder(patterns: Seq[TriplePattern]): Seq[Int] = {
    val idxs = patterns.indices
    val vs = patterns.map(patVars)
    val cs = patterns.map(patConsts)
    // most constants first; -i makes the EARLIEST caller index win ties
    val first = idxs.maxBy(i => (cs(i), -i))
    var order = Vector(first)
    var bound = vs(first)
    var remaining = idxs.toSet - first
    while (remaining.nonEmpty) {
      val connected = remaining.filter(i => (vs(i) & bound).nonEmpty)
      require(connected.nonEmpty,
        "disconnected BGP: the patterns form >= 2 components sharing no " +
          "variable — add a linking pattern or run the components as " +
          "separate queries; a cartesian product at KG scale is always a bug")
      val next = connected.maxBy(i => (2 * cs(i) + (vs(i) & bound).size, -i))
      order :+= next
      bound ++= vs(next)
      remaining -= next
    }
    order
  }

  /**
   * Match `patterns` against an edges frame with columns
   * (subj_id, pred, obj_id); extra columns are ignored. Output: one
   * column per distinct variable (in variable-name order), one row per
   * binding.
   */
  def matchPatterns(edges: DataFrame, patterns: Seq[TriplePattern]): DataFrame = {
    require(patterns.nonEmpty, "empty basic graph pattern")
    val base =
      if (!patterns.exists(_.graph.isDefined))
        edges.select("subj_id", "pred", "obj_id")
      else {
        require(edges.columns.contains("graph"),
          "GRAPH patterns need a 'graph' column on the edges frame — " +
            "derive one from lineage with Materialize.quads(edges)")
        edges.select("subj_id", "pred", "obj_id", "graph")
      }
    val rels: Seq[DataFrame] = patterns.map(p => patternRel(base, p))
    val joined = joinOrder(patterns).map(rels).reduceLeft { (acc, r) =>
      val shared = r.columns.toSeq.intersect(acc.columns.toSeq)
      acc.join(r, shared, "inner")
    }
    joined.select(joined.columns.sorted.map(col): _*)
  }

  /**
   * VALUE-SPACE bridge for FILTER-by-value: SPARQL comparisons like
   * `FILTER(?price > 100)` are undecidable over hashed node ids — the
   * value space lives in the D2 nodes table. This joins the nodes row
   * onto each requested binding column `v`, adding one `<v>_term`
   * struct column (kind, value, lang, dt) that the [[TypedLiterals]]
   * accessors interpret:
   *
   * {{{
   *   Bgp.bindValues(bindings, nodesTable, Seq("price"))
   *     .filter(TypedLiterals.asDouble(col("price_term")) > 100.0)
   * }}}
   *
   * One equi-join per variable on the uniform sha256 id (broadcast when
   * the projected nodes side is dimension-sized); LEFT join + NULL-for-
   * non-literal accessors reproduce SPARQL's error-means-exclude FILTER
   * semantics for IRIs/bnodes in value position.
   *
   * The nodes side is projected ONCE, and the per-variable renames
   * happen ABOVE the join: every join's build side is then the
   * canonically-identical subplan, so Spark's exchange reuse
   * (ReusedExchange / ReusedSubquery under AQE) materializes the nodes
   * aggregation a single time however many variables read the value
   * space — a per-variable rename INSIDE the projection would make the
   * subtrees distinct and rebuild the nodes dedup once per variable.
   */
  def bindValues(bindings: DataFrame, nodes: DataFrame,
                 vars: Seq[String]): DataFrame = {
    require(vars.nonEmpty, "bindValues needs at least one variable")
    val missing = vars.filterNot(bindings.columns.contains)
    require(missing.isEmpty,
      s"bindValues variable(s) ${missing.mkString(", ")} are not bound")
    val proj = nodes.select(col("id").as("__term_id"),
      struct(col("kind"), col("value"), col("lang"), col("dt")).as("__term"))
    vars.foldLeft(bindings) { (df, v) =>
      df.join(proj, df(v) === proj("__term_id"), "left")
        .drop("__term_id")
        .withColumnRenamed("__term", s"${v}_term")
    }
  }
}

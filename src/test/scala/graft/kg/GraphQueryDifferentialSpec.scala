package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/**
 * Randomized differentials for the KG query layer: each distributed
 * operator vs an obviously-correct in-memory brute force on seeded
 * random inputs. Catches the class of bug a hand-picked fixture can't:
 * join-plan edge cases that only appear on particular graph shapes.
 */
class GraphQueryDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import Bgp.{C, TriplePattern, V}

  test("BGP match equals brute-force pattern enumeration on random graphs") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val nodes = (0 until 12).map(i => s"n$i")
      val preds = Seq("p", "q", "r")
      val es = Seq.fill(60)((nodes(rnd.nextInt(12)), preds(rnd.nextInt(3)), nodes(rnd.nextInt(12)))).distinct
      val df = es.toDF("subj_id", "pred", "obj_id")
      // chain with a constant mid-pattern: ?a p ?b . ?b q ?c
      val got = Bgp.matchPatterns(df, Seq(
        TriplePattern(V("a"), C("p"), V("b")),
        TriplePattern(V("b"), C("q"), V("c"))))
        .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[String]("c")))
        .sorted.toSeq
      val brute = (for {
        (s1, p1, o1) <- es if p1 == "p"
        (s2, p2, o2) <- es if p2 == "q" && s2 == o1
      } yield (s1, o1, o2)).sorted
      assert(got === brute, s"trial $trial")
      // star with object constant: ?x p n0 . ?x r ?y
      val got2 = Bgp.matchPatterns(df, Seq(
        TriplePattern(V("x"), C("p"), C("n0")),
        TriplePattern(V("x"), C("r"), V("y"))))
        .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y"))).sorted.toSeq
      val brute2 = (for {
        (s1, p1, o1) <- es if p1 == "p" && o1 == "n0"
        (s2, p2, o2) <- es if p2 == "r" && s2 == s1
      } yield (s1, o2)).sorted
      assert(got2 === brute2, s"trial $trial star")
    }
  }

  test("every pattern-list permutation yields the same bag of bindings") {
    // the greedy join-order selection must be invisible to results:
    // equi-joins commute, so all 6 orders of a 3-pattern BGP agree
    val rnd = new Random(77)
    val nodes = (0 until 10).map(i => s"n$i")
    val preds = Seq("p", "q", "r")
    val es = Seq.fill(50)(
      (nodes(rnd.nextInt(10)), preds(rnd.nextInt(3)), nodes(rnd.nextInt(10)))).distinct
    val df = es.toDF("subj_id", "pred", "obj_id")
    val pats = Seq(
      TriplePattern(V("a"), C("p"), V("b")),
      TriplePattern(V("b"), C("q"), V("c")),
      TriplePattern(V("a"), C("r"), V("c")))
    val results = pats.permutations.map { perm =>
      Bgp.matchPatterns(df, perm).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[String]("c")))
        .sorted.toSeq
    }.toSeq
    assert(results.distinct.size === 1,
      s"pattern order changed the result: ${results.map(_.size)}")
  }

  test("OPTIONAL equals brute-force left join on random partial graphs") {
    val rnd = new Random(21)
    for (trial <- 1 to 4) {
      val nodes = (0 until 10).map(i => s"n$i")
      val es = (Seq.fill(25)((nodes(rnd.nextInt(10)), "p", nodes(rnd.nextInt(10)))) ++
        Seq.fill(8)((nodes(rnd.nextInt(10)), "opt", nodes(rnd.nextInt(10))))).distinct
      val got = Bgp.matchWithOptional(es.toDF("subj_id", "pred", "obj_id"),
        Seq(TriplePattern(V("x"), C("p"), V("y"))),
        Seq(Seq(TriplePattern(V("x"), C("opt"), V("z")))))
        .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y"), r.getAs[String]("z")))
        .sorted.toSeq
      val req = es.filter(_._2 == "p").map(e => (e._1, e._3))
      val opt = es.filter(_._2 == "opt").map(e => (e._1, e._3))
      val brute = req.flatMap { case (x, y) =>
        val zs = opt.filter(_._1 == x).map(_._2)
        if (zs.isEmpty) Seq((x, y, null: String)) else zs.map(z => (x, y, z))
      }.sorted
      assert(got === brute, s"trial $trial")
    }
  }

  test("MINUS equals brute-force compatible-solution removal on random graphs") {
    val rnd = new Random(55)
    for (trial <- 1 to 4) {
      val nodes = (0 until 10).map(i => s"n$i")
      val es = (Seq.fill(25)((nodes(rnd.nextInt(10)), "p", nodes(rnd.nextInt(10)))) ++
        Seq.fill(10)((nodes(rnd.nextInt(10)), "neg", nodes(rnd.nextInt(10))))).distinct
      val got = Bgp.matchGroup(es.toDF("subj_id", "pred", "obj_id"),
        required = Seq(TriplePattern(V("x"), C("p"), V("y"))),
        minus = Seq(Seq(TriplePattern(V("x"), C("neg"), V("z")))))
        .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y")))
        .sorted.toSeq
      val req = es.filter(_._2 == "p").map(e => (e._1, e._3))
      val negSubjects = es.filter(_._2 == "neg").map(_._1).toSet
      val brute = req.filterNot { case (x, _) => negSubjects(x) }.sorted
      assert(got === brute, s"trial $trial")
    }
  }

  test("every property-path form equals its brute-force semantics on random graphs") {
    import Bgp.{PAlternative, PClosure, PInverse, PLeaf, PNegated, PSequence, PathAst, PathPat}
    val rnd = new Random(31)
    for (trial <- 1 to 3) {
      val nodes = (0 until 10).map(i => s"n$i")
      val es = Seq.fill(30)((nodes(rnd.nextInt(10)),
        Seq("p", "q")(rnd.nextInt(2)), nodes(rnd.nextInt(10))))
        .filter(e => e._1 != e._3).distinct
      val df = es.toDF("subj_id", "pred", "obj_id")
      def run(path: PathAst): Seq[(String, String)] =
        Bgp.matchPatterns(df, Seq(TriplePattern(V("x"), PathPat(path), V("y"))))
          .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y")))
          .sorted.toSeq
      def runQ(path: String): Seq[(String, String)] =
        Sparql.run(df, s"SELECT ?x ?y WHERE { ?x $path ?y }")
          .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y")))
          .sorted.toSeq
      val pE = es.filter(_._2 == "p").map(e => (e._1, e._3))
      val qE = es.filter(_._2 == "q").map(e => (e._1, e._3))
      val allNodes = es.flatMap(e => Seq(e._1, e._3)).distinct
      val adj = pE.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSet }
      def reach(a: String): Set[String] = {
        var seen = Set.empty[String]
        var frontier = adj.getOrElse(a, Set.empty)
        while (frontier.nonEmpty) {
          seen ++= frontier
          frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty)) -- seen
        }
        seen - a
      }
      val plusBrute = adj.keySet.flatMap(a => reach(a).map(b => (a, b)))
      assert(run(PClosure(PLeaf("p"), '+')).toSet === plusBrute, s"trial $trial plus")
      assert(run(PClosure(PLeaf("p"), '*')).toSet ===
        plusBrute ++ allNodes.map(n => (n, n)), s"trial $trial star")
      assert(run(PClosure(PLeaf("p"), '?')).toSet ===
        pE.toSet ++ allNodes.map(n => (n, n)), s"trial $trial opt")
      assert(run(PInverse(PLeaf("p"))) === pE.map(_.swap).sorted, s"trial $trial inv")
      assert(run(PNegated(Seq("p"), Nil)) === qE.sorted, s"trial $trial neg")
      assert(run(PAlternative(Seq(PLeaf("p"), PLeaf("q")))) === (pE ++ qE).sorted, s"trial $trial alt")
      // a repeated leaf is a second route: SPARQL's alt is a multiset union
      assert(runQ("<p>|<p>") === (pE ++ pE).sorted, s"trial $trial alt dup")
      assert(runQ("<p>|<q>|<p>") === (pE ++ pE ++ qE).sorted, s"trial $trial alt dup3")
      // sequence p then inverse q: one row PER ROUTE (bag semantics)
      val seqBrute = (for {
        (x, m) <- pE
        (z, m2) <- qE if m2 == m
      } yield (x, z)).sorted
      assert(run(PSequence(Seq(PLeaf("p"), PInverse(PLeaf("q"))))) ===
        seqBrute, s"trial $trial seq")
    }
  }

  test("random NESTED property paths equal a brute-force evaluator") {
    import Bgp.{PAlternative, PClosure, PInverse, PLeaf, PNegated, PSequence, PathAst}
    val rnd = new Random(97)
    for (trial <- 1 to 4) {
      val nodes = (0 until 8).map(i => s"n$i")
      val es = Seq.fill(16)((nodes(rnd.nextInt(8)),
        Seq("p", "q")(rnd.nextInt(2)), nodes(rnd.nextInt(8))))
        .filter(e => e._1 != e._3).distinct
      val df = es.toDF("subj_id", "pred", "obj_id")
      val allNodes = es.flatMap(e => Seq(e._1, e._3)).distinct
      val identity = allNodes.map(n => (n, n))
      // brute force with the engine's conventions: seq/alt/inv/neg are
      // BAGS, closures are SETS excluding reflexive pairs ('*'/'?' add
      // the graph-wide zero-length identity back)
      def close(h0: Seq[(String, String)]): Seq[(String, String)] = {
        val h = h0.filter(e => e._1 != e._2).toSet
        val adj = h.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2) }
        def reach(a: String): Set[String] = {
          var seen = Set.empty[String]
          var fr: Set[String] = adj.getOrElse(a, Set.empty)
          while (fr.nonEmpty) {
            seen ++= fr
            fr = fr.flatMap(x => adj.getOrElse(x, Set.empty)) -- seen
          }
          seen - a
        }
        adj.keySet.toSeq.flatMap(a => reach(a).map(b => (a, b)))
      }
      def brute(ast: PathAst): Seq[(String, String)] = ast match {
        case PLeaf(pr)       => es.filter(_._2 == pr).map(e => (e._1, e._3))
        case PInverse(inner) => brute(inner).map(_.swap)
        case PSequence(parts) => parts.map(brute).reduce { (a, b) =>
          for { (x, m) <- a; (m2, z) <- b if m2 == m } yield (x, z)
        }
        case PAlternative(parts) => parts.flatMap(brute)
        case PNegated(fwd, inv) =>
          es.filterNot(e => fwd.contains(e._2)).map(e => (e._1, e._3))
            .filter(_ => fwd.nonEmpty) ++
            es.filterNot(e => inv.contains(e._2)).map(e => (e._3, e._1))
              .filter(_ => inv.nonEmpty)
        case PClosure(inner, '+') => close(brute(inner))
        case PClosure(inner, '*') => (close(brute(inner)) ++ identity).distinct
        case PClosure(inner, '?') => (brute(inner) ++ identity).distinct
        case other => fail(s"unexpected $other")
      }
      def render(ast: PathAst): String = ast match {
        case PLeaf(pr)       => s"<$pr>"
        case PInverse(inner) => s"^(${render(inner)})"
        case PSequence(ps)   => ps.map(x => s"(${render(x)})").mkString("/")
        case PAlternative(ps) => ps.map(x => s"(${render(x)})").mkString("|")
        case PClosure(inner, op) => s"(${render(inner)})$op"
        case PNegated(fwd, inv) => "!(" +
          (fwd.map(f => s"<$f>") ++ inv.map(i => s"^<$i>")).mkString("|") + ")"
      }
      def gen(depth: Int): PathAst =
        if (depth == 0) rnd.nextInt(4) match {
          case 0 => PLeaf("p")
          case 1 => PLeaf("q")
          case 2 => PNegated(Seq(Seq("p", "q")(rnd.nextInt(2))), Nil)
          case _ => PNegated(Seq("p"), Seq("q"))
        } else rnd.nextInt(4) match {
          case 0 => PInverse(gen(depth - 1))
          case 1 => PSequence(Seq(gen(depth - 1), gen(depth - 1)))
          case 2 => PAlternative(Seq(gen(depth - 1), gen(depth - 1)))
          case _ => PClosure(gen(depth - 1), Seq('+', '*', '?')(rnd.nextInt(3)))
        }
      for (k <- 1 to 5) {
        val ast = gen(1 + rnd.nextInt(2))
        val q = s"SELECT ?x ?y WHERE { ?x ${render(ast)} ?y }"
        val got = Sparql.run(df, q).collect()
          .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        assert(got === brute(ast).sorted,
          s"trial $trial case $k diverged for: $q")
      }
    }
  }

  test("SPARQL aggregation equals brute-force grouping on random graphs") {
    val rnd = new Random(63)
    for (trial <- 1 to 3) {
      val nodes = (0 until 8).map(i => s"n$i")
      val es = Seq.fill(40)((nodes(rnd.nextInt(8)), "p", nodes(rnd.nextInt(8)))).distinct
      val df = es.toDF("subj_id", "pred", "obj_id")
      val got = Sparql.run(df,
        """SELECT ?x (COUNT(?y) AS ?n) (COUNT(DISTINCT ?y) AS ?nd) (MIN(?y) AS ?lo)
          |       (GROUP_CONCAT(?y; SEPARATOR=",") AS ?ys)
          |WHERE { ?x ?p ?y } GROUP BY ?x""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4))).sorted.toSeq
      val brute = es.groupBy(_._1).map { case (x, xs) =>
        val ys = xs.map(_._3)
        (x, ys.size.toLong, ys.distinct.size.toLong, ys.min, ys.sorted.mkString(","))
      }.toSeq.sorted
      assert(got === brute, s"trial $trial")
      // ORDER BY n desc with id tiebreak + LIMIT: a deterministic slice
      val top = Sparql.run(df,
        """SELECT ?x (COUNT(?y) AS ?n) WHERE { ?x ?p ?y }
          |GROUP BY ?x ORDER BY DESC(?n) ?x LIMIT 3""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val bruteTop = es.groupBy(_._1).map { case (x, xs) => (x, xs.size.toLong) }
        .toSeq.sortBy { case (x, n) => (-n, x) }.take(3)
      assert(top === bruteTop, s"trial $trial top")
    }
  }

  test("k-core equals the sequential peeling fixpoint on random graphs") {
    val rnd = new Random(7)
    for ((n, m, k) <- Seq((15, 30, 2), (20, 60, 3), (25, 40, 3))) {
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = GraphOps.kCore(es.toDF("src", "dst"), "src", "dst", k)
        .collect().map(_.getLong(0)).toSet
      // brute force: peel sequentially until stable
      var und = es.map { case (a, b) => (a min b, a max b) }.filter(p => p._1 != p._2).distinct
      var stable = false
      while (!stable) {
        val deg = und.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map { case (x, xs) => x -> xs.size }
        val weak = deg.filter(_._2 < k).keySet
        if (weak.isEmpty) stable = true
        else und = und.filter(p => !weak(p._1) && !weak(p._2))
      }
      val brute = und.flatMap(p => Seq(p._1, p._2)).toSet
      assert(got === brute, s"n=$n m=$m k=$k")
    }
  }

  test("transitive closure equals iterated-BFS reachability on random DAG-ish graphs") {
    val rnd = new Random(13)
    for (trial <- 1 to 3) {
      // mix of forward edges (dag) + a few back edges (cycles)
      val es = (Seq.fill(25) { val a = rnd.nextInt(14); (a.toLong, (a + 1 + rnd.nextInt(15 - a)).toLong % 15) } ++
        Seq.fill(3)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))).filter(p => p._1 != p._2).distinct
      val got = GraphOps.transitiveClosure(es.toDF("s", "d"), "s", "d")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val adj = es.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSet }
      def reach(a: Long): Set[Long] = {
        var seen = Set.empty[Long]; var frontier = adj.getOrElse(a, Set.empty)
        while (frontier.nonEmpty) {
          seen ++= frontier
          frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty)) -- seen
        }
        seen - a
      }
      val brute = adj.keySet.flatMap(a => reach(a).map(b => (a, b)))
      assert(got === brute, s"trial $trial")
    }
  }

  test("value-space FILTERs and SUM/AVG equal brute force on random typed graphs") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    final case class L(value: String, lang: Option[String], dt: String)
    val rnd = new Random(83)
    for (trial <- 1 to 3) {
      // each subject carries 1-4 values: longs, decimals, tagged strings
      val subjects = (0 until 8).map(i => s"urn:s:$i")
      val lits = subjects.flatMap { s =>
        (0 until 1 + rnd.nextInt(4)).map { _ =>
          val l = rnd.nextInt(3) match {
            case 0 => L((rnd.nextInt(200) - 100).toString, None, XSD + "long")
            case 1 => L(s"${rnd.nextInt(50)}.${1 + rnd.nextInt(9)}", None, XSD + "double")
            case _ => L("w" + rnd.nextInt(5) + (if (rnd.nextBoolean()) "x" else ""),
              Some(Seq("en", "de")(rnd.nextInt(2))), RLS)
          }
          (s, l)
        }
      }.distinct
      val subjId = subjects.map(s => s -> Bgp.iriId(s)).toMap
      def objId(l: L): String =
        Bgp.litId(l.value, if (l.lang.isDefined) XSD + "string" else l.dt, l.lang)
      val edges = lits.map { case (s, l) => (subjId(s), "p", objId(l)) }
        .toDF("subj_id", "pred", "obj_id")
      val nodes = (lits.map { case (_, l) =>
        (objId(l), RdfTerm.LITERAL, l.value, l.lang.orNull, l.dt)
      } ++ subjects.map(s => (subjId(s), RdfTerm.IRI, s, null, null)))
        .distinct.toDF("id", "kind", "value", "lang", "dt")
      def numOf(l: L): Option[Double] =
        if (l.dt == XSD + "long" || l.dt == XSD + "double") Some(l.value.toDouble)
        else None
      // numeric FILTER: strings excluded, longs+decimals promoted
      val gotNum = Sparql.run(edges, nodes,
        "SELECT ?s ?v WHERE { ?s <p> ?v FILTER (?v >= 3.5) }")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val bruteNum = lits.collect { case (s, l) if numOf(l).exists(_ >= 3.5) =>
        (subjId(s), objId(l))
      }.sorted
      assert(gotNum === bruteNum, s"trial $trial numeric")
      // string FILTER: bare var = string-family only; LANG projection
      val gotStr = Sparql.run(edges, nodes,
        """SELECT ?s ?v WHERE { ?s <p> ?v
          |  FILTER (CONTAINS(?v, "x") && LANG(?v) = "en") }""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val bruteStr = lits.collect {
        case (s, l) if l.lang.contains("en") && l.value.contains("x") =>
          (subjId(s), objId(l))
      }.sorted
      assert(gotStr === bruteStr, s"trial $trial string")
      // SUM/AVG with strict SPARQL errors: a group holding any
      // non-numeric term aggregates to unbound (null)
      val got = Sparql.run(edges, nodes,
        """SELECT ?s (SUM(?v) AS ?t) (AVG(?v) AS ?m)
          |WHERE { ?s <p> ?v } GROUP BY ?s""".stripMargin)
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).sortBy(_._1).toSeq
      val brute = lits.groupBy(_._1).map { case (s, xs) =>
        val vals = xs.map(_._2)
        if (vals.forall(l => numOf(l).isDefined)) {
          // mirror the engine's exact route: decimal accumulation at
          // scale 10, ONE final rounding to double, then IEEE divide
          val sum = vals.map(l => BigDecimal(l.value)).sum.toDouble
          (subjId(s), sum, sum / vals.size)
        } else (subjId(s), null, null)
      }.toSeq.sortBy(_._1)
      assert(got === brute, s"trial $trial sum/avg")
    }
  }

  test("BIND expressions equal brute force on random typed graphs") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    final case class L(value: String, lang: Option[String], dt: String)
    val rnd = new Random(97)
    for (trial <- 1 to 3) {
      val subjects = (0 until 8).map(i => s"urn:s:$i")
      val lits = subjects.flatMap { s =>
        (0 until 1 + rnd.nextInt(4)).map { _ =>
          val l = rnd.nextInt(3) match {
            case 0 => L((rnd.nextInt(200) - 100).toString, None, XSD + "long")
            case 1 => L(s"${rnd.nextInt(50)}.${1 + rnd.nextInt(9)}", None, XSD + "double")
            case _ => L("w" + rnd.nextInt(5) + (if (rnd.nextBoolean()) "x" else ""),
              Some(Seq("en", "de")(rnd.nextInt(2))), RLS)
          }
          (s, l)
        }
      }.distinct
      val subjId = subjects.map(s => s -> Bgp.iriId(s)).toMap
      def objId(l: L): String =
        Bgp.litId(l.value, if (l.lang.isDefined) XSD + "string" else l.dt, l.lang)
      val edges = lits.map { case (s, l) => (subjId(s), "p", objId(l)) }
        .toDF("subj_id", "pred", "obj_id")
      val nodes = (lits.map { case (_, l) =>
        (objId(l), RdfTerm.LITERAL, l.value, l.lang.orNull, l.dt)
      } ++ subjects.map(s => (subjId(s), RdfTerm.IRI, s, null, null)))
        .distinct.toDF("id", "kind", "value", "lang", "dt")
      def numOf(l: L): Option[Double] =
        if (l.dt == XSD + "long" || l.dt == XSD + "double") Some(l.value.toDouble)
        else None
      // numeric BIND: full precedence, unary minus, a chained second
      // bind reading the first — brute force mirrors the EXACT IEEE
      // evaluation order the parse tree fixes
      val got = Sparql.run(edges, nodes,
        """SELECT ?s ?e WHERE { ?s <p> ?v
          |  BIND(?v * 2 + 1 - ?v / 4 AS ?half)
          |  BIND(-?half / 2 AS ?e)
          |  FILTER(?e < 0) }""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
      val brute = lits.flatMap { case (s, l) =>
        numOf(l).map { v =>
          val half = v * 2 + 1 - v / 4
          (subjId(s), (0 - half) / 2)
        }
      }.filter(_._2 < 0).sorted
      assert(got === brute, s"trial $trial numeric bind")
      // string BIND: non-string values make the bind unbound and drop
      val gotS = Sparql.run(edges, nodes,
        """SELECT ?s ?t WHERE { ?s <p> ?v
          |  BIND(CONCAT(UCASE(?v), "@", LANG(?v)) AS ?t)
          |  FILTER(STRLEN(?t) >= 5 && REGEX(?t, "@(en|de)$")) }""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val bruteS = lits.collect { case (s, l) if l.lang.isDefined =>
        (subjId(s), l.value.toUpperCase + "@" + l.lang.get)
      }.filter(_._2.length >= 5).sorted
      assert(gotS === bruteS, s"trial $trial string bind")
    }
  }

  test("subquery aggregate-then-join equals brute force on random graphs") {
    val rnd = new Random(131)
    for (trial <- 1 to 5) {
      val nodes = (0 until 10).map(i => s"n$i")
      val es = Seq.fill(50)((nodes(rnd.nextInt(10)), Seq("p", "q")(rnd.nextInt(2)),
        nodes(rnd.nextInt(10)))).distinct
      val df = es.toDF("subj_id", "pred", "obj_id")
      val k = 1 + rnd.nextInt(3)
      val got = Sparql.run(df,
        s"""SELECT ?a ?b ?n WHERE {
           |  ?a <p> ?b .
           |  { SELECT ?b (COUNT(*) AS ?n) WHERE { ?b <q> ?c } GROUP BY ?b }
           |  FILTER(?n >= $k)
           |}""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
      val counts = es.filter(_._2 == "q").groupBy(_._1).map { case (s, xs) => (s, xs.size.toLong) }
      val brute = (for {
        (a, p, b) <- es if p == "p"
        n <- counts.get(b) if n >= k
      } yield (a, b, n)).sorted
      assert(got === brute, s"trial $trial")
    }
  }

  test("OPTIONAL FILTER equals the brute-force conditioned left join on random graphs") {
    val rnd = new Random(167)
    for (trial <- 1 to 5) {
      val nodes = (0 until 10).map(i => s"n$i")
      val es = Seq.fill(50)((nodes(rnd.nextInt(10)), Seq("p", "q")(rnd.nextInt(2)),
        nodes(rnd.nextInt(10)))).distinct
      // q-objects are LITERALS (litId-hashed) so the parsed FILTER
      // constant actually compares against them
      val df = es.map { case (s, p, o) =>
        (s, p, if (p == "q") Bgp.litId(o) else o)
      }.toDF("subj_id", "pred", "obj_id")
      val banned = nodes(rnd.nextInt(10))
      val got = Sparql.run(df,
        s"""SELECT ?a ?b WHERE {
           |  ?a <p> ?x .
           |  OPTIONAL { ?a <q> ?b FILTER(?b != "$banned") }
           |}""".stripMargin)
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) "NULL" else r.getString(1))).sorted.toSeq
      // brute: one row per required match; the group joins only where
      // the condition HOLDS, else the row keeps ?b unbound
      val brute = (for {
        (a, p, _) <- es if p == "p"
      } yield {
        val ms = es.filter(e => e._1 == a && e._2 == "q" && e._3 != banned)
        if (ms.isEmpty) Seq((a, "NULL")) else ms.map(m => (a, Bgp.litId(m._3)))
      }).flatten.sorted
      assert(got === brute, s"trial $trial banned=$banned")
    }
  }

  test("entity resolution never false-merges and recovers single-end-edit variants") {
    val rnd = new Random(99)
    // far-apart random base labels (hex-ish), each with a tail-edit variant
    val bases = (0 until 20).map(i => (0 until 10).map(_ => "abcdef0123456789".charAt(rnd.nextInt(16))).mkString)
      .distinct
    val ents = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((i * 2L, b), (i * 2L + 1, b.dropRight(1) + "z")) // 1 substitution at the tail
    }
    val got = EntityResolution.resolveEntities(ents.toDF("id", "label"), "id", "label", maxEdit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute truth: cluster iff levenshtein <= 2 transitively. Random
    // 10-hex strings are pairwise far, so truth = the 2-element pairs —
    // verify no cross-base merge and every variant pair linked (the edit
    // is at the tail, so the PREFIX block must catch it)
    for (i <- bases.indices) {
      assert(got(i * 2L) === got(i * 2L + 1), s"variant pair $i split")
    }
    assert(got.values.toSet.size === bases.size, "cross-base false merge")
  }
}

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
  import GraphQueryDifferentialSpec._
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
      val got = Sparql.evaluate(es.toDF("subj_id", "pred", "obj_id"), Sparql.LeftJoin(
        Sparql.BGP(Seq(TriplePattern(V("x"), C("p"), V("y")))),
        Sparql.BGP(Seq(TriplePattern(V("x"), C("opt"), V("z"))))))
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
      val got = Sparql.evaluate(es.toDF("subj_id", "pred", "obj_id"), Sparql.Minus(
        Sparql.BGP(Seq(TriplePattern(V("x"), C("p"), V("y")))),
        Sparql.BGP(Seq(TriplePattern(V("x"), C("neg"), V("z"))))))
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

  // ---- random group patterns vs a brute-force §18 evaluator ----------

  test("random group patterns equal a brute-force SPARQL 1.1 §18 evaluator") {
    def term(t: String) = if (t.startsWith("?")) t else s"<urn:$t>"
    def idOf(n: String) = Bgp.iriId(s"urn:$n")
    def tr(t: Tr) = s"${term(t.s)} <urn:${t.p}> ${term(t.o)} ."
    def ex(e: Ex): String = e match {
      case Bound(v)     => s"BOUND($v)"
      case Eq(a, b)     => s"$a = $b"
      case NeNode(v, n) => s"$v != <urn:$n>"
      case Not(x)       => s"!(${ex(x)})"
      case And(a, b)    => s"(${ex(a)}) && (${ex(b)})"
      case Or(a, b)     => s"(${ex(a)}) || (${ex(b)})"
    }
    def render(els: Seq[El]): String = "SELECT * WHERE { " + els.map {
      case t: Tr          => tr(t)
      case Opt(t, c)      => s"OPTIONAL { ${tr(t)} ${c.map(e => s"FILTER(${ex(e)})").getOrElse("")} }"
      case Uni(l, r)      => s"{ ${tr(l)} } UNION { ${tr(r)} }"
      case Mns(t)         => s"MINUS { ${tr(t)} }"
      case Flt(e)         => s"FILTER(${ex(e)})"
      case Bnd(v, Seq(s)) => s"BIND($s AS $v)"
      case Bnd(v, ss)     => s"BIND(COALESCE(${ss.mkString(", ")}) AS $v)"
      case Vals(v, ns)    => s"VALUES $v { ${ns.map(term).mkString(" ")} }"
      case Probe(t, neg)  => s"FILTER ${if (neg) "NOT " else ""}EXISTS { ${tr(t)} }"
      case Sub(ts, proj)  => s"{ SELECT ${proj.mkString(" ")} WHERE { ${ts.map(tr).mkString(" ")} } }"
    }.mkString(" ") + " }"

    // ---- the brute force: §18.2.2's translation, evaluated on bags
    def compatible(a: Sol, b: Sol) = a.forall { case (k, v) => b.get(k).forall(_ == v) }
    def join(l: Seq[Sol], r: Seq[Sol]) =
      for (a <- l; b <- r if compatible(a, b)) yield a ++ b
    def eval(e: Ex, m: Sol): Option[Boolean] = e match {
      case Bound(v)     => Some(m.contains(v))
      case Eq(a, b)     => for (x <- m.get(a); y <- m.get(b)) yield x == y
      case NeNode(v, n) => m.get(v).map(_ != idOf(n))
      case Not(x)       => eval(x, m).map(!_)
      case And(a, b) => (eval(a, m), eval(b, m)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(a, b) => (eval(a, m), eval(b, m)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
    }
    def brute(edges: Seq[(String, String, String)], els: Seq[El]): Seq[Sol] = {
      def bgp(t: Tr): Seq[Sol] = edges.flatMap { case (s, p, o) =>
        if (p != s"urn:${t.p}") None
        else Seq(t.s -> s, t.o -> o).foldLeft(Option(Map.empty[String, String])) {
          case (acc, (pt, v)) => acc.flatMap(m =>
            if (!pt.startsWith("?")) if (idOf(pt) == v) Some(m) else None
            else if (m.get(pt).exists(_ != v)) None else Some(m + (pt -> v)))
        }
      }
      var g: Seq[Sol] = Seq(Map.empty)
      val filters = Seq.newBuilder[Sol => Boolean]
      els.foreach {
        case t: Tr => g = join(g, bgp(t))
        case Opt(t, c) =>
          val r = bgp(t)
          g = g.flatMap { a =>
            val ext = r.filter(compatible(a, _)).map(a ++ _)
              .filter(m => c.forall(eval(_, m).contains(true)))
            if (ext.isEmpty) Seq(a) else ext
          }
        case Uni(l, r) => g = join(g, bgp(l) ++ bgp(r))
        case Mns(t) =>
          val r = bgp(t)
          g = g.filterNot(a => r.exists(b => compatible(a, b) && a.keySet.exists(b.contains)))
        case Flt(e) => filters += (m => eval(e, m).contains(true))
        case Bnd(v, ss) => g = g.map(m => ss.flatMap(m.get).headOption.fold(m)(x => m + (v -> x)))
        case Vals(v, ns) => g = join(g, ns.distinct.map(n => Map(v -> idOf(n))))
        case Probe(t, neg) =>
          val r = bgp(t)
          filters += (m => r.exists(compatible(m, _)) != neg)
        case Sub(ts, proj) =>
          g = join(g, ts.map(bgp).foldLeft(Seq(Map.empty[String, String]): Seq[Sol])(join)
            .map(_.filter(kv => proj.contains(kv._1))))
      }
      val fs = filters.result()
      g.filter(m => fs.forall(_(m)))
    }

    // ---- the generator: elements in random text order over a small
    // vocabulary, so groups connect often and every construct meets the
    // others before and after it
    val vars = Seq("?a", "?b", "?c")
    val preds = Seq("p", "q", "r")
    var (accepted, total) = (0, 0)
    for (seed <- 1 to 5) {
      val rnd = new Random(1000 + seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      val names = (0 until 5).map(i => s"n$i")
      val edges = Seq.fill(16)((idOf(pick(names)), s"urn:${pick(preds)}", idOf(pick(names)))).distinct
      val df = edges.toDF("subj_id", "pred", "obj_id")
      // a triple's subject is one of `anchor` when there is one, so most
      // groups connect; its object is any variable or a node
      def triple(anchor: Iterable[String]): Tr =
        Tr(pick(if (anchor.isEmpty) vars else anchor.toSeq), pick(preds),
          if (rnd.nextInt(4) == 0) pick(names) else pick(vars))
      def cond(vs: Seq[String]): Ex = rnd.nextInt(5) match {
        case 0 => Bound(pick(vs))
        case 1 => Eq(pick(vs), pick(vs))
        case 2 => NeNode(pick(vs), pick(names))
        case 3 => Not(cond(vs))
        case _ => if (rnd.nextBoolean()) And(cond(vs), cond(vs)) else Or(cond(vs), cond(vs))
      }
      def own(t: Tr) = Seq(t.s, t.o).filter(_.startsWith("?"))
      for (_ <- 1 to 45) {
        var bindN = 0
        val els = Seq.newBuilder[El]
        // `req`: variables of the group's own triples; `seen`: every
        // variable in scope so far
        val req = scala.collection.mutable.LinkedHashSet.empty[String]
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        if (rnd.nextInt(5) > 0) { val t = triple(req); els += t; req ++= own(t) }
        for (_ <- 0 to rnd.nextInt(4)) {
          seen ++= req
          val known = if (seen.isEmpty) vars else seen.toSeq
          rnd.nextInt(10) match {
            case 0 | 1 => val t = triple(req); els += t; req ++= own(t)
            case 2 =>
              val t = triple(req)
              els += Opt(t, if (rnd.nextBoolean()) Some(cond(own(t))) else None)
              seen ++= own(t)
            case 3 =>
              val l = triple(req)
              val u = Uni(l, Tr(l.s, pick(preds), pick(vars)))
              els += u; seen ++= own(u.l) ++ own(u.r)
            case 4 => els += Mns(triple(seen))
            case 5 => els += Flt(cond(known))
            case 6 =>
              bindN += 1
              val v = s"?e$bindN"
              els += Bnd(v, if (rnd.nextBoolean()) Seq(pick(known)) else Seq(pick(known), pick(known)))
              seen += v
            case 7 => els += Vals(pick(if (req.isEmpty) known else req.toSeq), Seq.fill(2)(pick(names)))
            case 8 => els += Probe(triple(req), rnd.nextBoolean())
            case _ =>
              val t1 = triple(req)
              val t2 = Tr(pick(own(t1)), pick(preds), pick(vars))
              val proj = (own(t1) ++ own(t2)).distinct
              els += Sub(Seq(t1, t2), proj.take(1 + rnd.nextInt(proj.size)))
              req ++= proj
          }
        }
        val group = els.result()
        val q = render(group)
        total += 1
        // a query the parser accepts must run: every rejection is a parse one
        val parsed =
          try { Sparql.parse(q); true }
          catch { case _: IllegalArgumentException => false }
        val got =
          if (!parsed) None
          else Some(Sparql.run(df, q).collect().toSeq.map { r =>
            r.schema.fieldNames.zipWithIndex.collect {
              case (f, i) if !r.isNullAt(i) => s"?$f" -> r.getString(i)
            }.toMap
          })
        got.foreach { rows =>
          accepted += 1
          def canon(sols: Seq[Sol]) = sols.map(_.toSeq.sorted.mkString(" ")).sorted
          assert(canon(rows) === canon(brute(edges, group)), s"seed $seed: $q")
        }
      }
    }
    info(s"$accepted of $total generated groups accepted")
    assert(total >= 200)
    assert(accepted * 2 >= total, s"only $accepted of $total generated groups accepted")
  }

  // ---- random expressions vs a brute-force §17 evaluator -------------

  test("random typed expressions equal a brute-force SPARQL 1.1 §17 evaluator") {
    import ExprGen._
    var (accepted, total, withRows) = (0, 0, 0)
    for (seed <- 1 to 5) {
      val rnd = new Random(2000 + seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      // a typed graph: each subject has 1-3 ?v values and maybe one ?w
      val subjects = (0 until 6).map(i => s"urn:s:$i")
      val vs = subjects.flatMap(s => Seq.fill(1 + rnd.nextInt(3))((s, pick(Pool))).distinct)
      val ws = subjects.filter(_ => rnd.nextBoolean()).map(s => (s, pick(Pool)))
      val edges = (vs.map { case (s, t) => (Bgp.iriId(s), "urn:v", t.id) } ++
        ws.map { case (s, t) => (Bgp.iriId(s), "urn:w", t.id) }).toDF("subj_id", "pred", "obj_id")
      val nodes = (Pool ++ subjects.map(Term(_, None, None, iri = true))).map(t =>
        (t.id, if (t.iri) RdfTerm.IRI else RdfTerm.LITERAL, t.value, t.lang.orNull,
          if (t.iri) null else t.dt.get)).distinct.toDF("id", "kind", "value", "lang", "dt")
      // the solutions of `?s <urn:v> ?v OPTIONAL { ?s <urn:w> ?w }`
      val sols: Seq[Sol] = vs.map { case (s, t) =>
        Map("s" -> Term(s, None, None, iri = true), "v" -> t) ++
          ws.collectFirst { case (`s`, w) => "w" -> w }
      }
      val gen = new Gen(rnd)
      val pat = "?s <urn:v> ?v OPTIONAL { ?s <urn:w> ?w }"
      def show(row: Seq[Any]): String = row.map(x => if (x == null) "NULL" else x.toString).mkString(" ")
      def shown(v: Option[Value]): String = v.fold("NULL") {
        case N(d) => d.toString
        case S(x) => x
        case T(t) => t.id
        case B(b) => b.toString
      }
      for (_ <- 1 to 45) {
        // (query, expected rows, whether row order counts)
        val (q, expected, ordered) = rnd.nextInt(5) match {
          case 0 | 1 =>
            val c = gen.cond(0)
            (s"SELECT ?s ?v ?w WHERE { $pat FILTER(${render(c)}) }",
              sols.filter(m => eval(c, m).contains(B(true)))
                .map(m => Seq("s", "v", "w").map(k => m.get(k).fold("NULL")(_.id)).mkString(" ")),
              false)
          case 2 =>
            val b = gen.body()
            val after = if (rnd.nextBoolean() && b.numeric) Some(NCmp(pick(Seq("<", ">=", "!=")),
              NVar("b"), pick(Consts))) else None
            val rows = sols.map(m => (m, eval(b, m))).filter { case (m, bv) =>
              after.forall(f => eval(f, m, bv).contains(B(true)))
            }
            (s"SELECT ?s ?v ?w ?b WHERE { $pat BIND(${render(b)} AS ?b)" +
              after.fold("")(f => s" FILTER(${render(f)})") + " }",
              rows.map { case (m, bv) =>
                (Seq("s", "v", "w").map(k => m.get(k).fold("NULL")(_.id)) :+ shown(bv)).mkString(" ")
              }, false)
          case 3 =>
            val k = gen.numCall(0)
            val asc = rnd.nextBoolean()
            val keyed = sols.map(m => (m, eval(k, m).collect { case N(d) => d }))
            val byKey: Ordering[Option[Double]] = (a, b) => (a, b) match {
              case (None, None)       => 0
              case (None, _)          => if (asc) -1 else 1
              case (_, None)          => if (asc) 1 else -1
              case (Some(x), Some(y)) => (if (x == y) 0 else if (x < y) -1 else 1) * (if (asc) 1 else -1)
            }
            val sorted = keyed.sortWith { case ((m1, k1), (m2, k2)) =>
              val c = byKey.compare(k1, k2)
              if (c != 0) c < 0
              else {
                val c2 = m1("s").id.compareTo(m2("s").id)
                if (c2 != 0) c2 < 0 else before(orderKey(m1("v")), orderKey(m2("v")))
              }
            }
            (s"SELECT ?s ?v WHERE { $pat } ORDER BY ${if (asc) "ASC" else "DESC"}(${render(k)}) ?s ?v LIMIT 4",
              sorted.take(4).map { case (m, _) => s"${m("s").id} ${m("v").id}" }, true)
          case _ =>
            val h = gen.having(0)
            val groups = vs.groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2)) }
            (s"SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <urn:v> ?v } GROUP BY ?s HAVING(${render(h)})",
              groups.collect { case (s, xs) if evalHaving(h, xs).contains(true) =>
                s"${Bgp.iriId(s)} ${xs.size}"
              }.toSeq, false)
        }
        total += 1
        val parsed =
          try { Sparql.parse(q); true }
          catch { case _: IllegalArgumentException => false }
        if (parsed) {
          accepted += 1
          if (expected.nonEmpty) withRows += 1
          val got = Sparql.run(edges, nodes, q).collect().toSeq.map(r => show(r.toSeq))
          if (ordered) assert(got === expected, s"seed $seed: $q")
          else assert(got.sorted === expected.sorted, s"seed $seed: $q")
        }
      }
    }
    info(s"$accepted of $total generated expressions accepted, $withRows with rows")
    assert(total >= 200)
    assert(accepted * 2 >= total, s"only $accepted of $total generated expressions accepted")
  }
}

/** The generated group patterns of the §18 differential. */
private object GraphQueryDifferentialSpec {
  /** One element of a generated group, in text order. Terms are
    * `?var`s or node names (`n3` -> `<urn:n3>`); predicates are names. */
  sealed trait El
  final case class Tr(s: String, p: String, o: String) extends El
  final case class Opt(t: Tr, cond: Option[Ex]) extends El
  final case class Uni(l: Tr, r: Tr) extends El
  final case class Mns(t: Tr) extends El
  final case class Flt(e: Ex) extends El
  /** BIND(?src AS ?v), or BIND(COALESCE(?src1, ?src2) AS ?v). */
  final case class Bnd(v: String, src: Seq[String]) extends El
  final case class Vals(v: String, nodes: Seq[String]) extends El
  final case class Probe(t: Tr, negated: Boolean) extends El
  final case class Sub(ts: Seq[Tr], proj: Seq[String]) extends El

  sealed trait Ex
  final case class Bound(v: String) extends Ex
  final case class Eq(a: String, b: String) extends Ex
  final case class NeNode(v: String, node: String) extends Ex
  final case class Not(e: Ex) extends Ex
  final case class And(a: Ex, b: Ex) extends Ex
  final case class Or(a: Ex, b: Ex) extends Ex

  type Sol = Map[String, String]
}

/** The generated expressions of the §17 differential and their
  * brute-force evaluation over Scala values: `None` is an error or an
  * unbound value, which excludes a FILTER row and leaves a BIND unbound. */
private object ExprGen {
  private val XSD = "http://www.w3.org/2001/XMLSchema#"

  /** An RDF term: an IRI, or a literal with its language tag or datatype. */
  final case class Term(value: String, lang: Option[String], dt: Option[String],
                        iri: Boolean = false) {
    def id: String =
      if (iri) Bgp.iriId(value) else Bgp.litId(value, dt.getOrElse(RdfTerm.XsdString), lang)
    def spelled: String =
      if (iri) s"<$value>"
      else "\"" + value + "\"" + lang.fold(dt.fold("")(d => s"^^<$d>"))("@" + _)
    def isString: Boolean = !iri && (lang.isDefined || dt.contains(RdfTerm.XsdString))
    def num: Option[Double] = dt match {
      case Some(d) if TypedLiterals.integerTypes.contains(d) => value.toLongOption.map(_.toDouble)
      case Some(d) if TypedLiterals.doubleTypes.contains(d)  => value.toDoubleOption
      case _ => None
    }
  }
  private def lit(v: String, dt: String) = Term(v, None, Some(dt))
  private def str(v: String, lang: Option[String] = None) =
    Term(v, lang, Some(if (lang.isDefined) RdfTerm.RdfLangString else RdfTerm.XsdString))

  /** The graph's values: numbers with equal values in different spellings
    * (5 as integer, long and double; halves for ROUND), tagged and plain
    * strings, dates, a dateTime and IRIs. */
  val Pool: Seq[Term] = Seq(
    lit("5", XSD + "integer"), lit("05", XSD + "integer"), lit("5.0", XSD + "double"),
    lit("5", XSD + "long"), lit("-3", XSD + "integer"), lit("2.5", XSD + "double"),
    lit("-1.5", XSD + "decimal"), lit("0.5", XSD + "double"), lit("12", XSD + "int"),
    str("ab"), str("b"), str("ab", Some("en")), str("Ba", Some("de")), str("5"),
    lit("2020-01-03", XSD + "date"), lit("2020-01-07", XSD + "date"),
    lit("2020-01-03T12:00:00", XSD + "dateTime"),
    Term("urn:o:a", None, None, iri = true), Term("urn:o:b", None, None, iri = true))

  /** Numeric constants: (spelling, value). */
  val Consts: Seq[NConst] = Seq(("5", 5.0), ("2.5", 2.5), ("0", 0.0), ("1", 1.0),
    ("\"5\"^^<" + XSD + "integer>", 5.0), ("\"05\"^^<" + XSD + "integer>", 5.0),
    ("\"5.0\"^^<" + XSD + "double>", 5.0), ("\"7\"^^<" + XSD + "long>", 7.0),
    ("\"-1.5\"^^<" + XSD + "decimal>", -1.5)).map { case (s, d) => NConst(s, d) }
  /** RDF-term constants compared by identity. */
  private val TermConsts: Seq[Term] = Seq(str("ab"), str("5"), str("ab", Some("en")),
    Term("urn:o:a", None, None, iri = true), Term("urn:o:b", None, None, iri = true))

  sealed trait Value
  final case class N(d: Double) extends Value
  final case class S(s: String) extends Value
  final case class B(b: Boolean) extends Value
  final case class T(t: Term) extends Value

  type Sol = Map[String, Term]

  sealed trait Ex { def numeric: Boolean = false }
  sealed trait NumEx extends Ex { override def numeric = true }
  final case class NVar(v: String) extends NumEx
  final case class NConst(spelling: String, value: Double) extends NumEx
  final case class Arith(op: String, a: Ex, b: Ex) extends NumEx
  final case class Neg(a: Ex) extends NumEx
  final case class NFn(f: String, a: Ex) extends NumEx
  final case class StrLen(a: Ex) extends NumEx
  /** YEAR / DAY of a date or dateTime term. */
  final case class DateFn(f: String, v: String) extends NumEx
  /** xsd:integer(?v) / xsd:double(?v). */
  final case class Cast(toInt: Boolean, v: String) extends NumEx
  /** A bare variable read as a string literal, or STR(?v). */
  final case class SVar(v: String, viaStr: Boolean) extends Ex
  final case class SLang(v: String) extends Ex
  final case class SConst(s: String) extends Ex
  final case class SCase(upper: Boolean, a: Ex) extends Ex
  final case class SConcat(a: Ex, b: Ex) extends Ex
  final case class SSub(a: Ex, start: Int) extends Ex
  final case class NCmp(op: String, a: Ex, b: Ex) extends Ex
  final case class SCmp(eq: Boolean, a: Ex, b: Ex) extends Ex
  /** RDF-term identity of ?v with a constant, or with ?w. */
  final case class IdCmp(eq: Boolean, v: String, t: Option[Term]) extends Ex
  final case class DCmp(op: String, v: String, date: String) extends Ex
  final case class InList(v: String, items: Seq[Either[NConst, Term]], negated: Boolean) extends Ex
  final case class Bound(v: String) extends Ex
  final case class IsLit(v: String) extends Ex
  final case class Not(a: Ex) extends Ex
  final case class And(a: Ex, b: Ex) extends Ex
  final case class Or(a: Ex, b: Ex) extends Ex
  final case class StrFn(f: String, a: Ex, needle: String) extends Ex
  final case class Regex(a: Ex, pattern: String, ci: Boolean) extends Ex
  final case class If(c: Ex, a: Ex, b: Ex) extends Ex { override def numeric = a.numeric }
  final case class Coalesce(a: String, b: String) extends Ex
  final case class Agg(f: String) extends NumEx

  final class Gen(rnd: Random) {
    private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    private def v(): String = pick(Seq("v", "v", "w"))
    def num(d: Int): Ex =
      if (d > 2 || rnd.nextInt(3) == 0) { if (rnd.nextBoolean()) NVar(v()) else pick(Consts) }
      else rnd.nextInt(8) match {
        case 0 | 1 => Arith(pick(Seq("+", "-", "*", "/")), num(d + 1), num(d + 1))
        case 2 => Neg(num(d + 1))
        case 3 => NFn(pick(Seq("ABS", "CEIL", "FLOOR", "ROUND")), num(d + 1))
        case 4 => NFn("ROUND", NVar(v()))
        case 5 => DateFn(pick(Seq("YEAR", "DAY")), v())
        case 6 => Cast(rnd.nextBoolean(), v())
        case _ => StrLen(string(d + 1))
      }
    def string(d: Int): Ex =
      if (d > 2 || rnd.nextInt(3) == 0) pick(Seq(SVar(v(), viaStr = false), SVar(v(), viaStr = true),
        SConst(pick(Seq("ab", "b", "x")))))
      else rnd.nextInt(5) match {
        case 0 => SLang(v())
        case 1 => SCase(rnd.nextBoolean(), string(d + 1))
        case 2 => SConcat(string(d + 1), string(d + 1))
        case 3 => SSub(string(d + 1), 1 + rnd.nextInt(2))
        case _ => SVar(v(), viaStr = true)
      }
    /** A string expression that is a function call: it selects the string
      * space of a comparison. */
    private def stringCall(d: Int): Ex = string(d) match {
      case SVar(x, false) => SVar(x, viaStr = true)
      case SConst(_)      => SVar(v(), viaStr = true)
      case e              => e
    }
    /** A numeric expression that is not a bare variable: alone, a
      * variable is a copy of its term (BIND) or sorts by term order. */
    def numCall(d: Int): Ex = num(d) match {
      case x: NVar => Neg(x)
      case e       => e
    }
    def cond(d: Int): Ex =
      if (d > 2) pick(Seq(() => NCmp(pick(Seq("=", "!=", "<", ">=")), num(d), num(d)),
        () => Bound(v()), () => IsLit(v())))()
      else rnd.nextInt(12) match {
        case 0 | 1 => NCmp(pick(Seq("=", "!=", "<", "<=", ">", ">=")), num(d + 1), num(d + 1))
        case 2 => SCmp(rnd.nextBoolean(), stringCall(d + 1), string(d + 1))
        case 3 => IdCmp(rnd.nextBoolean(), v(), if (rnd.nextInt(4) == 0) None else Some(pick(TermConsts)))
        case 4 => DCmp(pick(Seq("=", "<", ">=")), v(), pick(Seq("2020-01-03", "2020-01-05")))
        case 5 => InList(v(), if (rnd.nextBoolean()) Seq.fill(2)(Left(pick(Consts)))
          else Seq.fill(2)(Right(pick(TermConsts))), rnd.nextBoolean())
        case 6 => Not(cond(d + 1))
        case 7 => And(cond(d + 1), cond(d + 1))
        case 8 => Or(cond(d + 1), cond(d + 1))
        case 9 => StrFn(pick(Seq("CONTAINS", "STRSTARTS", "STRENDS")), string(d + 1), pick(Seq("a", "b", "")))
        case 10 => Regex(string(d + 1), pick(Seq("^a", "b$", "A")), rnd.nextBoolean())
        case _ => Bound(v())
      }
    def body(): Ex = rnd.nextInt(6) match {
      case 0 | 1 => numCall(0)
      case 2 => stringCall(0)
      case 3 => If(cond(1), numCall(1), numCall(1))
      case 4 => If(cond(1), stringCall(1), stringCall(1))
      case _ => Coalesce("w", "v")
    }
    def having(d: Int): Ex = rnd.nextInt(if (d > 1) 3 else 6) match {
      case 3 => Not(having(d + 1))
      case 4 => And(having(d + 1), having(d + 1))
      case 5 => Or(having(d + 1), having(d + 1))
      case _ => NCmp(pick(Seq("=", "!=", "<", "<=", ">", ">=")),
        Agg(pick(Seq("COUNT(*)", "COUNT(?v)", "SUM(?v)", "AVG(?v)"))),
        pick(Consts ++ Seq(NConst("-1", -1.0), NConst("2", 2.0))))
    }
  }

  /** SPARQL text; arithmetic is parenthesized, so a comparison may start
    * with '(' (the right side after = / != is written bare). */
  def render(e: Ex): String = e match {
    case NVar(v)          => s"?$v"
    case NConst(s, _)     => s
    case Arith(op, a, b)  => s"(${render(a)} $op ${render(b)})"
    case Neg(a)           => s"-${render(a)}"
    case NFn(f, a)        => s"$f(${render(a)})"
    case StrLen(a)        => s"STRLEN(${render(a)})"
    case DateFn(f, v)     => s"$f(?$v)"
    case Cast(toInt, v)   => s"<$XSD${if (toInt) "integer" else "double"}>(?$v)"
    case SVar(v, viaStr)  => if (viaStr) s"STR(?$v)" else s"?$v"
    case SLang(v)         => s"LANG(?$v)"
    case SConst(s)        => "\"" + s + "\""
    case SCase(u, a)      => s"${if (u) "UCASE" else "LCASE"}(${render(a)})"
    case SConcat(a, b)    => s"CONCAT(${render(a)}, ${render(b)})"
    case SSub(a, k)       => s"SUBSTR(${render(a)}, $k)"
    case NCmp(op, a, b)   =>
      val r = b match {
        case Arith(o, x, y) if op == "=" || op == "!=" => s"${render(x)} $o ${render(y)}"
        case _ => render(b)
      }
      s"${render(a)} $op $r"
    case SCmp(eq, a, b)   => s"${render(a)} ${if (eq) "=" else "!="} ${render(b)}"
    case IdCmp(eq, v, t)  => s"?$v ${if (eq) "=" else "!="} ${t.fold("?w")(_.spelled)}"
    case DCmp(op, v, d)   => s"?$v $op \"$d\"^^<${XSD}date>"
    case InList(v, items, neg) =>
      s"?$v ${if (neg) "NOT " else ""}IN (" + items.map(_.fold(_.spelling, _.spelled)).mkString(", ") + ")"
    case Bound(v)         => s"BOUND(?$v)"
    case IsLit(v)         => s"ISLITERAL(?$v)"
    case Not(a)           => s"!(${render(a)})"
    case And(a, b)        => s"(${render(a)}) && (${render(b)})"
    case Or(a, b)         => s"(${render(a)}) || (${render(b)})"
    case StrFn(f, a, n)   => s"$f(${render(a)}, \"$n\")"
    case Regex(a, p, ci)  => s"REGEX(${render(a)}, \"$p\"${if (ci) ", \"i\"" else ""})"
    case If(c, a, b)      => s"IF(${render(c)}, ${render(a)}, ${render(b)})"
    case Coalesce(a, b)   => s"COALESCE(?$a, ?$b)"
    case Agg(f)           => f
  }

  /** Numeric value of a term with SPARQL's promotion (integer family and
    * double/float/decimal as double); anything else is an error. */
  private def numOf(x: Option[Value]): Option[Double] = x.flatMap {
    case N(d) => Some(d)
    case T(t) => t.num
    case _    => None
  }

  /** `e` over a solution and, as ?b, the value of a BIND. */
  def eval(e: Ex, m: Sol, bind: Option[Value] = None): Option[Value] =
    evalIn(e, m.map { case (k, t) => k -> (T(t): Value) } ++ bind.map("b" -> _))

  /** The values of `m` are pattern terms (T) or computed BIND values. */
  private def evalIn(e: Ex, m: Map[String, Value]): Option[Value] = {
    def ev(x: Ex) = evalIn(x, m)
    def n(x: Ex) = numOf(ev(x))
    def s(x: Ex): Option[String] = ev(x).collect { case S(v) => v }
    def b(x: Ex): Option[Boolean] = ev(x).collect { case B(v) => v }
    def term(v: String): Option[Term] = m.get(v).collect { case T(t) => t }
    e match {
      case NVar(v)         => numOf(m.get(v)).map(N)
      case NConst(_, d)    => Some(N(d))
      case Arith(op, x, y) => for (a <- n(x); c <- n(y) if !(op == "/" && c == 0)) yield N(op match {
        case "+" => a + c
        case "-" => a - c
        case "*" => a * c
        case "/" => a / c
      })
      case Neg(x)          => n(x).map(a => N(0 - a))
      case NFn(f, x)       => n(x).map(a => N(f match {
        case "ABS"   => math.abs(a)
        case "CEIL"  => math.ceil(a)
        case "FLOOR" => math.floor(a)
        case "ROUND" => math.floor(a + 0.5)
      }))
      case StrLen(x)       => s(x).map(v => N(v.length.toDouble))
      // a dateTime by value, a date at midnight (UTC)
      case DateFn(f, v)    => term(v).collect {
        case t if t.dt.contains(XSD + "dateTime") => java.time.LocalDateTime.parse(t.value)
        case t if t.dt.contains(XSD + "date")     => java.time.LocalDate.parse(t.value).atStartOfDay()
      }.map(d => N((if (f == "YEAR") d.getYear else d.getDayOfMonth).toDouble))
      // a number's value, a string literal's lexical form; xsd:integer
      // truncates toward zero
      case Cast(toInt, v)  => term(v).flatMap(t => t.num.orElse(
        if (t.isString) t.value.trim.toDoubleOption else None))
        .map(d => N(if (toInt) d.toLong.toDouble else d))
      // a bare variable reads string literals; STR also literals' lexical
      // forms and IRIs
      case SVar(v, viaStr) => term(v).collect { case t if viaStr || t.isString => S(t.value) }
      case SLang(v)        => term(v).collect { case t if !t.iri => S(t.lang.getOrElse("")) }
      case SConst(v)       => Some(S(v))
      case SCase(u, x)     => s(x).map(v => S(if (u) v.toUpperCase(java.util.Locale.ROOT)
                                                else v.toLowerCase(java.util.Locale.ROOT)))
      case SConcat(x, y)   => for (a <- s(x); c <- s(y)) yield S(a + c)
      case SSub(x, k)      => s(x).map(v => S(v.drop(k - 1)))
      // two variables under = / != compare as RDF terms: neither brings a
      // value space
      case NCmp(op @ ("=" | "!="), NVar(x), NVar(y)) =>
        for (a <- term(x); c <- term(y)) yield B((a.id == c.id) == (op == "="))
      case NCmp(op, x, y)  => for (a <- n(x); c <- n(y)) yield B(op match {
        case "="  => a == c
        case "!=" => a != c
        case "<"  => a < c
        case "<=" => a <= c
        case ">"  => a > c
        case ">=" => a >= c
      })
      case SCmp(eq, x, y)  => for (a <- s(x); c <- s(y)) yield B((a == c) == eq)
      case IdCmp(eq, v, t) =>
        for (a <- term(v); c <- t.orElse(term("w"))) yield B((a.id == c.id) == eq)
      case DCmp(op, v, d)  =>
        term(v).filter(_.dt.contains(XSD + "date")).map { t =>
          val c = java.time.LocalDate.parse(t.value).compareTo(java.time.LocalDate.parse(d))
          B(op match {
            case "="  => c == 0
            case "<"  => c < 0
            case ">=" => c >= 0
          })
        }
      case InList(v, items, neg) =>
        val hit =
          if (items.forall(_.isLeft)) numOf(m.get(v)).map(a => items.exists(_.left.exists(_.value == a)))
          else term(v).map(t => items.exists(_.exists(_.id == t.id)))
        hit.map(h => B(h != neg))
      case Bound(v)        => Some(B(m.contains(v)))
      case IsLit(v)        => term(v).map(t => B(!t.iri))
      case Not(x)          => b(x).map(v => B(!v))
      case And(x, y)       => (b(x), b(y)) match {
        case (Some(false), _) | (_, Some(false)) => Some(B(false))
        case (Some(true), Some(true))            => Some(B(true))
        case _                                   => None
      }
      case Or(x, y)        => (b(x), b(y)) match {
        case (Some(true), _) | (_, Some(true)) => Some(B(true))
        case (Some(false), Some(false))        => Some(B(false))
        case _                                 => None
      }
      case StrFn(f, x, nd) => s(x).map(v => B(f match {
        case "CONTAINS"  => v.contains(nd)
        case "STRSTARTS" => v.startsWith(nd)
        case "STRENDS"   => v.endsWith(nd)
      }))
      case Regex(x, p, ci) =>
        s(x).map(v => B(java.util.regex.Pattern.compile(if (ci) "(?i)" + p else p).matcher(v).find()))
      // a NULL condition takes the ELSE branch
      case If(c, x, y)     => if (b(c).contains(true)) ev(x) else ev(y)
      case Coalesce(x, y)  => term(x).orElse(term(y)).map(T)
      case Agg(_)          => None
    }
  }

  /** A HAVING condition over one group's ?v terms: COUNT, and SUM / AVG
    * strict (a non-numeric term makes them unbound), summed exactly. */
  def evalHaving(h: Ex, vs: Seq[Term]): Option[Boolean] = {
    val exact = vs.map(t => t.num.map(_ => BigDecimal(t.value)))
    val sum = if (exact.forall(_.isDefined)) Some(exact.flatten.sum.toDouble) else None
    def agg(f: String): Option[Double] = f match {
      case "COUNT(*)" | "COUNT(?v)" => Some(vs.size.toDouble)
      case "SUM(?v)"                => sum
      case "AVG(?v)"                => sum.map(_ / vs.size)
    }
    h match {
      case NCmp(op, Agg(f), k) =>
        agg(f).flatMap(a => evalIn(NCmp(op, NConst("", a), k), Map.empty)).collect { case B(v) => v }
      case Not(x)    => evalHaving(x, vs).map(!_)
      case And(x, y) => (evalHaving(x, vs), evalHaving(y, vs)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(x, y)  => (evalHaving(x, vs), evalHaving(y, vs)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case other => sys.error(s"not a HAVING condition: $other")
    }
  }

  /** ORDER BY ?v with the nodes table: numeric literals by value after
    * every other term, ties and the rest by id. */
  def orderKey(t: Term): (Int, Double, String) =
    t.num.fold((0, 0.0, t.id))(d => (1, d, t.id))

  def before(a: (Int, Double, String), b: (Int, Double, String)): Boolean =
    if (a._1 != b._1) a._1 < b._1 else if (a._2 != b._2) a._2 < b._2 else a._3 < b._3
}

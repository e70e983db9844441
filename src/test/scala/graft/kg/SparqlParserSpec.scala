package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The string front end must be EXACTLY the programmatic Bgp layer —
 * every test matches a parsed query against its hand-built twin, so the
 * parser can never drift from the engine's semantics.
 */
class SparqlParserSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import Bgp.{C, PAlternative, PClosure, PLeaf, PathPat, TriplePattern, V}
  import Sparql.{BGP, Exists, Join, LeftJoin, Minus, Table, Union}

  private def edges(rows: (String, String, String)*) =
    rows.toDF("subj_id", "pred", "obj_id")

  private def assertSame(parsed: DataFrame, prog: DataFrame): Unit = {
    assert(parsed.columns.toSeq === prog.columns.toSeq)
    val render = (df: DataFrame) =>
      df.collect().map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)
        .mkString("\u0001")).sorted.toSeq
    assert(render(parsed) === render(prog))
  }

  private val d1 = Bgp.iriId("urn:doc:1")
  private val d2 = Bgp.iriId("urn:doc:2")
  private val d3 = Bgp.iriId("urn:doc:3")
  private val en = Bgp.litId("en")
  private val fr = Bgp.litId("fr")
  private val web = Bgp.litId("web")
  private val book = Bgp.litId("book")

  private def corpus = edges(
    (d1, "urn:lang", en), (d1, "urn:src", web),
    (d2, "urn:lang", fr), (d2, "urn:src", book),
    (d3, "urn:lang", en))

  test("BGP with IRI and literal constants parses to the programmatic twin") {
    val parsed = Sparql.run(corpus,
      """SELECT * WHERE { ?d <urn:lang> "en" . ?d <urn:src> ?s }""")
    val prog = Bgp.matchPatterns(corpus, Seq(
      TriplePattern(V("d"), C("urn:lang"), C(en)),
      TriplePattern(V("d"), C("urn:src"), V("s"))))
    assertSame(parsed, prog)
  }

  test("OPTIONAL, FILTER and BOUND parse to the programmatic twin") {
    val parsed = Sparql.run(corpus,
      """SELECT ?d ?s WHERE {
        |  ?d <urn:lang> "en" .
        |  OPTIONAL { ?d <urn:src> ?s }
        |  FILTER (!BOUND(?s) || ?s = "web")
        |}""".stripMargin)
    val prog = Sparql.evaluate(corpus, LeftJoin(
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), C(en)))),
      BGP(Seq(TriplePattern(V("d"), C("urn:src"), V("s"))))))
      .filter(!col("s").isNotNull || col("s") === lit(web))
      .select("d", "s")
    assertSame(parsed, prog)
    // both rows survive: d1 binds web, d3 is unbound
    assert(parsed.count() === 2)
  }

  test("UNION parses to the programmatic twin (with branch NULL-padding)") {
    val parsed = Sparql.run(corpus,
      """SELECT * WHERE {
        |  { ?d <urn:lang> "en" . ?d <urn:src> ?s }
        |  UNION { ?d <urn:lang> "fr" }
        |}""".stripMargin)
    val prog = Sparql.evaluate(corpus, Union(Seq(
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), C(en)),
        TriplePattern(V("d"), C("urn:src"), V("s")))),
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), C(fr)))))))
    assertSame(parsed, prog)
  }

  test("property path <p>+ and the 'a' shorthand parse to the twin") {
    val cls = Bgp.iriId("urn:Class")
    val up = edges(
      (d1, "urn:up", d2), (d2, "urn:up", d3),
      (d1, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", cls))
    val parsed = Sparql.run(up,
      """SELECT ?x ?y WHERE { ?x <urn:up>+ ?y . ?x a <urn:Class> }""")
    val prog = Bgp.matchPatterns(up, Seq(
      TriplePattern(V("x"), PathPat(PClosure(PLeaf("urn:up"), '+')), V("y")),
      TriplePattern(V("x"), C("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"), C(cls))))
      .select("x", "y")
    assertSame(parsed, prog)
    assert(parsed.count() === 2) // d1 reaches d2 and d3
  }

  test("inverse ^<p> and sequence <p1>/<p2> paths parse to the twin") {
    import Bgp.{PInverse, PSequence}
    val (a, b, p, r) = (d1, d2, d3, en) // a up p; b up p; p up r
    val up = edges((a, "urn:up", p), (b, "urn:up", p), (p, "urn:up", r))
    def render(df: DataFrame) =
      df.collect().map(row => (row.getString(0), row.getString(1))).sorted.toSeq

    val inv = Sparql.run(up, "SELECT ?x ?y WHERE { ?x ^<urn:up> ?y }")
    val invProg = Bgp.matchPatterns(up,
      Seq(TriplePattern(V("x"), PathPat(PInverse(PLeaf("urn:up"))), V("y")))).select("x", "y")
    assertSame(inv, invProg)
    assert(render(inv) === Seq((p, a), (p, b), (r, p)).sorted)

    val grand = Sparql.run(up, "SELECT ?x ?y WHERE { ?x <urn:up>/<urn:up> ?y }")
    val grandProg = Bgp.matchPatterns(up, Seq(TriplePattern(V("x"),
      PathPat(PSequence(Seq(PLeaf("urn:up"), PLeaf("urn:up")))), V("y")))).select("x", "y")
    assertSame(grand, grandProg)
    assert(render(grand) === Seq((a, r), (b, r)).sorted)

    // forward-then-inverse: nodes sharing a parent (incl. self-routes)
    val sib = Sparql.run(up, "SELECT ?x ?y WHERE { ?x <urn:up>/^<urn:up> ?y }")
    assert(render(sib) ===
      Seq((a, a), (a, b), (b, a), (b, b), (p, p)).sorted)

    // nested forms (closures inside sequences/alternatives, inverses of
    // closures) compose recursively — no longer rejections
    val hop2plus = Sparql.run(up,
      "SELECT ?x ?y WHERE { ?x <urn:up>/<urn:up>+ ?y }")
    assert(render(hop2plus) === Seq((a, r), (b, r)).sorted) // distance >= 2
    val invPlus = Sparql.run(up, "SELECT ?x ?y WHERE { ?x ^<urn:up>+ ?y }")
    assert(render(invPlus) === // ^(up+): the closure's pairs, swapped
      Seq((p, a), (p, b), (r, p), (r, a), (r, b)).sorted)
    // alternative of a closure and a leaf: BAG union per SPARQL path
    // evaluation — the up edges appear via both branches
    val altPlus = Sparql.run(up,
      "SELECT ?x ?y WHERE { ?x <urn:up>+|<urn:up> ?y }")
    assert(altPlus.count() === 8) // 5 closure pairs + 3 edges
    assert(altPlus.distinct().count() === 5)
  }

  test("zero-length paths <p>*/<p>? and negated property sets parse to the twin") {
    import Bgp.PNegated
    val (a, b, p, r) = (d1, d2, d3, en) // a up p; b up p; p up r; a peer b
    val g = edges((a, "urn:up", p), (b, "urn:up", p), (p, "urn:up", r),
      (a, "urn:peer", b))
    def render(df: DataFrame) =
      df.collect().map(row => (row.getString(0), row.getString(1))).toSet
    val nodes = Set(a, b, p, r)
    val identity = nodes.map(n => (n, n))

    val star = Sparql.run(g, "SELECT ?x ?y WHERE { ?x <urn:up>* ?y }")
    val starProg = Bgp.matchPatterns(g,
      Seq(TriplePattern(V("x"), PathPat(PClosure(PLeaf("urn:up"), '*')), V("y")))).select("x", "y")
    assertSame(star, starProg)
    assert(render(star) === identity ++
      Set((a, p), (b, p), (p, r), (a, r), (b, r))) // closure, peer NOT leaked

    val opt = Sparql.run(g, "SELECT ?x ?y WHERE { ?x <urn:up>? ?y }")
    val optProg = Bgp.matchPatterns(g,
      Seq(TriplePattern(V("x"), PathPat(PClosure(PLeaf("urn:up"), '?')), V("y")))).select("x", "y")
    assertSame(opt, optProg)
    assert(render(opt) === identity ++ Set((a, p), (b, p), (p, r)))

    val neg = Sparql.run(g, "SELECT ?x ?y WHERE { ?x !<urn:up> ?y }")
    val negProg = Bgp.matchPatterns(g,
      Seq(TriplePattern(V("x"), PathPat(PNegated(Seq("urn:up"), Nil)), V("y")))).select("x", "y")
    assertSame(neg, negProg)
    assert(render(neg) === Set((a, b))) // only the peer edge survives

    val negAll = Sparql.run(g,
      "SELECT ?x ?y WHERE { ?x !(<urn:up>|<urn:peer>) ?y }")
    assert(negAll.count() === 0)

    def bad(q: String, needle: String): Unit =
      assert(intercept[IllegalArgumentException](Sparql.parse(q))
        .getMessage.contains(needle))
    bad("SELECT * WHERE { ?x <urn:up>*+ ?y }", "cannot combine")
    // negated sets take INVERSE members now (SPARQL 1.1 9.1): !(^up)
    // traverses inverse edges whose predicate is outside {up}
    val negInv = Sparql.run(g, "SELECT ?x ?y WHERE { ?x !(^<urn:up>) ?y }")
    assert(render(negInv) === Set((b, a))) // peer's inverse only
    // mixed members: a forward NOT-IN arm union an inverse NOT-IN arm
    val negMixed = Sparql.run(g,
      "SELECT ?x ?y WHERE { ?x !(<urn:peer>|^<urn:peer>) ?y }")
    assert(render(negMixed) ===
      Set((a, p), (b, p), (p, r), (p, a), (p, b), (r, p)))
  }

  test("MINUS, predicate alternatives and SELECT DISTINCT parse to the twin") {
    val spam = Bgp.iriId("urn:doc:spam")
    val e = edges(
      (d1, "urn:lang", en), (d2, "urn:lang", fr), (d3, "urn:lang", en),
      (d1, "urn:flag", spam),
      (d2, "urn:title", web), (d3, "urn:alt", web))
    val parsed = Sparql.run(e,
      """SELECT ?d WHERE {
        |  ?d <urn:lang> ?l .
        |  MINUS { ?d <urn:flag> ?f }
        |}""".stripMargin)
    val prog = Sparql.evaluate(e, Minus(
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("urn:flag"), V("f"))))))
      .select("d")
    assertSame(parsed, prog)
    assert(parsed.collect().map(_.getString(0)).toSet === Set(d2, d3))

    val alt = Sparql.run(e,
      """SELECT * WHERE { ?d <urn:title>|<urn:alt> ?t }""")
    val altProg = Bgp.matchPatterns(e,
      Seq(TriplePattern(V("d"),
        PathPat(PAlternative(Seq(PLeaf("urn:title"), PLeaf("urn:alt")))), V("t"))))
    assertSame(alt, altProg)
    assert(alt.count() === 2)

    // two docs share lang 'en' -> DISTINCT collapses the projection
    val dist = Sparql.run(e, """SELECT DISTINCT ?l WHERE { ?d <urn:lang> ?l }""")
    assert(dist.collect().map(_.getString(0)).sorted.toSeq === Seq(en, fr).sorted)
  }

  test("language-tagged and typed literals hash like litId") {
    val bonjour = Bgp.litId("bonjour", lang = Some("fr"))
    val five = Bgp.litId("5", dt = "http://www.w3.org/2001/XMLSchema#integer")
    val e = edges((d1, "urn:p", bonjour), (d2, "urn:p", five))
    val p1 = Sparql.run(e, """SELECT * WHERE { ?x <urn:p> "bonjour"@fr }""")
    assert(p1.collect().map(_.getString(0)).toSeq === Seq(d1))
    val p2 = Sparql.run(e,
      """SELECT * WHERE { ?x <urn:p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> }""")
    assert(p2.collect().map(_.getString(0)).toSeq === Seq(d2))
  }

  test("GROUP BY + COUNT/COUNT DISTINCT/MIN + HAVING equals the programmatic twin") {
    val e = edges(
      (d1, "urn:lang", en), (d1, "urn:src", web),
      (d2, "urn:lang", fr), (d2, "urn:src", book),
      (d3, "urn:lang", en), (d3, "urn:src", web))
    val parsed = Sparql.run(e,
      """SELECT ?l (COUNT(?d) AS ?n) (COUNT(DISTINCT ?s) AS ?ns) (MIN(?s) AS ?lo)
        |WHERE { ?d <urn:lang> ?l . ?d <urn:src> ?s }
        |GROUP BY ?l HAVING (COUNT(?d) >= 2)""".stripMargin)
    val prog = Bgp.matchPatterns(e, Seq(
        TriplePattern(V("d"), C("urn:lang"), V("l")),
        TriplePattern(V("d"), C("urn:src"), V("s"))))
      .groupBy(col("l"))
      .agg(count(col("d")).as("n"), countDistinct(col("s")).as("ns"),
        min(col("s")).as("lo"))
      .filter(col("n") >= 2)
      .select("l", "n", "ns", "lo")
    assertSame(parsed, prog)
    assert(parsed.count() === 1) // only 'en' has 2 docs
  }

  test("global aggregate (no GROUP BY) and grouping-only GROUP BY") {
    val g = Sparql.run(corpus, "SELECT (COUNT(*) AS ?n) WHERE { ?d <urn:lang> ?l }")
    assert(g.collect().map(_.getLong(0)).toSeq === Seq(3L))
    val keys = Sparql.run(corpus, "SELECT ?l WHERE { ?d <urn:lang> ?l } GROUP BY ?l")
    assert(keys.collect().map(_.getString(0)).sorted.toSeq === Seq(en, fr).sorted)
  }

  test("GROUP_CONCAT sorts, honors SEPARATOR and DISTINCT; SAMPLE is min") {
    val e = edges(
      (d1, "urn:tag", en), (d1, "urn:tag", fr), (d1, "urn:tag", en),
      (d2, "urn:tag", fr))
    val parsed = Sparql.run(e,
      """SELECT ?d (GROUP_CONCAT(?t; SEPARATOR="|") AS ?all)
        |           (GROUP_CONCAT(DISTINCT ?t; SEPARATOR="|") AS ?uniq)
        |           (SAMPLE(?t) AS ?one)
        |WHERE { ?d <urn:tag> ?t } GROUP BY ?d""".stripMargin)
    val rows = parsed.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).sortBy(_._1)
    val Seq(lo, hi) = Seq(en, fr).sorted
    val exp = Seq(
      (d1, Seq(en, en, fr).sorted.mkString("|"), s"$lo|$hi", Seq(en, fr).min),
      (d2, fr, fr, fr)).sortBy(_._1)
    assert(rows.toSeq === exp)
  }

  test("ORDER BY / LIMIT / OFFSET slice deterministically") {
    val e = edges(
      (d1, "urn:lang", en), (d2, "urn:lang", fr), (d3, "urn:lang", en))
    val ordered = Sparql.run(e,
      "SELECT ?d ?l WHERE { ?d <urn:lang> ?l } ORDER BY ASC(?d) DESC(?l)")
    assert(ordered.collect().map(_.getString(0)).toSeq ===
      Seq(d1, d2, d3).sorted)
    val sliced = Sparql.run(e,
      "SELECT ?d WHERE { ?d <urn:lang> ?l } ORDER BY ?d LIMIT 1 OFFSET 1")
    assert(sliced.collect().map(_.getString(0)).toSeq ===
      Seq(Seq(d1, d2, d3).sorted.apply(1)))
    // aggregate + ORDER BY alias + LIMIT
    val top = Sparql.run(e,
      """SELECT ?l (COUNT(?d) AS ?n) WHERE { ?d <urn:lang> ?l }
        |GROUP BY ?l ORDER BY DESC(?n) ?l LIMIT 1""".stripMargin)
    assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq((en, 2L)))
  }

  test("VALUES: single var is an IN-selection, multi var a semi-join") {
    val e = edges(
      (d1, "urn:lang", en), (d1, "urn:src", web),
      (d2, "urn:lang", fr), (d2, "urn:src", book),
      (d3, "urn:lang", en), (d3, "urn:src", book))
    val single = Sparql.run(e,
      """SELECT ?d WHERE { ?d <urn:lang> ?l . VALUES ?l { "en" } }""")
    assert(single.collect().map(_.getString(0)).toSet === Set(d1, d3))
    val multi = Sparql.run(e,
      """SELECT ?d ?l ?s WHERE {
        |  ?d <urn:lang> ?l . ?d <urn:src> ?s .
        |  VALUES (?l ?s) { ("en" "web") ("fr" "book") }
        |}""".stripMargin)
    assert(multi.collect().map(_.getString(0)).toSet === Set(d1, d2))
    val prog = Sparql.evaluate(e, Join(Seq(
      BGP(Seq(
        TriplePattern(V("d"), C("urn:lang"), V("l")),
        TriplePattern(V("d"), C("urn:src"), V("s")))),
      Table(Seq("l", "s"), Seq(Seq(en, web), Seq(fr, book))))))
      .select("d", "l", "s")
    assertSame(multi, prog)
  }

  test("ASK evaluates group existence; CONSTRUCT instantiates a distinct graph") {
    val e = edges(
      (d1, "urn:lang", en), (d1, "urn:src", web),
      (d2, "urn:lang", fr),
      (d3, "urn:lang", en), (d3, "urn:src", web))
    assert(Sparql.ask(e, """ASK { ?d <urn:lang> "en" }"""))
    assert(Sparql.ask(e, """ASK WHERE { ?d <urn:lang> "en" . ?d <urn:src> ?s }"""))
    assert(!Sparql.ask(e, """ASK { ?d <urn:lang> "zh" }"""))
    val askDf = Sparql.run(e, """ASK { ?d <urn:lang> "zh" }""")
    assert(askDf.columns.toSeq === Seq("ask"))
    assert(askDf.collect().map(_.getBoolean(0)).toSeq === Seq(false))

    // reverse edge for every src binding (d2 has none -> skipped), a
    // type edge per doc, constant object hashed via iriId; the doubled
    // en docs prove DISTINCT graph semantics on the constant triple
    val g = Sparql.run(e,
      """CONSTRUCT { ?s <urn:rev:src> ?d . ?d a <urn:Doc> }
        |WHERE { ?d <urn:lang> ?l . OPTIONAL { ?d <urn:src> ?s } }""".stripMargin)
    assert(g.columns.toSeq === Seq("subj_id", "pred", "obj_id"))
    val rows = g.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val doc = Bgp.iriId("urn:Doc")
    assert(rows === Set(
      (web, "urn:rev:src", d1), (web, "urn:rev:src", d3),
      (d1, rdfType, doc), (d2, rdfType, doc), (d3, rdfType, doc)))

    def bad(q: String, needle: String): Unit =
      assert(intercept[IllegalArgumentException](Sparql.parse(q))
        .getMessage.contains(needle))
    bad("CONSTRUCT { ?x <urn:p>+ ?y } WHERE { ?x <urn:p> ?y }",
      "not allowed in a CONSTRUCT template")
    bad("CONSTRUCT { ?x <urn:p> ?zzz } WHERE { ?x <urn:p> ?y }",
      "not bound by the WHERE group")
    bad("""ASK { ?d <urn:lang> "en" } LIMIT 1""", "trailing tokens")
  }

  test("aggregate/modifier/VALUES misuse fails loudly") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    bad("SELECT (SUM(*) AS ?s) WHERE { ?a <p> ?x }", "SUM takes a ?variable")
    bad("SELECT * WHERE { ?a <p> ?x } GROUP BY ?a", "project the grouped")
    bad("SELECT ?x (COUNT(?a) AS ?n) WHERE { ?a <p> ?x } GROUP BY ?a",
      "must appear in GROUP BY")
    bad("SELECT ?a WHERE { ?a <p> ?x } ORDER BY ?zzz", "not a result column")
    bad("""SELECT ?a WHERE { ?a <p> ?x . VALUES ?y { "v" } }""",
      "bound by the required pattern")
    bad("""SELECT ?a WHERE { ?a <p> ?x . OPTIONAL { ?a <q> ?y }
          | VALUES ?y { "v" } }""".stripMargin, "bound by the required pattern")
    bad("SELECT ?a (COUNT(?x) AS ?a) WHERE { ?a <p> ?x } GROUP BY ?a",
      "duplicate SELECT name")
    bad("SELECT ?a WHERE { ?a <p> ?x } GROUP BY ?a HAVING (MIN(?x) > 3)",
      "COUNT/SUM/AVG comparisons only")
    bad("SELECT ?a WHERE { ?a <p> ?x } LIMIT 3 LIMIT 4", "duplicate LIMIT")
  }

  test("FILTER EXISTS / NOT EXISTS parse to the semi/anti-join twins") {
    val parsedEx = Sparql.run(corpus,
      """SELECT ?d ?l WHERE { ?d <urn:lang> ?l
        |  FILTER EXISTS { ?d <urn:src> ?s } }""".stripMargin)
    val progEx = Sparql.evaluate(corpus, Exists(
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("urn:src"), V("s")))), negated = false))
      .select(col("d"), col("l"))
    assertSame(parsedEx, progEx)
    assert(parsedEx.collect().map(_.getString(0)).toSet === Set(d1, d2))

    val parsedNx = Sparql.run(corpus,
      """SELECT ?d WHERE { ?d <urn:lang> ?l
        |  FILTER NOT EXISTS { ?d <urn:src> ?s } }""".stripMargin)
    assert(parsedNx.collect().map(_.getString(0)).toSeq === Seq(d3))
    // an EXISTS group sharing no variable is a constant-truth probe
    val ex = intercept[IllegalArgumentException](Sparql.run(corpus,
      "SELECT ?d WHERE { ?d <urn:lang> ?l FILTER EXISTS { ?x <urn:src> ?y } }")
      .collect())
    assert(ex.getMessage.contains("shares no variable"))
  }

  test("numeric value-space FILTER parses to the bindValues twin") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p10 = Bgp.litId("10", XSD + "long")
    val p200 = Bgp.litId("200", XSD + "long")
    val p2_5 = Bgp.litId("2.5", XSD + "double")
    val e = edges((d1, "urn:price", p10), (d2, "urn:price", p200),
      (d3, "urn:price", p2_5))
    val nodes = Seq(
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (p200, RdfTerm.LITERAL, "200", null, XSD + "long"),
      (p2_5, RdfTerm.LITERAL, "2.5", null, XSD + "double"),
      (d1, RdfTerm.IRI, "urn:doc:1", null, null))
      .toDF("id", "kind", "value", "lang", "dt")
    val parsed = Sparql.run(e, nodes,
      "SELECT ?d ?p WHERE { ?d <urn:price> ?p FILTER (?p > 2.4 && ?p < 100) }")
    val prog = Bgp.bindValues(
      Bgp.matchPatterns(e, Seq(TriplePattern(V("d"), C("urn:price"), V("p")))),
      nodes, Seq("p"))
      .filter(coalesce(TypedLiterals.asLong(col("p_term")).cast("double"),
        TypedLiterals.asDouble(col("p_term"))) > 2.4)
      .filter(coalesce(TypedLiterals.asLong(col("p_term")).cast("double"),
        TypedLiterals.asDouble(col("p_term"))) < 100)
      .drop("p_term").select(col("d"), col("p"))
    assertSame(parsed, prog)
    assert(parsed.collect().map(_.getString(0)).toSet === Set(d1, d3))
    // integer equality goes value-space too: 200 = 200^^xsd:long
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER (?p = 200) }")
      .collect().map(_.getString(0)).toSeq === Seq(d2))
    // without the nodes table the numeric comparison must fail loudly
    val ex = intercept[IllegalArgumentException](Sparql.run(e,
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER (?p > 5) }"))
    assert(ex.getMessage.contains("nodes"))
    // ordering against an IRI/literal constant is not id-decidable
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER (?p > \"x\") }"))
    assert(ex2.getMessage.contains("value-space"))
  }

  test("string value-space FILTER functions parse to the strSpace twin") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    val chatEn = Bgp.litId("chat room", lang = Some("en"))
    val chatFr = Bgp.litId("chat", lang = Some("fr"))
    val n42 = Bgp.litId("42", XSD + "long")
    val e = edges((d1, "urn:cap", chatEn), (d2, "urn:cap", chatFr),
      (d3, "urn:cap", n42), (d1, "urn:ref", d2))
    val nodes = Seq(
      (chatEn, RdfTerm.LITERAL, "chat room", "en", RLS),
      (chatFr, RdfTerm.LITERAL, "chat", "fr", RLS),
      (n42, RdfTerm.LITERAL, "42", null, XSD + "long"),
      (d1, RdfTerm.IRI, "urn:doc:1", null, null),
      (d2, RdfTerm.IRI, "urn:doc:2", null, null),
      (d3, RdfTerm.IRI, "urn:doc:3", null, null))
      .toDF("id", "kind", "value", "lang", "dt")
    def ids(q: String): Set[String] =
      Sparql.run(e, nodes, q).collect().map(_.getString(0)).toSet
    // LANG: en-tagged only; the untagged number and the IRI object drop
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (LANG(?c) = \"en\") }")
      === Set(d1))
    // LANG != : fr survives; the untagged-number literal has lang '' (!= en),
    // so it survives TOO — only the en row drops
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (LANG(?c) != \"en\") }")
      === Set(d2, d3))
    // bare-var CONTAINS reads string-family literals only: 42^^long drops
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (CONTAINS(?c, \"chat\")) }")
      === Set(d1, d2))
    // STRSTARTS + STRENDS via STR()
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (STRSTARTS(STR(?c), \"chat\") && STRENDS(STR(?c), \"room\")) }")
      === Set(d1))
    // STR() stringifies the IRI object too
    assert(ids("SELECT ?d WHERE { ?d <urn:ref> ?o FILTER (STRSTARTS(STR(?o), \"urn:doc\")) }")
      === Set(d1))
    // DATATYPE against an IRI constant
    assert(ids(s"SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (DATATYPE(?c) = <$RLS>) }")
      === Set(d1, d2))
    // kind tests
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (ISLITERAL(?c)) }")
      === Set(d1, d2, d3))
    assert(ids("SELECT ?d WHERE { ?d <urn:ref> ?o FILTER (ISIRI(?o)) }")
      === Set(d1))
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (ISBLANK(?c)) }")
      === Set.empty[String])
    // STR equality in string space (not node-id space)
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (STR(?c) = \"chat\") }")
      === Set(d2))
    // parsed form equals the programmatic strSpace twin
    val parsed = Sparql.run(e, nodes,
      "SELECT ?c ?d WHERE { ?d <urn:cap> ?c FILTER (CONTAINS(?c, \"chat\")) }")
    val prog = Bgp.bindValues(
      Bgp.matchPatterns(e, Seq(TriplePattern(V("d"), C("urn:cap"), V("c")))),
      nodes, Seq("c"))
      .filter(when(col("c_term")("kind") === RdfTerm.LITERAL &&
        col("c_term")("dt").isin(RdfTerm.XsdString, RdfTerm.RdfLangString),
        col("c_term")("value")).contains("chat"))
      .drop("c_term").select(col("c"), col("d"))
    assertSame(parsed, prog)
    // string functions without the nodes table fail loudly
    val ex = intercept[IllegalArgumentException](Sparql.run(e,
      "SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (CONTAINS(?c, \"x\")) }"))
    assert(ex.getMessage.contains("nodes"))
    // string ordering is out of fragment
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:cap> ?c FILTER (STR(?c) < \"x\") }"))
    assert(ex2.getMessage.contains("= / != only"))
  }

  test("SUM/AVG aggregate the numeric value space with strict SPARQL errors") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p10 = Bgp.litId("10", XSD + "long")
    val p200 = Bgp.litId("200", XSD + "long")
    val p2_5 = Bgp.litId("2.5", XSD + "double")
    val bad = Bgp.litId("oops")
    val e = edges(
      (d1, "urn:price", p10), (d1, "urn:price", p200), (d1, "urn:price", p2_5),
      (d2, "urn:price", p10), (d2, "urn:price", p10), (d2, "urn:price", bad))
    val nodes = Seq(
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (p200, RdfTerm.LITERAL, "200", null, XSD + "long"),
      (p2_5, RdfTerm.LITERAL, "2.5", null, XSD + "double"),
      (bad, RdfTerm.LITERAL, "oops", null, XSD + "string"),
      (d1, RdfTerm.IRI, "urn:doc:1", null, null))
      .toDF("id", "kind", "value", "lang", "dt")
    val rows = Sparql.run(e, nodes,
      """SELECT ?d (SUM(?p) AS ?total) (AVG(?p) AS ?mean) (COUNT(?p) AS ?n)
        |WHERE { ?d <urn:price> ?p } GROUP BY ?d""".stripMargin)
      .collect().map(r => r.getString(0) -> ((
        if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getLong(3)))).toMap
    // d1: all numeric -> exact 212.5 and 212.5/3 (one final rounding)
    assert(rows(d1) === (212.5, 212.5 / 3, 3L))
    // d2: contains a non-numeric literal -> STRICT error: SUM/AVG unbound,
    // COUNT still counts bindings
    assert(rows(d2) === (null, null, 3L))
    // SUM(DISTINCT) / AVG(DISTINCT) on d1 (all distinct: unchanged) and
    // global (no GROUP BY) over d1-only pattern
    val g = Sparql.run(e, nodes,
      """SELECT (SUM(DISTINCT ?p) AS ?t) (AVG(DISTINCT ?p) AS ?m)
        |WHERE { <urn:doc:2> <urn:price> ?p . FILTER (?p > 5) }""".stripMargin)
      .collect()(0)
    // doc2's numeric values {10, 10} -> distinct {10}
    assert(g.getDouble(0) === 10.0 && g.getDouble(1) === 10.0)
    // the empty global group: Sum({}) = 0, Avg({}) = 0 per SPARQL 18.5.1
    val z = Sparql.run(e, nodes,
      "SELECT (SUM(?p) AS ?t) (AVG(?p) AS ?m) WHERE { ?d <urn:nope> ?p }")
      .collect()(0)
    assert(z.getDouble(0) === 0.0 && z.getDouble(1) === 0.0)
    // without the nodes table SUM must fail loudly
    val ex = intercept[IllegalArgumentException](Sparql.run(e,
      "SELECT (SUM(?p) AS ?t) WHERE { ?d <urn:price> ?p }"))
    assert(ex.getMessage.contains("nodes"))
  }

  test("DESCRIBE returns the forward description as edges-convention rows") {
    def render(df: DataFrame): Set[(String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val all = corpus.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // variable form: all outgoing edges of the en docs (d1, d3)
    val viaVar = Sparql.run(corpus,
      """DESCRIBE ?d WHERE { ?d <urn:lang> "en" }""")
    assert(viaVar.columns.toSeq === Seq("subj_id", "pred", "obj_id"))
    assert(render(viaVar) === all.filter(t => t._1 == d1 || t._1 == d3).toSet)
    // constant-only form needs no WHERE
    val viaConst = Sparql.run(corpus, "DESCRIBE <urn:doc:2>")
    assert(render(viaConst) === all.filter(_._1 == d2).toSet)
    // mixed form unions and dedups
    val mixed = Sparql.run(corpus,
      """DESCRIBE ?d <urn:doc:2> <urn:doc:1> WHERE { ?d <urn:lang> "en" }""")
    assert(render(mixed) === all.toSet)
    // a DESCRIBE variable must be bound by the group
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "DESCRIBE ?x WHERE { ?d <urn:lang> ?l }"))
    assert(ex.getMessage.contains("not bound"))
    val ex2 = intercept[IllegalArgumentException](Sparql.parse("DESCRIBE ?x"))
    assert(ex2.getMessage.contains("WHERE group"))
  }

  test("HAVING over SUM/AVG reads the numeric value space") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p10 = Bgp.litId("10", XSD + "long")
    val p2_5 = Bgp.litId("2.5", XSD + "double")
    val p200 = Bgp.litId("200", XSD + "long")
    val e = edges((d1, "urn:price", p10), (d1, "urn:price", p2_5),
      (d2, "urn:price", p200))
    val nodes = Seq(
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (p2_5, RdfTerm.LITERAL, "2.5", null, XSD + "double"),
      (p200, RdfTerm.LITERAL, "200", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    def rows(q: String): Seq[(String, Long)] =
      Sparql.run(e, nodes, q).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // SUM in HAVING only (not projected): d1 sums 12.5, d2 sums 200
    assert(rows("""SELECT ?d (COUNT(?p) AS ?n) WHERE { ?d <urn:price> ?p }
                  |GROUP BY ?d HAVING(SUM(?p) > 100)""".stripMargin)
      === Seq((d2, 1L)))
    // AVG with a decimal threshold; d1 avg = 6.25
    assert(rows("""SELECT ?d (COUNT(?p) AS ?n) WHERE { ?d <urn:price> ?p }
                  |GROUP BY ?d HAVING(AVG(?p) <= 6.25)""".stripMargin)
      === Seq((d1, 2L)))
    // negative threshold parses
    assert(rows("""SELECT ?d (COUNT(?p) AS ?n) WHERE { ?d <urn:price> ?p }
                  |GROUP BY ?d HAVING(SUM(?p) > -1)""".stripMargin)
      === Seq((d1, 2L), (d2, 1L)).sorted)
    // MIN in HAVING is rejected; HAVING SUM without nodes fails loudly
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:price> ?p } GROUP BY ?d HAVING(MIN(?p) > 3)"))
    assert(ex.getMessage.contains("COUNT/SUM/AVG"))
    val ex2 = intercept[IllegalArgumentException](Sparql.run(e,
      """SELECT ?d (COUNT(?p) AS ?n) WHERE { ?d <urn:price> ?p }
        |GROUP BY ?d HAVING(SUM(?p) > 1)""".stripMargin))
    assert(ex2.getMessage.contains("nodes"))
  }

  test("BIND arithmetic: precedence, unary minus, chaining and FILTER reads") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p10 = Bgp.litId("10", XSD + "long")
    val p200 = Bgp.litId("200", XSD + "long")
    val p2_5 = Bgp.litId("2.5", XSD + "double")
    val e = edges((d1, "urn:price", p10), (d2, "urn:price", p200),
      (d3, "urn:price", p2_5))
    val nodes = Seq(
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (p200, RdfTerm.LITERAL, "200", null, XSD + "long"),
      (p2_5, RdfTerm.LITERAL, "2.5", null, XSD + "double"))
      .toDF("id", "kind", "value", "lang", "dt")
    val out = Sparql.run(e, nodes,
      """SELECT ?d ?t WHERE {
        |  ?d <urn:price> ?p .
        |  BIND(?p + ?p * 2 AS ?t)
        |  BIND(-?t / 3 AS ?neg)
        |  FILTER(?neg < -5 && ?t > 20)
        |}""".stripMargin)
    // t = p + 2p = 3p; neg = -p; survivors: p=10 (t=30, neg=-10) and
    // p=200; p=2.5 fails neg<-5? neg=-2.5 -> dropped
    val got = out.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got === Map(d1 -> 30.0, d2 -> 600.0))
    // arithmetic on the right side of a comparison, paren precedence
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER(?p > (1 + 1) * 4.9) }")
      .collect().map(_.getString(0)).toSet === Set(d1, d2))
    // division by zero is NULL -> excluded (error-means-exclude;
    // deliberately not IEEE INF — deterministic cross-engine), and a
    // bind built on it is unbound
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER(?p / 0 > 1000000) }")
      .count() === 0)
    assert(Sparql.run(e, nodes,
      """SELECT ?d WHERE { ?d <urn:price> ?p
        |  BIND(?p / 0 AS ?inf) FILTER(!BOUND(?inf)) }""".stripMargin)
      .count() === 3)
  }

  test("BIND string expressions, STRLEN, REGEX and copy binds") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    val chatEn = Bgp.litId("Chat Room", lang = Some("en"))
    val chatFr = Bgp.litId("chat", lang = Some("fr"))
    val e = edges((d1, "urn:cap", chatEn), (d2, "urn:cap", chatFr))
    val nodes = Seq(
      (chatEn, RdfTerm.LITERAL, "Chat Room", "en", RLS),
      (chatFr, RdfTerm.LITERAL, "chat", "fr", RLS),
      (web, RdfTerm.LITERAL, "web", null, XSD + "string"))
      .toDF("id", "kind", "value", "lang", "dt")
    val out = Sparql.run(e, nodes,
      """SELECT ?d ?tag WHERE {
        |  ?d <urn:cap> ?c .
        |  BIND(CONCAT(UCASE(LANG(?c)), "-", LCASE(?c)) AS ?tag)
        |  FILTER(STRLEN(?tag) > 7 && STRSTARTS(?tag, "EN"))
        |}""".stripMargin)
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq((d1, "EN-chat room")))
    // REGEX: partial match, case-insensitive flag, over a bind column
    def ids(q: String): Set[String] =
      Sparql.run(e, nodes, q).collect().map(_.getString(0)).toSet
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER(REGEX(?c, \"^cha\")) }")
      === Set(d2))
    assert(ids("SELECT ?d WHERE { ?d <urn:cap> ?c FILTER(REGEX(?c, \"^CHA\", \"i\")) }")
      === Set(d1, d2))
    assert(ids(
      """SELECT ?d WHERE { ?d <urn:cap> ?c
        |  BIND(UCASE(?c) AS ?u) FILTER(REGEX(?u, "ROOM$")) }""".stripMargin)
      === Set(d1))
    // copy bind: id-space, comparable to constants, projectable
    val copied = Sparql.run(e,
      """SELECT ?alias WHERE { ?d <urn:cap> ?c
        |  BIND(?d AS ?alias) FILTER(?alias = <urn:doc:1>) }""".stripMargin)
    assert(copied.collect().map(_.getString(0)).toSeq === Seq(d1))
    // a bind over an unmatched OPTIONAL variable is unbound (NULL
    // propagates through CONCAT), and BOUND sees it
    val opt = Sparql.run(
      edges((d1, "urn:cap", chatEn), (d1, "urn:src", web), (d2, "urn:cap", chatFr)),
      nodes,
      """SELECT ?d ?k WHERE {
        |  ?d <urn:cap> ?c .
        |  OPTIONAL { ?d <urn:src> ?s }
        |  BIND(CONCAT("k-", STR(?s)) AS ?k)
        |  FILTER(!BOUND(?k))
        |}""".stripMargin)
    assert(opt.collect().map(r => (r.getString(0), r.isNullAt(1))).toSeq
      === Seq((d2, true)))
  }

  test("ABS / CEIL / FLOOR / ROUND numeric builtins") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p10 = Bgp.litId("10", XSD + "long")
    val p200 = Bgp.litId("200", XSD + "long")
    val p2_5 = Bgp.litId("2.5", XSD + "double")
    val e = edges((d1, "urn:price", p10), (d2, "urn:price", p200),
      (d3, "urn:price", p2_5))
    val nodes = Seq(
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (p200, RdfTerm.LITERAL, "200", null, XSD + "long"),
      (p2_5, RdfTerm.LITERAL, "2.5", null, XSD + "double"))
      .toDF("id", "kind", "value", "lang", "dt")
    val out = Sparql.run(e, nodes,
      """SELECT ?d ?f ?c ?r ?a WHERE {
        |  ?d <urn:price> ?p .
        |  BIND(FLOOR(?p / 3) AS ?f)
        |  BIND(CEIL(?p / 3) AS ?c)
        |  BIND(ROUND(-?p) AS ?r)
        |  BIND(ABS(0 - ?p) AS ?a)
        |}""".stripMargin)
    val got = out.collect().map(r => r.getString(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(d1) === ((3.0, 4.0, -10.0, 10.0)))
    assert(got(d2) === ((66.0, 67.0, -200.0, 200.0)))
    // ROUND(-2.5) = -2: round-half-toward-+INF, where an engine
    // HALF_UP round() would give -3
    assert(got(d3) === ((0.0, 1.0, -2.0, 2.5)))
    // builtins open numeric comparisons in FILTER directly
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:price> ?p FILTER(FLOOR(?p) = 2) }")
      .collect().map(_.getString(0)).toSeq === Seq(d3))
  }

  test("SUBSTR / STRBEFORE / STRAFTER / REPLACE string builtins") {
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    val chatEn = Bgp.litId("Chat Room", lang = Some("en"))
    val chatFr = Bgp.litId("chat", lang = Some("fr"))
    val e = edges((d1, "urn:cap", chatEn), (d2, "urn:cap", chatFr))
    val nodes = Seq(
      (chatEn, RdfTerm.LITERAL, "Chat Room", "en", RLS),
      (chatFr, RdfTerm.LITERAL, "chat", "fr", RLS))
      .toDF("id", "kind", "value", "lang", "dt")
    val out = Sparql.run(e, nodes,
      """SELECT ?d ?p ?b ?a ?r WHERE {
        |  ?d <urn:cap> ?c .
        |  BIND(SUBSTR(?c, 1, 4) AS ?p)
        |  BIND(STRBEFORE(STR(?c), " ") AS ?b)
        |  BIND(STRAFTER(?c, "t") AS ?a)
        |  BIND(REPLACE(?c, "a", "o") AS ?r)
        |}""".stripMargin)
    val got = out.collect().map(r => r.getString(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(got(d1) === (("Chat", "Chat", " Room", "Chot Room")))
    // no space in "chat" -> STRBEFORE '' ; after the final 't' -> ''
    assert(got(d2) === (("chat", "", "", "chot")))
    // spec edge: empty needle — STRAFTER(x, "") = x, STRBEFORE(x, "") = ""
    val edge = Sparql.run(e, nodes,
      """SELECT ?d ?x ?y WHERE { ?d <urn:cap> ?c
        |  BIND(STRAFTER(?c, "") AS ?x) BIND(STRBEFORE(?c, "") AS ?y) }""".stripMargin)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(edge(d2) === (("chat", "")))
    // case-insensitive REPLACE; SUBSTR without length runs to the end
    val ci = Sparql.run(e, nodes,
      """SELECT ?d ?x ?t WHERE { ?d <urn:cap> ?c
        |  BIND(REPLACE(?c, "^CH", "X", "i") AS ?x)
        |  BIND(SUBSTR(?c, 6) AS ?t) }""".stripMargin)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(ci(d1) === (("Xat Room", "Room")))
    assert(ci(d2) === (("Xat", "")))
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:cap> ?c BIND(REPLACE(?c, \"a\", \"o\", \"g\") AS ?x) }"))
    assert(ex.getMessage.contains("unsupported REPLACE flags"))
  }

  test("COALESCE binds the first bound pattern variable (id space)") {
    val out = Sparql.run(corpus,
      """SELECT ?d ?v WHERE {
        |  ?d <urn:lang> ?l .
        |  OPTIONAL { ?d <urn:src> ?s }
        |  BIND(COALESCE(?s, ?l) AS ?v)
        |  FILTER(?v = "web" || ?v = "en")
        |}""".stripMargin)
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // d1 takes its src (web); d3 has no src and falls back to its lang
    // (en); d2's fallback fr matches neither constant
    assert(got === Seq((d1, web), (d3, en)).sorted)
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"'${ex.getMessage}' !~ '$needle'")
    }
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(COALESCE(?o) AS ?v) }",
      "at least two")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(?o + 1 AS ?n) BIND(COALESCE(?n, ?o) AS ?v) }",
      "PATTERN variables")
  }

  test("BIND as a GROUP BY key and aggregate input") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val RLS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    val a = Bgp.litId("ab", lang = Some("en"))
    val b = Bgp.litId("cd", lang = Some("EN"))
    val f = Bgp.litId("ef", lang = Some("fr"))
    val e = edges((d1, "urn:cap", a), (d2, "urn:cap", b), (d3, "urn:cap", f))
    val nodes = Seq(
      (a, RdfTerm.LITERAL, "ab", "en", RLS),
      (b, RdfTerm.LITERAL, "cd", "EN", RLS),
      (f, RdfTerm.LITERAL, "ef", "fr", RLS))
      .toDF("id", "kind", "value", "lang", "dt")
    val out = Sparql.run(e, nodes,
      """SELECT ?u (COUNT(*) AS ?n) (MAX(?d) AS ?mx) WHERE {
        |  ?d <urn:cap> ?c . BIND(UCASE(LANG(?c)) AS ?u)
        |} GROUP BY ?u""".stripMargin)
    val got = out.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("EN" -> 2L, "FR" -> 1L))
  }

  test("BIND misuse fails loudly at parse") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"'${ex.getMessage}' !~ '$needle'")
    }
    bad("SELECT ?x WHERE { ?d <urn:p> ?x BIND(1 + 1 AS ?x) }",
      "already bound")
    bad("SELECT ?x WHERE { ?d <urn:p> ?o BIND(1 AS ?x) BIND(2 AS ?x) }",
      "duplicate BIND")
    bad("SELECT ?x WHERE { ?d <urn:p> ?o BIND(?later + 1 AS ?x) BIND(2 AS ?later) }",
      "bound neither")
    bad("SELECT ?s WHERE { ?d <urn:p> ?o BIND(?o AS ?c) BIND(?c AS ?s) }",
      "copies a PATTERN binding")
    bad("SELECT (SUM(?t) AS ?s) WHERE { ?d <urn:p> ?o BIND(?o + 1 AS ?t) }",
      "aggregate the base variable")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(?o + 1 AS ?t) FILTER(LANG(?t) = \"en\") }",
      "not an RDF term")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(UCASE(?o) AS ?u) FILTER(?u = \"X\") }",
      "value space")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(UCASE(?o) AS ?u) FILTER(?u > 3) }",
      "not a numeric BIND value")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(?o + 1 AS ?t) FILTER(CONTAINS(?t, \"x\")) }",
      "not a string BIND value")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(?o + 1 AS ?t) FILTER EXISTS { ?d <urn:q> ?t } }",
      "probes join on node-id columns")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o FILTER(REGEX(?o, \"x\", \"g\")) }",
      "unsupported REGEX flags")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o FILTER(STR(?o) + 1 > 2) }",
      "arithmetic takes")
    bad("SELECT ?d WHERE { ?d <urn:p> ?o BIND(CONCAT(?o) AS ?x) }",
      "at least two")
  }

  test("subqueries: aggregate-then-join, value aliases, composition") {
    // en appears twice, fr once
    val q = Sparql.run(corpus,
      """SELECT ?d ?l ?n WHERE {
        |  ?d <urn:lang> ?l .
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE { ?x <urn:lang> ?l } GROUP BY ?l }
        |  FILTER(?n >= 2)
        |}""".stripMargin)
    val got = q.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got === Seq((d1, en, 2L), (d3, en, 2L)).sorted)
    // subquery-only group (no outer triples): the subquery IS the group
    val only = Sparql.run(corpus,
      """SELECT ?l ?n WHERE {
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE { ?x <urn:lang> ?l } GROUP BY ?l }
        |  FILTER(?n = 1)
        |}""".stripMargin)
    assert(only.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq((fr, 1L)))
    // a BIND reading the subquery's count alias, and ORDER BY over it
    val bound = Sparql.run(corpus,
      """SELECT ?l ?x WHERE {
        |  ?d <urn:lang> ?l .
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE { ?x <urn:lang> ?l } GROUP BY ?l }
        |  BIND(?n * 10 AS ?x)
        |} ORDER BY DESC(?x) LIMIT 1""".stripMargin)
    assert(bound.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      === Seq((en, 20.0)))
    // MIN alias is an id pick — id-space comparable
    val minPick = Sparql.run(corpus,
      """SELECT ?d ?mx WHERE {
        |  ?d <urn:lang> ?l .
        |  { SELECT ?d (MIN(?s) AS ?mx) WHERE { ?d <urn:src> ?s } GROUP BY ?d }
        |  FILTER(?mx = "web")
        |}""".stripMargin)
    assert(minPick.collect().map(_.getString(0)).toSeq === Seq(d1))
    // nested: a subquery inside a subquery
    val nested = Sparql.run(corpus,
      """SELECT ?l ?n WHERE {
        |  ?d <urn:lang> ?l .
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE {
        |      ?x <urn:lang> ?l .
        |      { SELECT ?x WHERE { ?x <urn:src> ?s } }
        |    } GROUP BY ?l }
        |}""".stripMargin)
    // docs with BOTH lang and src: d1 (en), d2 (fr) -> counts 1 and 1;
    // the outer join is a BAG — en appears once per en-doc (d1, d3)
    assert(nested.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      === Seq((en, 1L), (en, 1L), (fr, 1L)).sorted)
  }

  test("subquery misuse fails loudly at parse") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"'${ex.getMessage}' !~ '$needle'")
    }
    bad("SELECT ?d WHERE { ?d <urn:lang> ?l { SELECT * WHERE { ?x <urn:src> ?s } } }",
      "project explicitly")
    bad("SELECT ?d WHERE { ?d <urn:lang> ?l { SELECT ?a WHERE { ?a <urn:other> ?b } } }",
      "shares no plain variable")
    bad("SELECT ?d WHERE { ?d <urn:lang> ?l { SELECT ?l ?s WHERE { ?x <urn:lang> ?l OPTIONAL { ?x <urn:src> ?s } } } }",
      "must be bound by the subquery's required pattern")
    bad("SELECT ?d WHERE { ?d <urn:lang> ?l { SELECT ?x (COUNT(*) AS ?l) WHERE { ?x <urn:lang> ?y } GROUP BY ?x } }",
      "rename the alias")
    bad("""SELECT ?d WHERE { ?d <urn:lang> ?l
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE { ?x <urn:lang> ?l } GROUP BY ?l }
        |  FILTER EXISTS { ?d <urn:q> ?n } }""".stripMargin,
      "computed variable")
    bad("""SELECT (SUM(?n) AS ?t) WHERE { ?d <urn:lang> ?l
        |  { SELECT ?l (COUNT(*) AS ?n) WHERE { ?x <urn:lang> ?l } GROUP BY ?l } }""".stripMargin,
      "aggregate the base variable")
  }

  test("PREFIX declarations expand prefixed names to the full-IRI twin") {
    val parsed = Sparql.run(corpus,
      """PREFIX u: <urn:>
        |PREFIX : <urn:>
        |SELECT ?d ?s WHERE { ?d u:lang "en" . ?d :src ?s }""".stripMargin)
    val prog = Sparql.run(corpus,
      """SELECT ?d ?s WHERE { ?d <urn:lang> "en" . ?d <urn:src> ?s }""")
    assertSame(parsed, prog)
    // expansion reaches every position: path operators included
    val up = edges((d1, "urn:up", d2), (d2, "urn:up", d3))
    val path = Sparql.run(up,
      """PREFIX u: <urn:>
        |SELECT ?x ?y WHERE { ?x u:up+ ?y }""".stripMargin)
    assert(path.count() === 3) // d1->d2, d2->d3, d1->d3
    // later declaration wins, as in SPARQL
    val re = Sparql.run(corpus,
      """PREFIX u: <urn:WRONG>
        |PREFIX u: <urn:>
        |SELECT ?d WHERE { ?d u:lang "en" }""".stripMargin)
    assert(re.count() === 2)
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"'${ex.getMessage}' !~ '$needle'")
    }
    bad("SELECT ?d WHERE { ?d u:lang \"en\" }", "undeclared prefix")
    bad("SELECT ?d WHERE { ?d <urn:lang> ?l } PREFIX u: <urn:>",
      "must precede the query")
    bad("PREFIX u <urn:> SELECT ?d WHERE { ?d <urn:lang> ?l }",
      "declare a prefix")
    // digits are legal in prefix labels after the first character
    val dig = Sparql.run(corpus,
      """PREFIX p1: <urn:>
        |SELECT ?d WHERE { ?d p1:lang "en" }""".stripMargin)
    assert(dig.count() === 2)
  }

  test("FILTER inside OPTIONAL conditions the match, not the row") {
    val out = Sparql.run(corpus,
      """SELECT ?d ?s WHERE {
        |  ?d <urn:lang> ?l .
        |  OPTIONAL { ?d <urn:src> ?s FILTER(?s != "web") }
        |}""".stripMargin)
    // d1's src=web FAILS the condition -> the row survives with ?s
    // unbound (an outer FILTER would have dropped it); d2 keeps book;
    // d3 never had a src
    val got = out.collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(t => (t._1, String.valueOf(t._2))).toSeq
    assert(got === Seq((d1, null), (d2, book), (d3, null))
      .sortBy(t => (t._1, String.valueOf(t._2))))
    // parsed form equals the programmatic twin
    val prog = Sparql.evaluate(corpus, LeftJoin(
      BGP(Seq(TriplePattern(V("d"), C("urn:lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("urn:src"), V("s")))),
      Seq(Sparql.Call("!=", Seq(Sparql.Var("s"), Sparql.Lit("web"))))))
      .select("d", "s")
    assertSame(out, prog)
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"'${ex.getMessage}' !~ '$needle'")
    }
    // an outer variable in the group filter changes semantics — rejected
    bad("""SELECT ?d WHERE { ?d <urn:lang> ?l
          |  OPTIONAL { ?d <urn:src> ?s FILTER(?l = "en") } }""".stripMargin,
      "group's own variables")
    // value-space conditions are out of the optional fragment
    bad("""SELECT ?d WHERE { ?d <urn:lang> ?l
          |  OPTIONAL { ?d <urn:src> ?s FILTER(?s > 3) } }""".stripMargin,
      "id-space only")
  }

  test("resolveTerms joins n3 lexical forms back onto result ids") {
    val nodes = Seq(
      (d1, RdfTerm.IRI, "urn:doc:1", null, null),
      (en, RdfTerm.LITERAL, "en", null, RdfTerm.XsdString),
      (web, RdfTerm.LITERAL, "web", null, RdfTerm.XsdString))
      .toDF("id", "kind", "value", "lang", "dt")
    val res = Sparql.run(corpus,
      """SELECT ?d ?s WHERE { ?d <urn:lang> "en" . OPTIONAL { ?d <urn:src> ?s } }""")
    val labeled = Sparql.resolveTerms(res, nodes, Seq("d", "s"))
    val got = labeled.collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(t => (t._1, String.valueOf(t._2))).toSeq
    // d1 resolves via the nodes table; d3 has no nodes row -> id passes
    // through; d3's unmatched OPTIONAL stays NULL
    assert(got === Seq(
      ("<urn:doc:1>", "\"web\"^^<" + RdfTerm.XsdString + ">"),
      (d3, null)).sortBy(t => (t._1, String.valueOf(t._2))))
    val ex = intercept[IllegalArgumentException](
      Sparql.resolveTerms(res, nodes, Seq("nope")))
    assert(ex.getMessage.contains("not in the result"))
  }

  test("review-pass regressions: ambiguous parens, outer-OPTIONAL join keys, decimal overflow") {
    // `?x = (?y)` must not silently switch an id-space equality into the
    // numeric value space — rejected with guidance
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?a WHERE { ?a <urn:lang> ?x . ?a <urn:src> ?y FILTER(?x = (?y)) }"))
    assert(ex.getMessage.contains("ambiguous"))
    // ordering operators keep the parenthesized numeric right side
    assert(Sparql.parse(
      "SELECT ?a WHERE { ?a <urn:p> ?x FILTER(?x > (1 + 2) * 3) }") != null)
    // a subquery variable bound only by an outer OPTIONAL would join on
    // a NULL-able key — rejected, not silently wrong
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?d WHERE {
        |  ?d <urn:p> ?x . OPTIONAL { ?d <urn:q> ?l }
        |  { SELECT ?d ?l WHERE { ?d <urn:r> ?z . ?z <urn:s> ?l } }
        |}""".stripMargin))
    assert(ex2.getMessage.contains("outer OPTIONAL"))
    // a long too wide for decimal(28,10) is an ERROR value (unbound
    // aggregate), never an ANSI cast crash
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val big = Bgp.litId("9223372036854775807", XSD + "long")
    val p10 = Bgp.litId("10", XSD + "long")
    val e = edges((d1, "urn:price", big), (d1, "urn:price", p10))
    val nodes = Seq(
      (big, RdfTerm.LITERAL, "9223372036854775807", null, XSD + "long"),
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    val r = Sparql.run(e, nodes,
      """SELECT ?d (SUM(?p) AS ?t) WHERE { ?d <urn:price> ?p }
        |GROUP BY ?d""".stripMargin).collect()
    assert(r.length === 1 && r(0).isNullAt(1))
  }

  test("predicate-position variables: raw-IRI FILTER compiles, STR reads direct") {
    // ?p binds RAW predicate IRIs — an IRI constant must compare raw
    // (hashing it would make the inequality vacuously true)
    val r1 = Sparql.run(corpus,
      "SELECT ?d ?p WHERE { ?d ?p ?o FILTER(?p != <urn:lang>) }")
    assert(r1.columns.toSeq === Seq("d", "p"))
    val got = r1.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set((d1, "urn:src"), (d2, "urn:src")))
    // equality keeps only the named predicate
    assert(Sparql.run(corpus,
      "SELECT ?d WHERE { ?d ?p ?o FILTER(?p = <urn:src>) }").count() === 2)
    // pred-pred comparison is consistent (both raw)
    assert(Sparql.run(corpus,
      "SELECT ?d WHERE { ?d ?p ?o . ?d ?q ?o2 FILTER(?p != ?q) }")
      .count() === 4) // d1/d2 each: (lang,src) and (src,lang)
    // STR(?p) reads the raw IRI column directly — no nodes join, works
    // on the edges-only overload
    assert(Sparql.run(corpus,
      """SELECT ?d WHERE { ?d ?p ?o FILTER(STRENDS(STR(?p), "src")) }""")
      .count() === 2)
    // GROUP BY / COUNT over a predicate variable: raw-IRI keys
    val byPred = Sparql.run(corpus,
      "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byPred === Map("urn:lang" -> 3L, "urn:src" -> 2L))
  }

  test("predicate-position variables: cross-space uses are rejected") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    // literal comparison: predicates are IRIs
    bad("""SELECT ?d WHERE { ?d ?p ?o FILTER(?p != "en") }""", "literal")
    // cross-space variable comparison
    bad("SELECT ?d WHERE { ?d ?p ?o FILTER(?p = ?o) }", "across value spaces")
    // both-position binding: raw IRI joined against hashed ids
    bad("SELECT ?d WHERE { ?d ?x ?o . ?x <urn:lang> ?l }",
      "predicate/GRAPH position")
    // VALUES rows hash to node ids — they can never match raw pred IRIs
    bad("SELECT ?d WHERE { ?d ?p ?o VALUES ?p { <urn:lang> } }",
      "VALUES over predicate-position")
    // value-space reads: numeric, bare string, term tests, SUM
    bad("SELECT ?d WHERE { ?d ?p ?o FILTER(?p > 3) }", "numerically")
    bad("""SELECT ?d WHERE { ?d ?p ?o FILTER(CONTAINS(?p, "x")) }""",
      "STR(?p)")
    bad("SELECT ?d WHERE { ?d ?p ?o FILTER(ISIRI(?p)) }", "vacuously")
    bad("SELECT ?d (SUM(?p) AS ?t) WHERE { ?d ?p ?o } GROUP BY ?d",
      "binds predicate IRIs")
    // DESCRIBE and CONSTRUCT node slots live in the hashed-id space
    bad("DESCRIBE ?p WHERE { ?d ?p ?o }", "predicate/GRAPH position")
    bad("CONSTRUCT { ?p <urn:x> ?d } WHERE { ?d ?p ?o }",
      "predicate/GRAPH position")
    // a BIND copy of a pred var inherits the space
    bad("""SELECT ?d WHERE { ?d ?p ?o BIND(?p AS ?q) FILTER(?q = "en") }""",
      "literal")
  }

  test("FILTER over an unbound (typo'd) variable is a parse error") {
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?d WHERE { ?d <urn:src> ?source FILTER(?sorce != "x") }"""))
    assert(ex.getMessage.contains("?sorce"))
    assert(ex.getMessage.contains("bound neither"))
    // BOUND too
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:src> ?s FILTER(BOUND(?t)) }"))
    assert(ex2.getMessage.contains("?t"))
  }

  test("EXISTS/NOT EXISTS/MINUS shared variables must be never-NULL") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    // EXISTS sharing an OPTIONAL-only variable: a NULL key fails the
    // semi-join where SPARQL substitution leaves the variable free
    bad("""SELECT ?d WHERE {
          |  ?d <urn:lang> ?l . OPTIONAL { ?d <urn:src> ?s }
          |  FILTER EXISTS { ?x <urn:src> ?s }
          |}""".stripMargin, "may be unbound")
    bad("""SELECT ?d WHERE {
          |  ?d <urn:lang> ?l . OPTIONAL { ?d <urn:src> ?s }
          |  FILTER NOT EXISTS { ?x <urn:src> ?s }
          |}""".stripMargin, "may be unbound")
    // multi-shared-variable MINUS with one nullable key would keep rows
    // SPARQL removes
    bad("""SELECT ?d WHERE {
          |  ?d <urn:lang> ?l . OPTIONAL { ?d <urn:src> ?s }
          |  MINUS { ?d <urn:src> ?s }
          |}""".stripMargin, "may be unbound")
    // single-shared-variable MINUS on an OPTIONAL binding is exactly
    // SPARQL's disjoint-domain rule — stays accepted, NULL rows survive
    val r = Sparql.run(corpus,
      """SELECT ?d ?s WHERE {
        |  ?d <urn:lang> "en" . OPTIONAL { ?d <urn:src> ?s }
        |  MINUS { ?s <urn:nope> ?z }
        |}""".stripMargin)
    assert(r.count() === 2)
  }

  test("MIN/MAX follow SPARQL value ordering with the nodes overload") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p2 = Bgp.litId("2", XSD + "long")
    val p9 = Bgp.litId("9", XSD + "long")
    val p10 = Bgp.litId("10", XSD + "long")
    val iri = Bgp.iriId("urn:not-a-number")
    val e = edges(
      (d1, "urn:price", p9), (d1, "urn:price", p10), (d1, "urn:price", p2),
      (d2, "urn:price", p10), (d2, "urn:price", iri))
    val nodes = Seq(
      (p2, RdfTerm.LITERAL, "2", null, XSD + "long"),
      (p9, RdfTerm.LITERAL, "9", null, XSD + "long"),
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"),
      (iri, RdfTerm.IRI, "urn:not-a-number", null, null))
      .toDF("id", "kind", "value", "lang", "dt")
    val q = """SELECT ?d (MIN(?p) AS ?lo) (MAX(?p) AS ?hi)
              |WHERE { ?d <urn:price> ?p } GROUP BY ?d""".stripMargin
    val byId = Sparql.run(e, q).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // edges-only: the documented id pick (lexical over sha256 ids)
    assert(byId(d1) === (Seq(p2, p9, p10).min, Seq(p2, p9, p10).max))
    val byVal = Sparql.run(e, nodes, q).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // value ordering: numerically smallest/largest term id — a lexical
    // pick would order "10" < "2" < "9"
    assert(byVal(d1) === ((p2, p10)))
    // mixed group: non-numeric terms sort BEFORE numeric literals (W3C
    // ordering ranks IRIs before literals): MIN = the IRI, MAX = 10
    assert(byVal(d2) === ((iri, p10)))
  }

  test("ORDER BY a numeric variable sorts by value with the nodes overload") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p2 = Bgp.litId("2", XSD + "long")
    val p9 = Bgp.litId("9", XSD + "long")
    val p10 = Bgp.litId("10", XSD + "long")
    val e = edges(
      (d1, "urn:price", p9), (d2, "urn:price", p10), (d3, "urn:price", p2))
    val nodes = Seq(
      (p2, RdfTerm.LITERAL, "2", null, XSD + "long"),
      (p9, RdfTerm.LITERAL, "9", null, XSD + "long"),
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    val q = "SELECT ?d ?p WHERE { ?d <urn:price> ?p } ORDER BY ?p LIMIT 2"
    // value order: 2 < 9 < 10 — LIMIT 2 keeps {2, 9}; the lexical/id
    // order would keep a different set unless the hashes align, so pin
    // the VALUES, not the order
    val got = Sparql.run(e, nodes, q).collect().map(_.getString(1)).toSeq
    assert(got === Seq(p2, p9))
    val desc = Sparql.run(e, nodes,
      "SELECT ?d ?p WHERE { ?d <urn:price> ?p } ORDER BY DESC(?p) LIMIT 2")
      .collect().map(_.getString(1)).toSeq
    assert(desc === Seq(p10, p9))
    // term columns are dropped again after the sort
    assert(Sparql.run(e, nodes, q).columns.toSeq === Seq("d", "p"))
  }

  test("UNION as a group member joins the required pattern") {
    val parsed = Sparql.run(corpus,
      """SELECT * WHERE {
        |  ?d <urn:lang> "en" .
        |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?l }
        |}""".stripMargin)
    val prog = Bgp.matchPatterns(corpus, Seq(
      TriplePattern(V("d"), C("urn:lang"), C(en))))
      .join(Sparql.evaluate(corpus, Union(Seq(
        BGP(Seq(TriplePattern(V("d"), C("urn:src"), V("s")))),
        BGP(Seq(TriplePattern(V("d"), C("urn:lang"), V("l"))))))), Seq("d"), "inner")
    assertSame(parsed, prog)
    // d1 (en, has src): one branch-1 row + one branch-2 row; d3 (en, no
    // src): branch-2 only
    assert(parsed.count() === 3)
    // FILTER over a union-bound variable sees the whole group (NULLs
    // for the other branch's rows drop under the comparison)
    assert(Sparql.run(corpus,
      """SELECT * WHERE {
        |  ?d <urn:lang> "en" .
        |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?l }
        |  FILTER(?s = "web")
        |}""".stripMargin).count() === 1)
  }

  test("mixed-UNION hazards are rejected at parse") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    // join variable bound in only one branch
    bad("""SELECT * WHERE { ?d <urn:lang> ?l .
          |  { ?d <urn:src> ?s } UNION { ?x <urn:src> ?s } }""".stripMargin,
      "only some branches")
    // no shared variable at all
    bad("""SELECT * WHERE { ?d <urn:lang> ?l .
          |  { ?x <urn:src> ?s } UNION { ?x <urn:lang> ?s } }""".stripMargin,
      "shares no variable")
    // overlap with an OPTIONAL-fresh variable
    bad("""SELECT * WHERE { ?d <urn:lang> ?l . OPTIONAL { ?d <urn:src> ?s }
          |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?s } }""".stripMargin,
      "OPTIONAL group and a UNION group")
    // two unions sharing a non-required variable
    bad("""SELECT * WHERE { ?d <urn:lang> ?l .
          |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?s }
          |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?s } }""".stripMargin,
      "UNION groups")
    // several unions with no required pattern to anchor the join
    bad("""SELECT * WHERE {
          |  { ?d <urn:src> ?s } UNION { ?d <urn:lang> ?s }
          |  { ?d <urn:src> ?t } UNION { ?d <urn:lang> ?t } }""".stripMargin,
      "anchor their join")
  }

  test("nested property paths: (p1/p2)+, (a|b)+, (^p)?, group twins") {
    import Bgp.{PInverse, PSequence}
    // chain 1 -up-> 2 -up-> 3 -up-> 4 -up-> 5, plus a 'peer' distractor
    val chain = (1 to 4).map(i => (i.toString, "up", (i + 1).toString)) :+
      (("1", "peer", "5"))
    val e = chain.toDF("subj_id", "pred", "obj_id")
    val twoHopPlus = Sparql.run(e, "SELECT ?x ?y WHERE { ?x (<up>/<up>)+ ?y }")
    val prog = Bgp.matchPatterns(e, Seq(TriplePattern(V("x"),
      PathPat(PClosure(PSequence(Seq(PLeaf("up"), PLeaf("up"))), '+')), V("y"))))
    assertSame(twoHopPlus, prog)
    // even distances only: (1,3),(1,5),(2,4),(3,5)
    assert(twoHopPlus.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("1", "3"), ("1", "5"), ("2", "4"), ("3", "5")))
    // alternative closure reaches through BOTH predicates: the up-chain
    // pairs (i < j) plus nothing new from peer (1->5 already reachable)
    val altPlus = Sparql.run(e, "SELECT ?x ?y WHERE { ?x (<up>|<peer>)+ ?y }")
    val progAlt = Bgp.matchPatterns(e, Seq(TriplePattern(V("x"),
      PathPat(PClosure(PAlternative(Seq(PLeaf("up"), PLeaf("peer"))), '+')), V("y"))))
    assertSame(altPlus, progAlt)
    assert(altPlus.count() === 10)
    // (^up)? = inverse edges union the zero-length identity
    val invOpt = Sparql.run(e, "SELECT ?x ?y WHERE { ?x (^<up>)? ?y }")
    val progInv = Bgp.matchPatterns(e, Seq(TriplePattern(V("x"),
      PathPat(PClosure(PInverse(PLeaf("up")), '?')), V("y"))))
    assertSame(invOpt, progInv)
    // a parenthesized single step with an operator canonicalizes to the
    // unparenthesized form
    assertSame(Sparql.run(e, "SELECT ?x ?y WHERE { ?x (<up>)+ ?y }"),
      Sparql.run(e, "SELECT ?x ?y WHERE { ?x <up>+ ?y }"))
    // a closed group composes onward: (up/up)+/up = odd distances >= 3
    val oddFar = Sparql.run(e,
      "SELECT ?x ?y WHERE { ?x (<up>/<up>)+/<up> ?y }")
    assert(oddFar.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("1", "4"), ("2", "5")))
    // arbitrary nesting: a closure over an alternative of a sequence
    // and a leaf — ((up/up)|peer)+ reaches even distances plus the
    // peer shortcut's combinations
    val deep = Sparql.run(e,
      "SELECT ?x ?y WHERE { ?x ((<up>/<up>)|<peer>)+ ?y }")
    assert(deep.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("1", "3"), ("1", "5"), ("2", "4"), ("3", "5")))
    // inverse distributes over a group: ^(up/up) == ^up'/^up' reversed
    assertSame(Sparql.run(e, "SELECT ?x ?y WHERE { ?x ^(<up>/<up>) ?y }"),
      Sparql.run(e, "SELECT ?x ?y WHERE { ?x ^<up>/^<up> ?y }"))
    // unparenthesized operator chaining stays a parse error
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT * WHERE { ?x (<up>)*+ ?y }"))
    assert(ex.getMessage.contains("cannot combine"))
  }

  test("review-hardened rejections: pred casts, order-expr pred reads, anon labels, union-only groups") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    // casting a predicate-position variable is a type error at parse,
    // not an unresolved-column crash at run time
    bad("""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?s WHERE { ?s ?p ?o FILTER(xsd:integer(?p) > 3) }""".stripMargin,
      "casts ?p")
    bad("""PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?s ?x WHERE { ?s ?p ?o BIND(xsd:double(?p) AS ?x) }""".stripMargin,
      "casts ?p")
    // an ORDER BY expression cannot read a predicate-space variable
    bad("SELECT ?s ?p WHERE { ?s ?p ?o } ORDER BY DESC(?p + 1)",
      "binds raw predicate/graph IRIs")
    // a union-only group cannot carry subqueries (the join keys would
    // be NULL-padded branch variables) or further UNION groups
    bad("""SELECT ?d ?l WHERE {
          |  { SELECT ?l WHERE { ?x <urn:lang> ?l . ?x <urn:src> ?f } }
          |  { ?d <urn:src> ?l } UNION { ?d <urn:lang> ?l }
          |}""".stripMargin, "anchor")
    // [] never joins an explicit _:label spelled like the generated one
    val e = edges((d1, "urn:p", en), (d2, "urn:q", en))
    assert(Sparql.run(e,
      "SELECT ?l WHERE { [] <urn:p> ?l . _:a1 <urn:q> ?l }")
      .collect().map(_.getString(0)).toSeq === Seq(en))
  }

  test("blank nodes in patterns are non-distinguished variables") {
    val e = edges(
      (d1, "urn:lang", en), (d2, "urn:lang", fr),
      (d1, "urn:src", web), (d3, "urn:src", web))
    // _:x joins across the patterns sharing the label: docs having BOTH
    // a lang and a src — only d1
    assert(Sparql.run(e,
      "SELECT ?l WHERE { _:x <urn:lang> ?l . _:x <urn:src> ?s }")
      .collect().map(_.getString(0)).toSeq === Seq(en))
    // [] is a fresh anonymous node each time — a lone one works like an
    // unshared variable...
    assert(Sparql.run(e,
      "SELECT ?l WHERE { [] <urn:lang> ?l . ?d <urn:lang> ?l }")
      .count() === 2)
    // ...and two that share nothing form a disconnected BGP, which the
    // engine's cartesian ban rejects like any other (run-time require)
    val exCart = intercept[IllegalArgumentException](Sparql.run(e,
      "SELECT ?l ?s WHERE { [] <urn:lang> ?l . [] <urn:src> ?s }")
      .collect())
    assert(exCart.getMessage.contains("disconnected BGP"))
    // SELECT * excludes the blank-node columns
    val star = Sparql.run(e,
      "SELECT * WHERE { _:x <urn:lang> ?l . _:x <urn:src> ?s }")
    assert(star.columns.toSeq === Seq("l", "s"))
    // rejections: bnodes outside the required group; reserved ?_bn_
    // names; only-bnode SELECT *
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    bad("""SELECT ?l WHERE { ?d <urn:lang> ?l
          |OPTIONAL { ?d <urn:src> _:y } }""".stripMargin,
      "only supported in the required")
    bad("SELECT ?l WHERE { ?d <urn:lang> ?l . FILTER(?_bn_x = ?l) }",
      "reserved")
    bad("SELECT * WHERE { _:a <urn:lang> _:b }", "no projectable result")
    bad("SELECT ?l WHERE { [ <urn:p> ?x ] <urn:lang> ?l }",
      "property lists")
  }

  test("BASE resolves relative IRIs; STRDT/STRLANG mint literal terms") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val doc = Bgp.iriId("http://ex.org/a/doc/1")
    val hello = Bgp.litId("hello")
    val three = Bgp.litId("3")
    val helloEn = Bgp.litId("hello", lang = Some("en"))
    val e = edges(
      (doc, "http://ex.org/a/vocab#v", hello),
      (doc, "http://ex.org/a/vocab#n", three),
      (doc, "http://ex.org/a/vocab#t", helloEn))
    val nodes = Seq(
      (hello, RdfTerm.LITERAL, "hello", null, XSD + "string"),
      (three, RdfTerm.LITERAL, "3", null, XSD + "string"),
      (helloEn, RdfTerm.LITERAL, "hello", "en", RdfTerm.RdfLangString))
      .toDF("id", "kind", "value", "lang", "dt")
    // BASE applies to relative <...> IRIs in the body AND to relative
    // PREFIX IRIs; absolute IRIs are untouched
    assert(Sparql.run(e,
      """BASE <http://ex.org/a/>
        |PREFIX voc: <vocab#>
        |SELECT ?c WHERE { <doc/1> voc:v ?c }""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(hello))
    // STRLANG mints the language-tagged term: equal by id to the
    // pattern binding of the real "hello"@en literal
    assert(Sparql.run(e, nodes,
      """PREFIX voc: <http://ex.org/a/vocab#>
        |SELECT ?d WHERE { ?d voc:v ?c . ?d voc:t ?t
        |BIND(STRLANG(STR(?c), "en") AS ?m)
        |FILTER(?m = ?t) }""".stripMargin).count() === 1)
    // STRDT round-trips through the id space: the minted "33"^^xsd:string
    // equals the constant literal's id
    assert(Sparql.run(e, nodes,
      s"""PREFIX voc: <http://ex.org/a/vocab#>
         |SELECT ?d WHERE { ?d voc:n ?r
         |BIND(STRDT(CONCAT(STR(?r), STR(?r)), <${XSD}string>) AS ?rr)
         |FILTER(?rr = "33") }""".stripMargin).count() === 1)
    // without a BASE, a scheme-less <name> stays the opaque name (the
    // engine convention) — it does NOT implicitly resolve
    assert(Sparql.run(e,
      "SELECT ?c WHERE { <doc/1> <http://ex.org/a/vocab#v> ?c }")
      .count() === 0)
    // STRDT of rdf:langString is rejected (a tag is required)
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      s"""SELECT ?d WHERE { ?d <urn:p> ?c
         |BIND(STRDT(STR(?c), <${RdfTerm.RdfLangString}>) AS ?x) }""".stripMargin))
    assert(ex2.getMessage.contains("use STRLANG"))
  }

  test("GROUP BY expressions: (expr AS ?v) keys") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val vals = Seq(3L, 7L, 10L, 14L)
    val lits = vals.map(v => Bgp.litId(v.toString, XSD + "long"))
    val e = edges(vals.zip(lits).map { case (v, id) =>
      (Bgp.iriId(s"urn:doc:$v"), "urn:n", id) }: _*)
    val nodes = vals.zip(lits).map { case (v, id) =>
      (id, RdfTerm.LITERAL, v.toString, null: String, XSD + "long") }
      .toDF("id", "kind", "value", "lang", "dt")
    // bucket by FLOOR(n / 5): {3}->0, {7}->1, {10,14}->2
    val got = Sparql.run(e, nodes,
      """SELECT ?b (COUNT(*) AS ?n) WHERE { ?d <urn:n> ?v }
        |GROUP BY (FLOOR(?v / 5) AS ?b)""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(got === Map(0.0 -> 1L, 1.0 -> 1L, 2.0 -> 2L))
    // string keys group too, and mix with plain variables
    val mixed = Sparql.run(e, nodes,
      """SELECT ?d ?k (COUNT(*) AS ?n) WHERE { ?d <urn:n> ?v }
        |GROUP BY ?d (CONCAT("g", STR(?v)) AS ?k)""".stripMargin)
    assert(mixed.count() === 4)
    // the key variable must be fresh (same rule as BIND)
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?v (COUNT(*) AS ?n) WHERE { ?d <urn:n> ?v }
        |GROUP BY (FLOOR(?v / 5) AS ?v)""".stripMargin))
    assert(ex.getMessage.contains("already bound"))
  }

  test("UNDEF in VALUES: rows with free cells compile to a disjunction") {
    val e = edges(
      (d1, "urn:lang", en), (d2, "urn:lang", fr), (d3, "urn:lang", en),
      (d1, "urn:src", web))
    // (d1, anything) OR (anything, fr): d1's row plus d2's
    assert(Sparql.run(e,
      s"""SELECT ?d ?l WHERE { ?d <urn:lang> ?l .
         |VALUES (?d ?l) { (<urn:doc:1> UNDEF) (UNDEF "fr") } }""".stripMargin)
      .collect().map(_.getString(0)).toSet === Set(d1, d2))
    // a single-var UNDEF row matches everything (no filter at all)
    assert(Sparql.run(e,
      """SELECT ?d WHERE { ?d <urn:lang> ?l . VALUES ?l { UNDEF } }""")
      .count() === 3)
    // an all-UNDEF row makes the whole clause vacuous even among
    // constrained rows
    assert(Sparql.run(e,
      s"""SELECT ?d WHERE { ?d <urn:lang> ?l .
         |VALUES (?d ?l) { (<urn:doc:1> "en") (UNDEF UNDEF) } }""".stripMargin)
      .count() === 3)
  }

  test("ORDER BY expressions sort by the computed numeric key") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val p3 = Bgp.litId("3", XSD + "long")
    val p7 = Bgp.litId("7", XSD + "long")
    val p10 = Bgp.litId("10", XSD + "long")
    val e = edges((d1, "urn:n", p3), (d2, "urn:n", p10), (d3, "urn:n", p7))
    val nodes = Seq(
      (p3, RdfTerm.LITERAL, "3", null, XSD + "long"),
      (p7, RdfTerm.LITERAL, "7", null, XSD + "long"),
      (p10, RdfTerm.LITERAL, "10", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    // DESC by a computed key: 2n-1 = 19, 13, 5
    assert(Sparql.run(e, nodes,
      """SELECT ?d ?n WHERE { ?d <urn:n> ?n }
        |ORDER BY DESC(?n * 2 - 1)""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d2, d3, d1))
    // expression keys mix with plain keys and compose with LIMIT
    assert(Sparql.run(e, nodes,
      """SELECT ?d ?n WHERE { ?d <urn:n> ?n }
        |ORDER BY ASC(10 - ?n) ?d LIMIT 2""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d2, d3))
    // an aggregate alias is a plain numeric column in the key
    assert(Sparql.run(e, nodes,
      """SELECT ?d (SUM(?n) AS ?s) WHERE { ?d <urn:n> ?n }
        |GROUP BY ?d ORDER BY DESC(?s * 3)""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d2, d3, d1))
    // rejections: unprojected variable in the key; no nodes table
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d <urn:n> ?n } ORDER BY DESC(?n * 2)"))
    assert(ex.getMessage.contains("not a result column"))
    val ex2 = intercept[IllegalArgumentException](
      Sparql.run(e, "SELECT ?d ?n WHERE { ?d <urn:n> ?n } ORDER BY ASC(?n + 1)")
        .collect())
    assert(ex2.getMessage.contains("need the nodes"))
  }

  test("FROM / FROM NAMED dataset clauses scope the quad view") {
    val quads = Seq(
      (d1, "urn:lang", en, "urn:graph:a"),
      (d2, "urn:lang", fr, "urn:graph:b"),
      (d3, "urn:lang", en, "urn:graph:c"),
      (d1, "urn:src", web, "urn:graph:a"))
      .toDF("subj_id", "pred", "obj_id", "graph")
    // FROM merges the listed graphs into the default graph
    assert(Sparql.run(quads,
      """SELECT ?d FROM <urn:graph:a> FROM <urn:graph:b>
        |WHERE { ?d <urn:lang> ?l }""".stripMargin)
      .collect().map(_.getString(0)).toSet === Set(d1, d2))
    // FROM alone leaves the NAMED set empty: GRAPH matches nothing
    assert(Sparql.run(quads,
      """SELECT ?d FROM <urn:graph:a>
        |WHERE { GRAPH ?g { ?d <urn:lang> ?l } }""".stripMargin).count() === 0)
    // FROM NAMED alone leaves the DEFAULT graph empty
    assert(Sparql.run(quads,
      """SELECT ?d FROM NAMED <urn:graph:a>
        |WHERE { ?d <urn:lang> ?l }""".stripMargin).count() === 0)
    // FROM NAMED restricts which graphs GRAPH ?g ranges over
    assert(Sparql.run(quads,
      """SELECT ?d ?g FROM NAMED <urn:graph:a> FROM NAMED <urn:graph:b>
        |WHERE { GRAPH ?g { ?d <urn:lang> ?l } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set((d1, "urn:graph:a"), (d2, "urn:graph:b")))
    // a constant GRAPH outside the named set is statically empty
    assert(Sparql.run(quads,
      """SELECT ?d FROM NAMED <urn:graph:a>
        |WHERE { GRAPH <urn:graph:b> { ?d <urn:lang> ?l } }""".stripMargin)
      .count() === 0)
    // default and named parts compose in one group
    assert(Sparql.run(quads,
      """SELECT ?d ?g FROM <urn:graph:a> FROM NAMED <urn:graph:a>
        |WHERE { ?d <urn:lang> ?l GRAPH ?g { ?d <urn:src> ?s } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq((d1, "urn:graph:a")))
    // ASK takes the clause too
    assert(Sparql.run(quads,
      "ASK FROM <urn:graph:c> { ?d <urn:lang> ?l }")
      .collect()(0).getBoolean(0))
    // FROM scopes PATH predicates too — the graph filter applies to the
    // scan BEFORE the closure composes
    assert(Sparql.run(quads,
      "SELECT ?x ?y FROM <urn:graph:a> WHERE { ?x <urn:lang>+ ?y }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq((d1, en)))
    // DESCRIBE's CBD expansion reads the FROM merge
    assert(Sparql.run(quads,
      "DESCRIBE <urn:doc:1> FROM <urn:graph:a>").count() === 2)
    assert(Sparql.run(quads,
      "DESCRIBE <urn:doc:1> FROM <urn:graph:b>").count() === 0)
    // subqueries inherit the outer dataset — their own FROM is rejected
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?d WHERE { ?d <urn:lang> ?l
        |{ SELECT ?d FROM <urn:graph:a> WHERE { ?d <urn:src> ?s } } }""".stripMargin))
    assert(ex.getMessage.contains("top-level dataset clause"))
    // and the subquery sees the outer scoping
    assert(Sparql.run(quads,
      """SELECT ?d FROM <urn:graph:a> WHERE { ?d <urn:lang> ?l
        |{ SELECT ?d WHERE { ?d <urn:src> ?s } } }""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d1))
    // a triples-only frame cannot serve a dataset clause
    val e3 = edges((d1, "urn:lang", en))
    val ex2 = intercept[IllegalArgumentException](Sparql.run(e3,
      "SELECT ?d FROM <urn:graph:a> WHERE { ?d <urn:lang> ?l }"))
    assert(ex2.getMessage.contains("'graph' column"))
  }

  test("GRAPH: constant scopes the scan, variable binds the raw IRI") {
    val quads = Seq(
      (d1, "urn:lang", en, "urn:graph:a"),
      (d2, "urn:lang", fr, "urn:graph:b"),
      (d1, "urn:src", web, "urn:graph:a"))
      .toDF("subj_id", "pred", "obj_id", "graph")
    val byVar = Sparql.run(quads,
      "SELECT ?d ?g WHERE { GRAPH ?g { ?d <urn:lang> ?l } }")
    assert(byVar.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set((d1, "urn:graph:a"), (d2, "urn:graph:b")))
    assert(Sparql.run(quads,
      "SELECT ?d WHERE { GRAPH <urn:graph:b> { ?d <urn:lang> ?l } }")
      .collect().map(_.getString(0)).toSeq === Seq(d2))
    // graph variables live in the raw-IRI space: constants compile raw,
    // STR reads the column directly
    assert(Sparql.run(quads,
      """SELECT ?d WHERE { GRAPH ?g { ?d <urn:lang> ?l }
        |FILTER(?g != <urn:graph:b>) }""".stripMargin).count() === 1)
    assert(Sparql.run(quads,
      """SELECT ?d WHERE { GRAPH ?g { ?d <urn:lang> ?l }
        |FILTER(STRENDS(STR(?g), ":a")) }""".stripMargin).count() === 1)
    // graph var joined against a node position: cross-space, rejected
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?g WHERE { GRAPH ?g { ?s <urn:p> ?o } ?g <urn:p> ?z }"))
    assert(ex.getMessage.contains("predicate/GRAPH position"))
    // a variable graph cannot scope a path-form predicate
    val ex2 = intercept[IllegalArgumentException](Sparql.run(quads,
      "SELECT ?g WHERE { GRAPH ?g { ?s <urn:lang>+ ?o } }"))
    assert(ex2.getMessage.contains("path-form"))
    // a constant graph CAN: the filter applies before the closure
    assert(Sparql.run(quads,
      "SELECT ?s ?o WHERE { GRAPH <urn:graph:a> { ?s <urn:lang>+ ?o } }")
      .count() === 1)
    // edges without a graph column fail loudly
    val ex3 = intercept[IllegalArgumentException](Sparql.run(corpus,
      "SELECT ?g WHERE { GRAPH ?g { ?s <urn:lang> ?o } }"))
    assert(ex3.getMessage.contains("graph' column"))
  }

  test("temporal FILTER: xsd:date / xsd:dateTime constants compare by value") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    def dlit(v: String) = Bgp.litId(v, XSD + "date")
    def tlit(v: String) = Bgp.litId(v, XSD + "dateTime")
    val jan = dlit("2020-01-15")
    val mar = dlit("2020-03-01")
    val ts1 = tlit("2020-01-15T10:30:00")
    val ts2 = tlit("2020-01-15T22:00:00")
    val e = edges(
      (d1, "urn:when", jan), (d2, "urn:when", mar),
      (d1, "urn:at", ts1), (d2, "urn:at", ts2),
      (d3, "urn:when", en)) // a non-date literal in value position
    val nodes = Seq(
      (jan, RdfTerm.LITERAL, "2020-01-15", null, XSD + "date"),
      (mar, RdfTerm.LITERAL, "2020-03-01", null, XSD + "date"),
      (ts1, RdfTerm.LITERAL, "2020-01-15T10:30:00", null, XSD + "dateTime"),
      (ts2, RdfTerm.LITERAL, "2020-01-15T22:00:00", null, XSD + "dateTime"),
      (en, RdfTerm.LITERAL, "en", null, XSD + "string"))
      .toDF("id", "kind", "value", "lang", "dt")
    // range filter: only jan qualifies; the plain-string literal reads
    // NULL and drops (error-means-exclude)
    val got = Sparql.run(e, nodes,
      s"""SELECT ?d WHERE { ?d <urn:when> ?w
         |FILTER(?w >= "2020-01-01"^^<${XSD}date> &&
         |       ?w < "2020-02-01"^^<${XSD}date>) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(d1))
    // dateTime ordering by value
    assert(Sparql.run(e, nodes,
      s"""SELECT ?d WHERE { ?d <urn:at> ?t
         |FILTER(?t > "2020-01-15T12:00:00"^^<${XSD}dateTime>) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d2))
    // value equality (not id equality)
    assert(Sparql.run(e, nodes,
      s"""SELECT ?d WHERE { ?d <urn:when> ?w
         |FILTER(?w = "2020-03-01"^^<${XSD}date>) }""".stripMargin)
      .count() === 1)
    // cross-type comparison is a SPARQL error — rejected at parse
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      s"""SELECT ?d WHERE { ?d <urn:when> ?w
         |FILTER("2020-01-01"^^<${XSD}date> < "2020-01-01T00:00:00"^^<${XSD}dateTime>) }""".stripMargin))
    assert(ex.getMessage.contains("do not compare"))
    // a BIND value is not an RDF term for temporal reads
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      s"""SELECT ?d WHERE { ?d <urn:when> ?w BIND(1 + 1 AS ?x)
         |FILTER(?x < "2020-01-01"^^<${XSD}date>) }""".stripMargin))
    assert(ex2.getMessage.contains("computed value"))
  }

  test("datetime accessors read the temporal value into the numeric space") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val jan = Bgp.litId("2020-01-15", XSD + "date")
    val ts1 = Bgp.litId("2021-03-05T10:30:45", XSD + "dateTime")
    val en2 = Bgp.litId("en", XSD + "string")
    val e = edges(
      (d1, "urn:at", ts1), (d2, "urn:at", jan), (d3, "urn:at", en2))
    val nodes = Seq(
      (jan, RdfTerm.LITERAL, "2020-01-15", null, XSD + "date"),
      (ts1, RdfTerm.LITERAL, "2021-03-05T10:30:45", null, XSD + "dateTime"),
      (en2, RdfTerm.LITERAL, "en", null, XSD + "string"))
      .toDF("id", "kind", "value", "lang", "dt")
    // each accessor as a BIND; a date reads midnight; a non-temporal
    // term reads NULL and is excluded by the FILTER
    val got = Sparql.run(e, nodes,
      """SELECT ?d ?y ?mo ?dd ?h ?mi ?s WHERE { ?d <urn:at> ?t
        |BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo) BIND(DAY(?t) AS ?dd)
        |BIND(HOURS(?t) AS ?h) BIND(MINUTES(?t) AS ?mi)
        |BIND(SECONDS(?t) AS ?s)
        |FILTER(YEAR(?t) >= 2000) }""".stripMargin)
      .collect().map(r => (r.getString(0),
        (1 to 6).map(i => r.getDouble(i)))).toMap
    assert(got === Map(
      d1 -> Seq(2021.0, 3.0, 5.0, 10.0, 30.0, 45.0),
      d2 -> Seq(2020.0, 1.0, 15.0, 0.0, 0.0, 0.0)))
    // accessors compose in arithmetic and in FILTER comparisons
    assert(Sparql.run(e, nodes,
      """SELECT ?d WHERE { ?d <urn:at> ?t
        |FILTER(MONTH(?t) * 100 + DAY(?t) > 300) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d1))
    // a computed BIND value is not an RDF term for accessor reads
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?d WHERE { ?d <urn:at> ?t BIND(1 + 1 AS ?x)
        |FILTER(YEAR(?x) = 2020) }""".stripMargin))
    assert(ex.getMessage.contains("computed value"))
  }

  test("xsd constructor casts: integer, double, string") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val s1 = Bgp.litId("12.9")           // numeric lexical form, xsd:string
    val s2 = Bgp.litId("-3.2")
    val s3 = Bgp.litId("oops")           // not castable
    val n7 = Bgp.litId("7", XSD + "long")
    val e = edges((d1, "urn:v", s1), (d2, "urn:v", s2), (d3, "urn:v", s3),
      (en, "urn:v", n7))
    val nodes = Seq(
      (s1, RdfTerm.LITERAL, "12.9", null, XSD + "string"),
      (s2, RdfTerm.LITERAL, "-3.2", null, XSD + "string"),
      (s3, RdfTerm.LITERAL, "oops", null, XSD + "string"),
      (n7, RdfTerm.LITERAL, "7", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    // xsd:double parses string lexical forms AND passes numerics
    // through; the uncastable literal is excluded, never thrown
    val dbl = Sparql.run(e, nodes,
      s"""PREFIX xsd: <$XSD>
         |SELECT ?d ?x WHERE { ?d <urn:v> ?c
         |BIND(xsd:double(?c) AS ?x) FILTER(xsd:double(?c) > -100) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(dbl === Map(d1 -> 12.9, d2 -> -3.2, en -> 7.0))
    // xsd:integer truncates toward zero (XPath), both signs
    val ints = Sparql.run(e, nodes,
      s"""PREFIX xsd: <$XSD>
         |SELECT ?d ?x WHERE { ?d <urn:v> ?c
         |BIND(xsd:integer(?c) AS ?x) FILTER(BOUND(?x)) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(ints === Map(d1 -> 12.0, d2 -> -3.0, en -> 7.0))
    // casts compose with arithmetic; xsd:string = STR
    val comp = Sparql.run(e, nodes,
      s"""PREFIX xsd: <$XSD>
         |SELECT ?d ?y ?s WHERE { ?d <urn:v> ?c
         |BIND(xsd:double(?c) * 2 AS ?y)
         |BIND(CONCAT(xsd:string(?c), "!") AS ?s)
         |FILTER(xsd:integer(?c) = 7) }""".stripMargin).collect()
    assert(comp.length === 1 && comp(0).getDouble(1) === 14.0 &&
      comp(0).getString(2) === "7!")
    // a string BIND value casts through try_cast; an id copy is rejected
    assert(Sparql.run(e, nodes,
      s"""PREFIX xsd: <$XSD>
         |SELECT ?d ?n WHERE { ?d <urn:v> ?c
         |BIND(CONCAT(STR(?c), "0") AS ?s0)
         |BIND(xsd:double(?s0) AS ?n) FILTER(?n = 70) }""".stripMargin)
      .count() === 1) // "7" + "0" -> 70
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      s"""PREFIX xsd: <$XSD>
         |SELECT ?d WHERE { ?d <urn:v> ?c BIND(?c AS ?cc)
         |FILTER(xsd:double(?cc) > 0) }""".stripMargin))
    assert(ex.getMessage.contains("id-space BIND copy"))
  }

  test("hash builtins, ENCODE_FOR_URI and SAMETERM") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val abc = Bgp.litId("abc")
    val caf = Bgp.litId("café x")
    val e = edges((d1, "urn:v", abc), (d2, "urn:v", caf),
      (d1, "urn:w", abc))
    val nodes = Seq(
      (abc, RdfTerm.LITERAL, "abc", null, XSD + "string"),
      (caf, RdfTerm.LITERAL, "café x", null, XSD + "string"))
      .toDF("id", "kind", "value", "lang", "dt")
    // known digest vectors pin the algorithms cross-engine
    val dig = Sparql.run(e, nodes,
      """SELECT ?h1 ?h2 ?h3 ?h4 ?h5 WHERE { ?d <urn:v> ?c
        |FILTER(STR(?c) = "abc")
        |BIND(MD5(STR(?c)) AS ?h1)    BIND(SHA1(STR(?c)) AS ?h2)
        |BIND(SHA256(STR(?c)) AS ?h3) BIND(SHA384(STR(?c)) AS ?h4)
        |BIND(SHA512(STR(?c)) AS ?h5) }""".stripMargin).collect()(0)
    assert(dig.getString(0) === "900150983cd24fb0d6963f7d28e17f72")
    assert(dig.getString(1) === "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(dig.getString(2) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(dig.getString(3).length === 96 && dig.getString(3).startsWith("cb00753f"))
    assert(dig.getString(4).length === 128 && dig.getString(4).startsWith("ddaf35a1"))
    // ENCODE_FOR_URI: UTF-8 percent-encoding, uppercase hex, unreserved
    // set untouched
    val enc = Sparql.run(e, nodes,
      """SELECT ?u WHERE { ?d <urn:v> ?c
        |FILTER(CONTAINS(STR(?c), " "))
        |BIND(ENCODE_FOR_URI(STR(?c)) AS ?u) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(enc === Seq("caf%C3%A9%20x"))
    assert(graft.kg.UriEncode.encodeString("AZaz09-_.~") === "AZaz09-_.~")
    assert(graft.kg.UriEncode.encodeString("a/b?c#d") === "a%2Fb%3Fc%23d")
    // SAMETERM is id equality within one space
    assert(Sparql.run(e,
      """SELECT ?d WHERE { ?d <urn:v> ?a . ?d <urn:w> ?b
        |FILTER(SAMETERM(?a, ?b)) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq === Seq(d1))
    assert(Sparql.run(e,
      """SELECT ?d WHERE { ?d <urn:v> ?a . ?d <urn:w> ?b
        |FILTER(!SAMETERM(?a, ?b)) }""".stripMargin).count() === 0)
    // cross-space SAMETERM (pred var vs node var) is a parse error
    val ex = intercept[IllegalArgumentException](Sparql.parse(
      "SELECT ?d WHERE { ?d ?p ?o FILTER(SAMETERM(?p, ?o)) }"))
    assert(ex.getMessage.contains("across value spaces"))
    // BIND values are not RDF terms for SAMETERM
    val ex2 = intercept[IllegalArgumentException](Sparql.parse(
      """SELECT ?d WHERE { ?d <urn:v> ?a BIND(1 + 1 AS ?x)
        |FILTER(SAMETERM(?x, ?a)) }""".stripMargin))
    assert(ex2.getMessage.contains("BIND value"))
  }

  test("LANGMATCHES, IN lists and BIND IF") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val hEn = Bgp.litId("hello", lang = Some("en"))
    val hGb = Bgp.litId("hallo", lang = Some("en-GB"))
    val hDe = Bgp.litId("servus", lang = Some("de"))
    val p3 = Bgp.litId("3", XSD + "long")
    val p7 = Bgp.litId("7", XSD + "long")
    val e = edges(
      (d1, "urn:cap", hEn), (d2, "urn:cap", hGb), (d3, "urn:cap", hDe),
      (d1, "urn:n", p3), (d2, "urn:n", p7))
    val LS = RdfTerm.RdfLangString
    val nodes = Seq(
      (hEn, RdfTerm.LITERAL, "hello", "en", LS),
      (hGb, RdfTerm.LITERAL, "hallo", "en-GB", LS),
      (hDe, RdfTerm.LITERAL, "servus", "de", LS),
      (p3, RdfTerm.LITERAL, "3", null, XSD + "long"),
      (p7, RdfTerm.LITERAL, "7", null, XSD + "long"))
      .toDF("id", "kind", "value", "lang", "dt")
    // RFC 4647 basic filtering: "en" matches en AND en-GB, case-blind
    assert(Sparql.run(e, nodes,
      """SELECT ?d WHERE { ?d <urn:cap> ?c
        |FILTER(LANGMATCHES(LANG(?c), "EN")) }""".stripMargin)
      .collect().map(_.getString(0)).toSet === Set(d1, d2))
    // "*" matches any non-empty tag
    assert(Sparql.run(e, nodes,
      """SELECT ?d WHERE { ?d <urn:cap> ?c
        |FILTER(LANGMATCHES(LANG(?c), "*")) }""".stripMargin).count() === 3)
    // numeric IN reads the value space; NOT IN excludes
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:n> ?n FILTER(?n IN (3, 5)) }")
      .collect().map(_.getString(0)).toSeq === Seq(d1))
    assert(Sparql.run(e, nodes,
      "SELECT ?d WHERE { ?d <urn:n> ?n FILTER(?n NOT IN (3, 5)) }")
      .collect().map(_.getString(0)).toSeq === Seq(d2))
    // term IN over a pattern variable compares node ids
    assert(Sparql.run(e,
      """SELECT ?d WHERE { ?d <urn:cap> ?c
        |FILTER(?c IN ("hello"@en, "servus"@de)) }""".stripMargin)
      .collect().map(_.getString(0)).toSet === Set(d1, d3))
    // BIND IF: condition is a full filter expression, branches one kind
    val cls = Sparql.run(e, nodes,
      """SELECT ?d ?cls WHERE { ?d <urn:n> ?n
        |BIND(IF(?n > 5, "big", "small") AS ?cls)
        |FILTER(?cls IN ("big", "small")) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(cls === Map(d1 -> "small", d2 -> "big"))
    val ifNum = Sparql.run(e, nodes,
      """SELECT ?d ?y WHERE { ?d <urn:n> ?n
        |BIND(IF(?n > 5, ?n * 2, ?n + 1) AS ?y) }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(ifNum === Map(d1 -> 4.0, d2 -> 14.0))
    // rejections: mixed IN list, mismatched IF branch kinds
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    bad("""SELECT ?d WHERE { ?d <urn:n> ?n FILTER(?n IN (3, "x")) }""",
      "mixes numbers")
    bad("""SELECT ?d WHERE { ?d <urn:n> ?n
          |BIND(IF(?n > 5, "big", 1) AS ?c) }""".stripMargin,
      "mix value kinds")
    bad("""SELECT ?d WHERE { ?d <urn:n> ?n FILTER("x" IN ("x")) }""",
      "takes a ?variable")
  }

  test("malformed queries fail loudly, not wrongly") {
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    bad("SELECT * WHERE { ?a foaf:knows ?b }", "undeclared prefix")
    // triples next to a UNION group now parse as a MIXED group — still
    // rejected here because nothing joins the union to ?x <p> ?y
    bad("SELECT * WHERE { { ?a <p> ?b } UNION { ?c <p> ?d } ?x <p> ?y }",
      "shares no variable")
    bad("SELECT * WHERE { }", "no required triple")
    bad("SELECT * WHERE { ?a <p> ?b } ?c", "trailing")
    bad("SELECT WHERE { ?a <p> ?b }", "SELECT needs")
  }

  test("a group evaluates in text order: shapes whose §18 rows a flat plan missed are rejected") {
    // edges a q z1, b q z2, a p y1, b r y2, a r y9
    val Seq(a, b, y1, y2, y9, z1, z2) =
      Seq("a", "b", "y1", "y2", "y9", "z1", "z2").map(n => Bgp.iriId(s"urn:$n"))
    val e = edges((a, "urn:q", z1), (b, "urn:q", z2), (a, "urn:p", y1),
      (b, "urn:r", y2), (a, "urn:r", y9))
    def bad(q: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](Sparql.parse(q))
      assert(ex.getMessage.contains(needle), s"$q -> ${ex.getMessage}")
    }
    // §18 left-joins the empty solution here, giving only the a row;
    // left-joining after the triples would add b|z2|null
    bad("SELECT ?x ?z ?y WHERE { OPTIONAL { ?x <urn:p> ?y } ?x <urn:q> ?z }",
      "OPTIONAL has nothing before it")
    // §18 subtracts from the empty solution (nothing to remove) and keeps
    // both rows; subtracting after the triples would drop a
    bad("SELECT ?x ?z WHERE { MINUS { ?x <urn:p> ?y } ?x <urn:q> ?z }",
      "MINUS has nothing before it")
    // ?y joins the OPTIONAL's result, where it may be unbound: §18 gives
    // only b|y2|z2, one BGP of both triple blocks would add a|y9|z1
    bad("SELECT ?x ?y ?z WHERE { ?x <urn:q> ?z OPTIONAL { ?x <urn:p> ?y } ?x <urn:r> ?y }",
      "?y may be unbound")
    def rows(q: String) = Sparql.run(e, q).collect()
      .map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).sorted.toSeq
    // the same elements in an accepted order return the §18 rows
    assert(rows("SELECT ?x ?z ?y WHERE { ?x <urn:q> ?z OPTIONAL { ?x <urn:p> ?y } }") ===
      Seq(s"$a|$z1|$y1", s"$b|$z2|null").sorted)
    assert(rows("SELECT ?x ?z WHERE { ?x <urn:q> ?z MINUS { ?x <urn:p> ?y } }") ===
      Seq(s"$b|$z2"))
    assert(rows("SELECT ?x ?y ?z WHERE { ?x <urn:q> ?z . ?x <urn:r> ?y OPTIONAL { ?x <urn:p> ?y } }") ===
      Seq(s"$a|$y9|$z1", s"$b|$y2|$z2").sorted)
  }

  test("a disconnected basic graph pattern is rejected at parse, as at run") {
    val q = "SELECT * WHERE { ?a <urn:p> ?b . ?c <urn:q> ?d }"
    val ex = intercept[IllegalArgumentException](Sparql.parse(q))
    assert(ex.getMessage.contains("disconnected BGP"))
    // the same rule in an OPTIONAL group
    assert(intercept[IllegalArgumentException](Sparql.parse(
      "SELECT * WHERE { ?a <urn:p> ?b OPTIONAL { ?a <urn:q> ?c . ?d <urn:r> ?e } }"))
      .getMessage.contains("disconnected BGP"))
  }

  test("a numeric-typed constant is the number it spells (§19.8): one value space for both") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    // four subjects, one value each: the same number in four spellings
    val terms = Seq(("5", "integer"), ("05", "integer"), ("5.0", "double"), ("5", "long"))
    val ids = terms.map { case (v, t) => Bgp.litId(v, XSD + t) }
    val subjects = (1 to 4).map(i => Bgp.iriId(s"urn:s:$i"))
    val e = edges(subjects.zip(ids).map { case (s, o) => (s, "urn:v", o) }: _*)
    val nodes = terms.zip(ids).map { case ((v, t), id) =>
      (id, RdfTerm.LITERAL, v, null: String, XSD + t) }.toDF("id", "kind", "value", "lang", "dt")
    def subjectsOf(filter: String): Set[String] = Sparql.run(e, nodes,
      s"SELECT ?s WHERE { ?s <urn:v> ?v FILTER($filter) }")
      .collect().map(_.getString(0)).toSet
    for (five <- Seq("5", s"\"5\"^^<${XSD}integer>")) {
      assert(subjectsOf(s"?v = $five") === subjects.toSet, five)
      assert(subjectsOf(s"?v != $five") === Set.empty, five)
      assert(subjectsOf(s"?v IN ($five)") === subjects.toSet, five)
    }
    // ordering against a typed constant, and a parenthesized arithmetic
    // left side, read the numeric space like their bare spellings
    assert(subjectsOf(s"?v < \"6\"^^<${XSD}integer>") === subjects.toSet)
    assert(subjectsOf("(?v + 1) > 5") === subjects.toSet)
    assert(subjectsOf(s"(?v + 1) > \"6\"^^<${XSD}long>") === Set.empty)
  }

  test("?v = ?w compares two numeric literals by value with the nodes table, else by id") {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    // per subject, its ?v and ?w: 5 and 5.0, 5 and 6, the same IRI, 5 and "5"
    val terms = Seq(("5", XSD + "integer"), ("5.0", XSD + "double"), ("6", XSD + "integer"),
      ("5", RdfTerm.XsdString))
    val Seq(five, fiveD, six, fiveS) = terms.map { case (v, t) => Bgp.litId(v, t) }
    val iri = Bgp.iriId("urn:o:a")
    val Seq(s1, s2, s3, s4) = (1 to 4).map(i => Bgp.iriId(s"urn:s:$i"))
    val e = edges(Seq(s1 -> (five, fiveD), s2 -> (five, six), s3 -> (iri, iri), s4 -> (five, fiveS))
      .flatMap { case (s, (v, w)) => Seq((s, "urn:v", v), (s, "urn:w", w)) }: _*)
    val nodes = (terms.map { case (v, t) => (Bgp.litId(v, t), RdfTerm.LITERAL, v, null: String, t) } :+
      ((iri, RdfTerm.IRI, "urn:o:a", null: String, null: String)))
      .toDF("id", "kind", "value", "lang", "dt")
    def subjectsOf(filter: String, withNodes: Boolean = true): Set[String] = {
      val q = s"SELECT ?s WHERE { ?s <urn:v> ?v . ?s <urn:w> ?w FILTER($filter) }"
      (if (withNodes) Sparql.run(e, nodes, q) else Sparql.run(e, q))
        .collect().map(_.getString(0)).toSet
    }
    assert(subjectsOf("?v = ?w") === Set(s1, s3))
    assert(subjectsOf("?v != ?w") === Set(s2, s4))
    assert(subjectsOf("!(?v = ?w) && ?v != ?w") === Set(s2, s4))
    // edges only: node ids
    assert(subjectsOf("?v = ?w", withNodes = false) === Set(s3))
    assert(subjectsOf("?v != ?w", withNodes = false) === Set(s1, s2, s4))
    // an OPTIONAL condition compares node ids, nodes table or not
    val opt = Sparql.run(e, nodes, "SELECT ?s ?w WHERE { ?s <urn:v> ?x " +
      "OPTIONAL { ?s <urn:v> ?v . ?s <urn:w> ?w FILTER(?v = ?w) } }")
    assert(opt.filter($"w".isNotNull).collect().map(_.getString(0)).toSet === Set(s3))
  }
}

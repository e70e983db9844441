package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.In
import org.apache.spark.sql.functions._

/**
 * The KG *query* layer over the constructed graph: BGP matching ([[Bgp]]),
 * entity resolution ([[EntityResolution]]), RDFS forward chaining
 * ([[Inference]]), and the k-core / transitive-closure additions to
 * [[GraphOps]].
 */
class GraphQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import Bgp.{C, PAlternative, PClosure, PLeaf, PathPat, TriplePattern, V}
  import Sparql.{BGP, LeftJoin, Minus, Union}

  private def plus(pred: String) = PathPat(PClosure(PLeaf(pred), '+'))
  private def alt(preds: String*) = PathPat(PAlternative(preds.map(PLeaf)))

  private def edges(rows: (String, String, String)*) =
    rows.toDF("subj_id", "pred", "obj_id")

  test("BGP star pattern with a selective constant") {
    val e = edges(
      ("d1", "lang", "en"), ("d1", "source", "web"),
      ("d2", "lang", "fr"), ("d2", "source", "web"),
      ("d3", "lang", "en"), ("d3", "source", "book"))
    val out = Bgp.matchPatterns(e, Seq(
      TriplePattern(V("doc"), C("lang"), C("en")),
      TriplePattern(V("doc"), C("source"), V("src"))))
    assert(out.columns.toSet === Set("doc", "src"))
    assert(out.collect().map(r => (r.getAs[String]("doc"), r.getAs[String]("src"))).toSet ===
      Set(("d1", "web"), ("d3", "book")))
  }

  test("BGP chain pattern joins across different variables") {
    val e = edges(("a", "next", "b"), ("b", "next", "c"), ("a", "skip", "c"),
      ("x", "next", "y"))
    val out = Bgp.matchPatterns(e, Seq(
      TriplePattern(V("p"), C("next"), V("q")),
      TriplePattern(V("q"), C("next"), V("r")),
      TriplePattern(V("p"), C("skip"), V("r"))))
    assert(out.collect().map(r =>
      (r.getAs[String]("p"), r.getAs[String]("q"), r.getAs[String]("r"))).toSeq ===
      Seq(("a", "b", "c")))
  }

  test("a variable repeated within one pattern binds by equality (self-loops)") {
    val e = edges(("a", "p", "a"), ("a", "p", "b"), ("c", "p", "c"))
    val out = Bgp.matchPatterns(e, Seq(TriplePattern(V("x"), C("p"), V("x"))))
    assert(out.collect().map(_.getAs[String]("x")).toSet === Set("a", "c"))
  }

  test("OPTIONAL groups left-join: bind where matched, NULL where not") {
    val e = edges(
      ("d1", "lang", "en"), ("d1", "title", "t1"),
      ("d2", "lang", "fr"))
    val out = Sparql.evaluate(e, LeftJoin(
      BGP(Seq(TriplePattern(V("d"), C("lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("title"), V("t"))))))
    assert(out.collect().map(r =>
      (r.getAs[String]("d"), r.getAs[String]("l"), r.getAs[String]("t"))).toSet ===
      Set(("d1", "en", "t1"), ("d2", "fr", null)))
  }

  test("OPTIONAL rejects unanchored groups and doubly-bound variables") {
    val e = edges(("a", "p", "b"))
    val req = Seq(TriplePattern(V("x"), C("p"), V("y")))
    val ex1 = intercept[IllegalArgumentException] {
      Sparql.evaluate(e, LeftJoin(BGP(req), BGP(Seq(TriplePattern(V("u"), C("p"), V("v"))))))
    }
    assert(ex1.getMessage.contains("unanchored"))
    val ex2 = intercept[IllegalArgumentException] {
      Sparql.evaluate(e, LeftJoin(
        LeftJoin(BGP(req), BGP(Seq(TriplePattern(V("x"), C("q"), V("z"))))),
        BGP(Seq(TriplePattern(V("y"), C("r"), V("z"))))))
    }
    assert(ex2.getMessage.contains("two optional groups"))
  }

  test("disconnected patterns are rejected, not cross-joined") {
    val e = edges(("a", "p", "b"))
    val ex = intercept[IllegalArgumentException] {
      Bgp.matchPatterns(e, Seq(
        TriplePattern(V("x"), C("p"), V("y")),
        TriplePattern(V("u"), C("p"), V("v"))))
    }
    assert(ex.getMessage.contains("disconnected"))
  }

  test("greedy join order: worst-case caller order gives the same bindings") {
    val e = edges(
      ("d1", "lang", "en"), ("d1", "source", "web"),
      ("d2", "lang", "fr"), ("d2", "source", "web"),
      ("d3", "lang", "en"), ("d3", "source", "book"))
    // unselective pattern listed FIRST — the greedy reorder must still
    // start the join tree from the 2-constant lang pattern
    val worst = Bgp.matchPatterns(e, Seq(
      TriplePattern(V("doc"), C("source"), V("src")),
      TriplePattern(V("doc"), C("lang"), C("en"))))
    val best = Bgp.matchPatterns(e, Seq(
      TriplePattern(V("doc"), C("lang"), C("en")),
      TriplePattern(V("doc"), C("source"), V("src"))))
    assert(worst.columns.toSeq === best.columns.toSeq)
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getAs[String]("doc"), r.getAs[String]("src"))).toSet
    assert(rows(worst) === rows(best))
    assert(rows(worst) === Set(("d1", "web"), ("d3", "book")))
  }

  test("joinOrder starts from the most-constant pattern and grows connected") {
    // worst-case caller order: unselective (1 const) first, 2-const
    // second, a pattern connected only via ?c third. Greedy must pick
    // index 1 first (2 constants), then 0 (shares ?doc; 1 const + 1
    // bound var beats 2's 1 const + 0 bound), then 2.
    val pats = Seq(
      TriplePattern(V("doc"), C("source"), V("src")),
      TriplePattern(V("doc"), C("lang"), C("en")),
      TriplePattern(V("src"), C("host"), V("h")))
    assert(Bgp.joinOrder(pats) === Seq(1, 0, 2))
    // ties break on the EARLIEST caller index
    val tied = Seq(
      TriplePattern(V("a"), C("p"), V("b")),
      TriplePattern(V("a"), C("q"), V("c")))
    assert(Bgp.joinOrder(tied) === Seq(0, 1))
  }

  test("FILTER predicates apply over the binding columns after the match") {
    val e = edges(("d1", "lang", "en"), ("d2", "lang", "fr"), ("d3", "lang", "en"))
    val out = Bgp.matchPatterns(e,
      Seq(TriplePattern(V("d"), C("lang"), V("l"))))
      .filter(col("l") =!= "en")
    assert(out.collect().map(_.getAs[String]("d")).toSeq === Seq("d2"))
  }

  test("FILTER after OPTIONAL sees NULL for unmatched optional variables") {
    val e = edges(("d1", "lang", "en"), ("d1", "title", "t1"), ("d2", "lang", "fr"))
    val out = Sparql.evaluate(e, LeftJoin(
      BGP(Seq(TriplePattern(V("d"), C("lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("title"), V("t"))))))
      .filter(col("t").isNull)
    assert(out.collect().map(_.getAs[String]("d")).toSeq === Seq("d2"))
  }

  test("a <p>+ path matches the predicate's transitive closure") {
    val e = edges(("a", "up", "b"), ("b", "up", "c"), ("c", "up", "d"),
      ("x", "other", "a"))
    val out = Bgp.matchPatterns(e, Seq(TriplePattern(V("s"), plus("up"), V("o"))))
    assert(out.collect().map(r => (r.getAs[String]("s"), r.getAs[String]("o"))).toSet ===
      Set(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")))
    // constant object: everything with a 1+-hop 'up' path to d
    val toD = Bgp.matchPatterns(e, Seq(TriplePattern(V("s"), plus("up"), C("d"))))
    assert(toD.collect().map(_.getAs[String]("s")).toSet === Set("a", "b", "c"))
    // a path is predicate-position-only
    val ex = intercept[IllegalArgumentException] {
      Bgp.matchPatterns(e, Seq(TriplePattern(plus("up"), C("p"), V("o"))))
    }
    assert(ex.getMessage.contains("predicate position"))
  }

  test("a <p>+ path composes with plain patterns on shared variables") {
    val e = edges(("a", "up", "b"), ("b", "up", "c"),
      ("a", "lang", "en"), ("b", "lang", "fr"), ("c", "lang", "en"))
    val out = Bgp.matchPatterns(e, Seq(
      TriplePattern(V("s"), plus("up"), V("o")),
      TriplePattern(V("o"), C("lang"), C("en"))))
    assert(out.collect().map(r => (r.getAs[String]("o"), r.getAs[String]("s"))).toSet ===
      Set(("c", "a"), ("c", "b")))
  }

  test("a leaf alternative matches any of its predicates (one pushed IN scan)") {
    val e = edges(("d1", "title", "t1"), ("d2", "label", "t2"),
      ("d3", "name", "t3"), ("d4", "other", "t4"))
    val out = Bgp.matchPatterns(e,
      Seq(TriplePattern(V("d"), alt("title", "label"), V("t"))))
    assert(out.collect().map(r => (r.getAs[String]("d"), r.getAs[String]("t"))).toSet ===
      Set(("d1", "t1"), ("d2", "t2")))
    // distinct leaves are ONE scan with one IN filter on pred, not a
    // union of per-leaf scans (over an RDD leaf: the optimizer folds a
    // filter on a local relation into the relation itself)
    val plan = Bgp.matchPatterns(spark.createDataFrame(e.rdd, e.schema),
      Seq(TriplePattern(V("d"), alt("title", "label"), V("t"))))
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().size === 1, plan)
    val ins = plan.flatMap(_.expressions.flatMap(_.collect { case i: In => i }))
    assert(ins.size === 1 && ins.head.value.references.toSeq.map(_.name) === Seq("pred"), plan)
    // predicate-position only, like every path
    val ex = intercept[IllegalArgumentException] {
      Bgp.matchPatterns(e, Seq(TriplePattern(alt("x", "y"), C("p"), V("o"))))
    }
    assert(ex.getMessage.contains("predicate position"))
  }

  test("MINUS removes rows agreeing on shared variables; disjoint groups rejected") {
    val e = edges(
      ("d1", "lang", "en"), ("d2", "lang", "fr"), ("d3", "lang", "en"),
      ("d1", "flag", "spam"))
    val out = Sparql.evaluate(e, Minus(
      BGP(Seq(TriplePattern(V("d"), C("lang"), V("l")))),
      BGP(Seq(TriplePattern(V("d"), C("flag"), V("f"))))))
    assert(out.collect().map(_.getAs[String]("d")).toSet === Set("d2", "d3"))
    val ex = intercept[IllegalArgumentException] {
      Sparql.evaluate(e, Minus(
        BGP(Seq(TriplePattern(V("d"), C("lang"), V("l")))),
        BGP(Seq(TriplePattern(V("x"), C("flag"), V("f"))))))
    }
    assert(ex.getMessage.contains("shares no variable"))
  }

  test("MINUS keeps rows whose shared variable is NULL from an unmatched OPTIONAL") {
    // d2 has no title, so ?t is NULL; the MINUS group on ?t can never
    // equal NULL under join equality -> d2 survives, d1 is removed
    val e = edges(
      ("d1", "lang", "en"), ("d2", "lang", "fr"),
      ("d1", "title", "t1"), ("t1", "flag", "spam"))
    val out = Sparql.evaluate(e, Minus(
      LeftJoin(
        BGP(Seq(TriplePattern(V("d"), C("lang"), V("l")))),
        BGP(Seq(TriplePattern(V("d"), C("title"), V("t"))))),
      BGP(Seq(TriplePattern(V("t"), C("flag"), V("f"))))))
    assert(out.collect().map(_.getAs[String]("d")).toSet === Set("d2"))
  }

  test("UNION aligns branch variables and NULL-pads unbound ones") {
    val e = edges(("d1", "lang", "en"), ("d1", "source", "web"), ("d2", "lang", "de"))
    val out = Sparql.evaluate(e, Union(Seq(
      BGP(Seq(TriplePattern(V("d"), C("lang"), C("en")),
        TriplePattern(V("d"), C("source"), V("src")))),
      BGP(Seq(TriplePattern(V("d"), C("lang"), C("de")))))))
    assert(out.columns.toSeq === Seq("d", "src"))
    assert(out.collect().map(r => (r.getAs[String]("d"), r.getAs[String]("src"))).toSet ===
      Set(("d1", "web"), ("d2", null)))
  }

  test("Bgp constant ids reproduce Canonicalize.nodeId exactly") {
    val df = Seq(
      (RdfTerm.IRI, "http://Ex.org:80/a", null: String, null: String),
      (RdfTerm.LITERAL, "hi", null: String, "http://www.w3.org/2001/XMLSchema#string"),
      (RdfTerm.LITERAL, "bonjour", "fr", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
      .toDF("kind", "value", "lang", "dt")
      .select(struct(col("kind").cast("byte").as("kind"), col("value"),
        col("lang"), col("dt")).as("t"))
    val ids = df.select(Canonicalize.nodeId(
      // nodeId expects canonicalized terms; canonicalize the IRI first
      when(col("t.kind") === lit(RdfTerm.IRI),
        struct(col("t.kind"), Canonicalize.canonicalIri(col("t.value")).as("value"),
          col("t.lang"), col("t.dt"))).otherwise(col("t"))).as("id"))
      .collect().map(_.getString(0))
    assert(ids(0) === Bgp.iriId("http://Ex.org:80/a"))
    assert(ids(1) === Bgp.litId("hi"))
    assert(ids(2) === Bgp.litId("bonjour",
      dt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", lang = Some("fr")))
    // a lang tag implies rdf:langString (RDF 1.1) — the default dt must
    // follow, or the constant could never match a materialized edge
    assert(ids(2) === Bgp.litId("bonjour", lang = Some("fr")))
  }

  test("entity resolution links variants, rejects beyond maxEdit, keeps singletons") {
    val ents = Seq(
      (1L, "Acme Corporation"), (2L, "ACME-corporation."), (3L, "acmecorporationx"),
      (4L, "cmecorporation"),   // head typo: suffix block only
      (5L, "acmecorporationzzz"), // 3 edits: candidate, must be rejected
      (6L, "Zenith Widgets")     // unrelated singleton
    ).toDF("id", "label")
    val got = EntityResolution.resolveEntities(ents, "id", "label", maxEdit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L))
  }

  test("rewriteSameAs merges endpoints, dedups the edge set, passes unmapped through") {
    val mapping = Seq(("a", "a"), ("b", "a"), ("c", "c")).toDF("id", "canonical")
    val edges = Seq(
      ("a", "p", "b"),  // both merge -> self-loop (a,p,a)
      ("b", "p", "a"),  // ...same self-loop: DISTINCT keeps one
      ("b", "p", "c"),  // subject rewrites -> (a,p,c)
      ("a", "p", "c"),  // duplicate of the rewritten row -> deduped
      ("x", "p", "a")   // unmapped subject passes through
    ).toDF("subj_id", "pred", "obj_id")
    val got = EntityResolution.rewriteSameAs(edges, mapping)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(("a", "p", "a"), ("a", "p", "c"), ("x", "p", "a")))
  }

  test("mega-blocks are dropped from pairing and visible in blockStats") {
    val many = (1 to 200).map(i => (i.toLong, f"aaaa-suffix$i%04d")).toDF("id", "label")
    val stats = EntityResolution.blockStats(many, "id", "label", maxBlock = 100)
      .filter(col("dropped")).collect()
    assert(stats.nonEmpty, "expected the shared-prefix block to be flagged")
    // with the discriminative blocks intact, distinct suffixes stay apart
    val resolved = EntityResolution.resolveEntities(many, "id", "label",
      maxEdit = 1, maxBlock = 100)
    assert(resolved.filter(col("id") =!= col("canonical")).count() === 0)
  }

  test("transitive closure of a deep chain and a cycle") {
    val chain = (0 until 8).map(i => (i.toLong, i + 1L)).toDF("s", "d")
    val closed = GraphOps.transitiveClosure(chain, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for (a <- 0 to 8; b <- a + 1 to 8) yield (a.toLong, b.toLong)).toSet
    assert(closed === expected)

    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val cc = GraphOps.transitiveClosure(cycle, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cc === (for (a <- 1L to 3L; b <- 1L to 3L if a != b) yield (a, b)).toSet)
  }

  test("rdfs9 materialization inherits every transitive superclass") {
    val sub = Seq(("cat", "mammal"), ("mammal", "animal"), ("animal", "thing"))
      .toDF("sub", "sup")
    val types = Seq(("felix", "cat"), ("rex", "animal")).toDF("inst", "cls")
    val got = Inference.materializeTypes(types, "inst", "cls", sub, "sub", "sup")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("felix", "cat"), ("felix", "mammal"), ("felix", "animal"), ("felix", "thing"),
      ("rex", "animal"), ("rex", "thing")))
  }

  test("property-table pivot: one wide row per subject, min-object determinism") {
    val e = Seq(
      ("s1", "name", "n1"), ("s1", "type", "tB"), ("s1", "type", "tA"),
      ("s2", "name", "n2"))
      .toDF("subj_id", "pred", "obj_id")
    val got = Materialize.propertyTable(e, Seq("name", "type"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // multi-valued 'type' keeps the MIN object; missing 'type' is null
    assert(got === Set(("s1", "n1", "tA"), ("s2", "n2", null)))
  }

  test("bindValues bridges binding ids to the value space for FILTER") {
    val e = edges(("s1", "price", "v10"), ("s2", "price", "v200"),
      ("s3", "price", "iriX"))
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    val nodes = Seq(
      ("v10", RdfTerm.LITERAL, "10", null, XSD + "long"),
      ("v200", RdfTerm.LITERAL, "200", null, XSD + "long"),
      ("iriX", RdfTerm.IRI, "urn:x", null, null),
      ("s1", RdfTerm.IRI, "urn:s1", null, null))
      .toDF("id", "kind", "value", "lang", "dt")
    val bound = Bgp.bindValues(
      Bgp.matchPatterns(e, Seq(TriplePattern(V("s"), C("price"), V("p")))),
      nodes, Seq("p"))
    assert(bound.columns.toSet === Set("s", "p", "p_term"))
    // IRI in value position: accessor is NULL, FILTER excludes (SPARQL
    // error-means-exclude), and the comparison stays a codegen'd long op
    val got = bound.filter(TypedLiterals.asLong(col("p_term")) > 100)
      .collect().map(_.getAs[String]("s")).toSet
    assert(got === Set("s2"))
    val err = intercept[IllegalArgumentException] {
      Bgp.bindValues(e.select(col("subj_id").as("s")), nodes, Seq("zz"))
    }
    assert(err.getMessage.contains("zz"))
  }

  test("k-core peels the tree fringe over multiple rounds, keeps the clique") {
    val tree = (1 to 24).map(i => (i.toLong, (i / 2).toLong)).toDF("src", "dst")
    val clique = (for (a <- 0 to 5; b <- a + 1 to 5) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val core = GraphOps.kCore(tree.union(clique), "src", "dst", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core === Set(0L, 1L, 2L, 3L, 4L, 5L))
    // k above the clique degree: nothing survives
    assert(GraphOps.kCore(clique, "src", "dst", k = 6).count() === 0)
  }
}

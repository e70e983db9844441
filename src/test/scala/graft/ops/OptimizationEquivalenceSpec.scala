package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.{GraphOps, Materialize, RdfTerm, TestSpark}

/**
 * r7 optimization round: every rewrite below changed an operator's
 * INTERNALS while the declared results must stay bit-identical. Each test
 * pins the optimized operator against its pre-r7 reference formulation
 * (re-implemented here verbatim) on data with the hazardous shapes —
 * duplicate terms, repeated tokens, multi-term queries, random graphs —
 * so a semantic drift fails here before it fails the driver's oracle.
 */
class OptimizationEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    // collect+sort rather than exceptAll: Spark 4.1's exceptAll rewrite
    // trips an INTERNAL_ERROR on one of the reference plans here
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(a) == rows(b))
  }

  test("docShingles == wordShingles row-for-row when ids are unique") {
    val docs = Seq(
      (1L, "a b c a b c a b"), // repeated shingles inside one doc
      (2L, "a b c"),           // shared shingles across docs stay per-doc
      (3L, "x"),               // shorter than the shingle width
      (4L, "")                 // empty
    ).toDF("doc_id", "text")
    assertSameRows(
      Dedup.docShingles(docs, col("doc_id"), col("text"), 3),
      Dedup.wordShingles(docs, col("doc_id"), col("text"), 3))
  }

  test("array-intersect jaccard verify == exploded-join reference (zero overlap, missing endpoints, NULL/empty text)") {
    val docs = Seq(
      (1L, "a b c d e f"),              // overlaps 2 partially
      (2L, "a b c d x y"),
      (3L, "p q r s t u"),              // ZERO overlap with 1 -> pair dropped
      (4L, "a b c d e f"),              // exact duplicate of 1
      (5L, ""),                         // no shingles (shorter than width)
      (6L, null.asInstanceOf[String]),  // NULL text
      (7L, "a b c a b c a b")           // internal repeats collapse to a set
    ).toDF("doc_id", "text")
    val arr = Dedup.docShingleArrays(docs, col("doc_id"), col("text"), 3)
    val sh = Dedup.docShingles(docs, col("doc_id"), col("text"), 3)
    // candidate list exercises: real overlap, zero overlap, exact dup,
    // endpoints with no shingles (empty/NULL) on either side
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (5L, 6L),
      (1L, 7L), (2L, 7L), (6L, 7L)).toDF("a", "b")
    val got = Dedup.jaccardPairsFromShingleArrays(arr, cands)
    val ref = Dedup.jaccardPairsFromShingles(sh, Some(cands))
    // the driver hash gate is schema-sensitive: types must match exactly
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)))
    assertSameRows(got, ref)
  }

  test("columnar bm25Scaled == explode-formulation reference (multi-term, ties, zero-hit docs)") {
    val docs = Seq(
      (1L, "spark spark window merge x y z"),
      (2L, "spark alone here"),
      (3L, "no hits at all in this one"),
      (4L, "window window window merge spark"),
      (5L, "merge"),
      (6L, "spark window merge spark window merge") // every term, repeated
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "window", "merge", "spark") // duplicate on purpose
    // pre-r7 reference: explode -> (id, term) tf -> df -> joins (verbatim)
    val d = docs.select(col("doc_id").as("id"), size(split(col("text"), " ")).as("dl"))
    val tot = d.agg(count(lit(1)).as("nn"), sum(col("dl")).as("ll"))
    val tf = docs.select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val reference = tf.join(broadcast(dfT), Seq("term"))
      .join(d, Seq("id"))
      .crossJoin(broadcast(tot))
      .select(col("id"),
        expr("(CAST(((nn - df) * 1000000) DIV (df + 1) AS DECIMAL(38,0)) * 44 * ll * tf)" +
          " DIV (20*ll*tf + 6*ll + 18*dl*nn)").as("contrib"))
      .groupBy("id").agg(sum(col("contrib")).cast("long").as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("id").asc)
      .limit(10)
    val got = TextOps.bm25Scaled(docs, col("doc_id"), col("text"), terms, 10)
    assert(got.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      reference.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("single-pass nodes == three-way-union reference on duplicate-heavy triples") {
    // triples with duplicate subjects/objects/predicates and a term that
    // appears in BOTH subject and object position
    def term(kind: Int, value: String) =
      struct(lit(kind).cast("byte").as("kind"), lit(value).as("value"),
        lit(null).cast("string").as("lang"), lit(null).cast("string").as("dt"))
    def litTerm(value: String, lang: String, dt: String) =
      struct(lit(RdfTerm.LITERAL).cast("byte").as("kind"), lit(value).as("value"),
        (if (lang == null) lit(null).cast("string") else lit(lang)).as("lang"),
        lit(dt).as("dt"))
    val rows = Seq(
      (term(RdfTerm.IRI, "urn:a"), "urn:p", term(RdfTerm.IRI, "urn:b")),
      (term(RdfTerm.IRI, "urn:b"), "urn:p", term(RdfTerm.IRI, "urn:a")),
      (term(RdfTerm.IRI, "urn:a"), "urn:q", litTerm("x", null, "http://www.w3.org/2001/XMLSchema#string")),
      (term(RdfTerm.IRI, "urn:a"), "urn:q", litTerm("x", "en", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")))
    val triples = rows.zipWithIndex.map { case ((s, p, o), i) =>
      spark.range(1).select(s.as("subj"), lit(p).as("pred"), o.as("obj"),
        lit("r").as("repo"), lit("f.nt").as("path"), lit("c").as("commit"),
        lit(i + 1L).as("line"))
    }.reduce(_ union _)
    // pre-r7 reference: subj/obj/pred union, nodeId per occurrence, dedup on id
    val subj = triples.select(col("subj").as("t"))
    val obj = triples.select(col("obj").as("t"))
    val pred = triples.select(
      struct(lit(RdfTerm.IRI).cast("byte").as("kind"), col("pred").as("value"),
        lit(null).cast("string").as("lang"), lit(null).cast("string").as("dt")).as("t"))
    val reference = subj.union(obj).union(pred)
      .select(graft.kg.Canonicalize.nodeId(col("t")).as("id"),
        col("t.kind").as("kind"), col("t.value").as("value"),
        col("t.lang").as("lang"), col("t.dt").as("dt"))
      .dropDuplicates("id")
    assertSameRows(Materialize.nodes(triples), reference)
  }

  test("window-round connectedComponents == brute-force components on a random graph") {
    // pseudo-random graph with cycles, chains, self-loops and isolated
    // pairs; seeds fixed so the case is reproducible
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((100L, 100L), (101L, 102L)) // self-loop-only node + isolated pair
    val e = edges.toDF("src", "dst")
    val labels = GraphOps.connectedComponents(e, "src", "dst")
    // brute force: contract with a driver-side union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(n => (n, find(n))).toMap
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("interdocSegmentDedup narrow n_total == segment-stream count reference") {
    // adversarial shapes for the per-row segment-count projection: NULL
    // text, empty text, exact multiple of n, one-past multiple, multi-
    // space runs (split keeps empty tokens), single token
    val docs = Seq(
      (1L, "a b c d e f g h i j"),            // exactly n tokens -> 1 seg
      (2L, "a b c d e f g h i j k"),          // n+1 -> 2 segs
      (3L, ""),                               // empty -> 1 "" seg
      (4L, null.asInstanceOf[String]),        // NULL -> treated as empty
      (5L, "x"),                              // single token
      (6L, "a  b   c"),                       // multi-space: empty tokens count
      (7L, ("t " * 25).trim)                  // 25 tokens -> 3 segs
    ).toDF("doc_id", "text")
    // make segment "a b c d e f g h i j" boilerplate via a duplicate doc
    val all = docs.union(Seq((8L, "a b c d e f g h i j")).toDF("doc_id", "text"))
    val out = Curation.interdocSegmentDedup(all, col("doc_id"), col("text"), n = 10)
    // reference n_total: count rows of the segment stream per doc (pre-r7)
    val ref = Curation.tokenSegments(all, col("doc_id"), col("text"), 10)
      .groupBy("id").agg(count(lit(1)).as("n_total_ref"))
    assert(out.count() == 8) // no lost ids
    // the narrow projection must equal the segment-stream count exactly
    val narrow = all.select(col("doc_id").as("id"),
      ceil(size(split(coalesce(col("text"), lit("")), " ")) / 10.0).cast("long").as("n_total"))
    assertSameRows(narrow,
      ref.select(col("id"), col("n_total_ref").as("n_total")))
  }

  test("narrow repetitionMetrics == explode-formulation reference") {
    val docs = Seq(
      (1L, "a b a b a"),             // interleaved repeats
      (2L, "x x x x"),               // one token only
      (3L, "unique tokens only here"),
      (4L, ""),                      // empty: one "" token
      (5L, null.asInstanceOf[String]), // NULL: dropped by both forms
      (6L, "a  b  a"),               // multi-space: "" tokens count too
      (7L, "z"),                     // single token
      (8L, "café café b")  // unicode repeats
    ).toDF("doc_id", "text")
    // pre-r7 reference: explode -> groupBy(id, tok) -> max -> join
    val words = split(col("text"), " ")
    val grams = TextOps.ngramArray(col("text"), 2)
    val base = docs.select(col("doc_id").as("id"), col("text").as("text"),
      size(words).as("n_tokens"),
      size(grams).as("n_2grams"),
      (size(grams) - size(array_distinct(grams))).as("n_dup_2grams"))
    val topTok = docs.select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("top_tok_count"))
    val reference = base.join(topTok, Seq("id"))
      .select(col("id"),
        when(col("n_2grams") > 0,
          floor(col("n_dup_2grams") * 1000.0 / col("n_2grams"))).otherwise(0L)
          .cast("long").as("dup_2gram_permille"),
        floor(col("top_tok_count") * 1000.0 / col("n_tokens")).cast("long")
          .as("top_token_permille"))
    assertSameRows(
      Curation.repetitionMetrics(docs, col("doc_id"), col("text")), reference)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.TestSpark

/**
 * Blanket physical-plan audit over EVERY driver query: the properties
 * that keep the engine alive at 100 TB are asserted here so a future
 * edit cannot silently reintroduce an all-pairs join or a full-width
 * scan. (VERDICT r1 found exactly such a cartesian hiding behind a
 * green correctness check.)
 */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // td_ann_topk is the documented EXACT baseline: a broadcast nested-loop
  // of a tiny query set against the corpus is its intended shape.
  // td_collocations and td_bm25 attach grand-total scalars (no-grouping
  // aggregates, <= 1 row by construction) via single-row broadcast
  // cross joins — bounded at any scale, not an all-pairs risk.
  private val allPairsAllowed = Set("td_ann_topk", "td_collocations", "td_bm25")

  test("no driver query plans a cartesian / broadcast nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      if (allPairsAllowed(name)) None
      else {
        val plan = q(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty, s"all-pairs join in: ${offenders.mkString(", ")}")
  }

  test("column pruning reaches the parquet scans") {
    // a 2-column op over the 6-column documents table must read 2 columns
    val plan = SparkEntry.queries("td_lang_id")(spark, dir)
      .queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall { s =>
      s.contains("doc_id") && s.contains("text") && s.split(",").length == 2
    }, s"unpruned scan: $readSchemas")
    // the events aggregation must not read props/user_id
    val ev = SparkEntry.queries("td_event_windows")(spark, dir)
      .queryExecution.executedPlan.toString
    val evSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(ev).map(_.group(1)).get
    assert(!evSchema.contains("props") && !evSchema.contains("user_id"), evSchema)
  }

  test("td_event_windows renders identically under any session timezone") {
    // the query must NOT mutate the session and must emit UTC strings
    // whatever the harness session tz is (r1's hash mismatch class)
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    def rows(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("td_event_windows")(s, dir)
        .orderBy("w", "event_type").collect().map(_.toSeq).toSeq
    assert(rows(spark) == rows(ny))
    assert(ny.conf.get("spark.sql.session.timeZone") == "America/New_York",
      "query must not mutate session state")
  }

  test("ANN/near-dup bucket explodes carry no vector payload") {
    // r2 shipped the full embedding on every one of the 16 exploded LSH
    // rows — a 16x vector-payload shuffle at scale. The contract: no
    // Generate (explode) node in a bucketed query may OUTPUT an
    // array<double> column; vectors join back by id after candidate dedup.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    for (name <- Seq("td_ann_lsh", "td_dedup_embedding")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val gens = plan.collect { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"$name: expected an exploding Generate node")
      gens.foreach { g =>
        val vecOut = g.output.filter(_.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })
        assert(vecOut.isEmpty,
          s"$name: Generate outputs vector column(s) ${vecOut.map(_.name).mkString(",")}")
      }
    }
  }

  test("event queries prune columns and push type filters to the scan") {
    val asof = SparkEntry.queries("td_asof_join")(spark, dir)
      .queryExecution.executedPlan.toString
    val aSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(asof).map(_.group(1)).toList
    assert(aSchemas.nonEmpty && aSchemas.forall(s => !s.contains("props")),
      s"asof reads props: $aSchemas")
    assert(asof.contains("EqualTo(event_type,"),
      "event_type filter not pushed to the parquet scan")
    val sess = SparkEntry.queries("td_sessionize")(spark, dir)
      .queryExecution.executedPlan.toString
    val sSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(sess).map(_.group(1)).toList
    assert(sSchemas.nonEmpty && sSchemas.forall(s =>
      s.contains("user_id") && s.contains("ts") && !s.contains("props") && !s.contains("value")),
      s"sessionize unpruned scan: $sSchemas")
  }

  test("constant GRAPH scope pushes to the quads parquet scan") {
    import org.apache.spark.sql.functions._
    import graft.kg.{Bgp, Sparql}
    val tmp = java.nio.file.Files.createTempDirectory("graft_quads").toString
    val n = spark.read.parquet(s"$dir/nation.parquet")
    n.select(concat(lit("n:"), col("n_nationkey")).as("subj_id"),
        lit("urn:p").as("pred"),
        concat(lit("r:"), col("n_regionkey")).as("obj_id"),
        concat(lit("urn:graph:"), col("n_regionkey") % 2).as("graph"))
      .write.mode("overwrite").parquet(s"$tmp/quads")
    val q = Sparql.run(spark.read.parquet(s"$tmp/quads"),
      "SELECT ?s ?o WHERE { GRAPH <urn:graph:0> { ?s <urn:p> ?o } }")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(graph,urn:graph:0)"),
      s"graph equality not pushed to the scan:\n$plan")
    assert(q.count() === 15) // regions 0,2,4 -> 3 of 5 region keys x 5 nations
    // variable graph binds the raw column
    val g = Sparql.run(spark.read.parquet(s"$tmp/quads"),
      "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s <urn:p> ?o } } GROUP BY ?g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g === Map("urn:graph:0" -> 15L, "urn:graph:1" -> 10L))
  }

  test("bucketed edges: subject self-join plans with NO Exchange") {
    // saveBucketedEdges claims write-time clustering converts repeated
    // subject-traversal shuffles into none; prove it on the physical plan.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // materializes the bucketed table as a side effect
    SparkEntry.queries("kg_bucketed_traversal")(s2, dir).collect()
    val t = s2.table("graft_edges_bucketed")
    val j = t.as("a").join(t.as("b"), "subj_id")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("Exchange"),
      s"bucketed subject self-join still shuffles:\n${plan.take(1200)}")
  }

  test("BGP star patterns over the bucketed edges table join without Exchange") {
    // the F1 operator composed with the E7 layout: every pattern of a
    // star BGP keys its join on subj_id, so over the bucketed table the
    // whole match is shuffle-free — the property that makes repeated
    // KG-pattern queries viable at 100 TB.
    import graft.kg.Bgp
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries("kg_bucketed_traversal")(s2, dir).collect() // materializes the table
    val t = s2.table("graft_edges_bucketed")
    val plan = Bgp.matchPatterns(t, Seq(
      Bgp.TriplePattern(Bgp.V("e"), Bgp.C("urn:col:nation:n_name"), Bgp.V("name")),
      Bgp.TriplePattern(Bgp.V("e"), Bgp.C("urn:col:nation:n_regionkey"), Bgp.V("rk"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("Exchange"),
      s"bucketed star BGP still shuffles:\n${plan.take(1200)}")
  }

  test("BGP reorder puts the selective pattern at the head of the join tree") {
    // kg_bgp_reorder lists the unselective source pattern FIRST; the
    // greedy join-order selection must still make the 2-constant lang
    // pattern the first (left) join input — with broadcast + AQE off the
    // physical join tree mirrors the fold order, and the left subtree
    // prints first, so the lang pattern's object-constant filter must
    // appear BEFORE the source pattern's pred-only filter in the plan.
    import graft.kg.Bgp
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = SparkEntry.queries("kg_bgp_reorder")(s2, dir)
      .queryExecution.executedPlan.toString
    val enId = Bgp.litId("en")
    val iSelective = plan.indexOf(enId)
    val iUnselective = plan.indexOf("urn:col:documents:source")
    assert(iSelective >= 0 && iUnselective >= 0, plan.take(1200))
    assert(iSelective < iUnselective,
      s"selective lang pattern is not the first join input:\n${plan.take(1500)}")
  }

  test("latest-state compaction plans a per-key top-1, not a full sort") {
    // row_number + filter(=1) must plan as WindowGroupLimit (rank limit
    // pushed below the window sort) so per-key state is O(1), and the
    // scan must not read the JSON props column it never uses.
    val plan = SparkEntry.queries("td_latest_state")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(schemas.nonEmpty && schemas.forall(!_.contains("props")),
      s"latest_state reads props: $schemas")
  }

  test("JSON props stats shuffle (group, long) rows, never the JSON strings") {
    // the get_json_object projection and partial aggregation must both
    // sit below the exchange: the only Exchange input is the hash-agg
    // over (event_type, extracted long), 2-column scan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false") // expose raw Exchanges
    val plan = SparkEntry.queries("td_json_props")(s2, dir)
      .queryExecution.executedPlan
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan.toString).map(_.group(1)).toList
    assert(schemas.nonEmpty && schemas.forall(s =>
      s.contains("event_type") && s.contains("props") && s.split(",").length == 2),
      s"json_props unpruned scan: $schemas")
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "props"),
        s"JSON column crosses the shuffle: ${e.child.output.map(_.name)}")
    }
  }

  test("resume anti-join broadcasts the manifest side") {
    val plan = SparkEntry.queries("kg_resume_antijoin")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(500))
  }

  test("driver tables read with their known schemas: building the frame runs no job") {
    // the named schemas are the inferred ones, so no column type changes
    Seq("nation" -> SparkEntry.NationSchema, "documents" -> SparkEntry.DocumentsSchema,
      "embeddings" -> SparkEntry.EmbeddingsSchema).foreach { case (t, schema) =>
      assert(spark.read.parquet(s"$dir/$t.parquet").schema == schema, t)
    }
    val trace = new CostTrace(spark.sparkContext)
    try {
      // with the nation queries whose frame runs no other job (the path
      // closures, fixpoints and shares run theirs while it is built)
      val names = Seq("kg_parse_documents", "kg_nodes", "kg_edges", "td_fingerprint",
        "td_dedup_simhash", "td_ann_topk", "kg_skolemize", "kg_resume_antijoin",
        "kg_graph_degrees", "kg_bgp_path", "kg_bgp_optional", "kg_er_blocks",
        "kg_property_table_multi", "kg_bgp_path_negopt", "kg_bgp_path_seq",
        "kg_sparql_group_concat")
      names.foreach(n => trace.span(n)(SparkEntry.queries(n)(spark, dir)))
      val built = trace.spans.map(s => s.name -> trace.cost(s).jobs).toMap
      assert(built == names.map(_ -> 0).toMap)
    } finally trace.close()
  }

  test("typed parse and the line-per-row file source plan as the ParseNtLines generator") {
    // one Spark parse route: a typed mapPartitions route would show up as
    // MapPartitions over DeserializeToObject'd corpus rows
    val files = java.nio.file.Files.createTempDirectory("graft-plan-parse")
    java.nio.file.Files.writeString(files.resolve("a.nt"), "<a:b> <c:d> \"x\" .\n")
    Seq(
      "TripleExtract.parse" -> kg.TripleExtract.parse(kg.NtFileSource.documents(spark, s"$files/*.nt")),
      "NtFileSource.parseLines" -> kg.NtFileSource.parseLines(spark, s"$files/*.nt")
    ).foreach { case (name, parsed) =>
      val plan = parsed.queryExecution.executedPlan.toString
      assert(plan.contains("Generate") && !plan.contains("MapPartitions") &&
        !plan.contains("DeserializeToObject"), s"$name:\n$plan")
    }
  }

  test("SPARQL ORDER BY + LIMIT plans as TakeOrderedAndProject, not a global sort") {
    // per-partition top-k then one merge — the only slice shape that
    // survives a 100 TB input; a global Sort before the limit would be
    // a full-data shuffle for 7 rows.
    val plan = SparkEntry.queries("kg_sparql_orderby")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(900))
    assert(!plan.contains("rangepartitioning"),
      s"global range-partitioned sort in the modifier slice:\n${plan.take(1200)}")
    // an EXPRESSION key gets the same per-partition top-k — the
    // computed column must not force a global sort
    val exprPlan = SparkEntry.queries("kg_sparql_order_expr")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(exprPlan.contains("TakeOrderedAndProject"), exprPlan.take(900))
    assert(!exprPlan.contains("rangepartitioning"),
      s"global sort under an ORDER BY expression:\n${exprPlan.take(1200)}")
  }

  test("SPARQL VALUES joins the inline rows broadcast, bindings side unshuffled") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val qe = SparkEntry.queries("kg_sparql_values")(s2, dir).queryExecution
    val plan = qe.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin") &&
      plan.toString.contains("LeftSemi"), plan.toString.take(900))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"VALUES selection shuffles the bindings:\n${plan.toString.take(1200)}")
  }

  test("scale-critical queries stay within their shuffle budgets") {
    // Broad plan-regression tripwire: every Exchange is a full
    // rehash+respill of the stage's data at 100 TB, so a silent extra
    // shuffle (a lost broadcast, a new repartition, an optimizer rule
    // stopped firing) is a scale bug even while correctness stays green.
    // Budgets are the counts measured at the time each query's plan was
    // last reviewed (AQE off to expose raw Exchanges; frames behind a
    // Share were audited when their operators landed).
    // r7 re-audit: the optimization round re-measured every count and
    // PINNED THE LOWER NUMBERS where shuffles were removed (columnar
    // bm25, per-doc shingle distinct, distinct-before-hash nodes,
    // checkpoint-shared aggregates) so a regression back to the old
    // plans fails here, not in the next driver bench.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val budgets = Map(
      "kg_nodes" -> 2, "kg_edges" -> 1, "kg_salted_edges" -> 3,
      "td_dedup_exact" -> 3, "td_dedup_minhash_lsh" -> 2,
      "td_dedup_jaccard" -> 0, "td_dedup_simhash" -> 2,
      "td_sessionize" -> 2, "td_asof_join" -> 3, "td_quota_sample" -> 3,
      "td_seq_pack" -> 3, "td_sketch_distinct" -> 3,
      "td_sketch_countmin" -> 2, "td_inverted_index" -> 2,
      "td_ngram_topk" -> 2, "td_interdoc_dedup" -> 4,
      "td_salient_terms" -> 2, "td_split_leakfree" -> 4,
      // r7 third pass: array-intersect verify — the visible plan is the
      // two id equi-joins + CC's outer frame; jaccard itself stays 0
      "td_dup_clusters" -> 2,
      "td_repetition" -> 1, // the fanOut small-input repartition; the operator itself is narrow
      "kg_property_table" -> 2, "kg_bgp_match" -> 0, "td_bm25" -> 1,
      "kg_rdfs_closure" -> 1, "kg_entity_resolution" -> 3,
      // r5 SPARQL layer: FILTER/UNION/alt/parse/VALUES are pure
      // selections or concats over broadcast-joined patterns (0);
      // MINUS pays exactly its anti-side dedup; the aggregates pay
      // their one group-by shuffle (2 for COUNT DISTINCT's two-phase
      // expand plan); ORDER BY+LIMIT adds NO shuffle on top of the agg
      // (TakeOrderedAndProject, pinned below)
      "kg_bgp_filter" -> 0, "kg_bgp_minus" -> 1, "kg_bgp_union" -> 0,
      "kg_bgp_path_seq" -> 0,
      // the zero-length-path forms pay exactly the graph-identity
      // distinct (their closure legs hide behind transitiveClosure's
      // shared rounds); the pattern joins themselves broadcast
      "kg_bgp_path_star" -> 1, "kg_bgp_path_negopt" -> 1,
      "kg_bgp_alt" -> 0, "kg_sparql_parse" -> 0, "kg_sparql_agg" -> 2,
      "kg_sparql_orderby" -> 1, "kg_sparql_values" -> 0,
      "kg_sparql_group_concat" -> 1, "kg_property_table_multi" -> 1,
      // ASK's one Exchange is the GlobalLimit(1) single-partition
      // gather ABOVE per-partition LocalLimit(1) — it moves at most one
      // row per partition, the price of a first-match probe instead of
      // a full-scan count; CONSTRUCT pays exactly its graph-set distinct
      "kg_sparql_ask" -> 1, "kg_sparql_construct" -> 1,
      // composition: the inline ER pipeline (3, = kg_entity_resolution)
      // + the (id,canonical) mapping build join + two |E|-sized endpoint
      // rewrite joins (both sides exchange under SMJ with AQE off) + the
      // merged-graph set-dedup — a global rewrite rightfully costs the
      // same shuffle class as the materialization that built the edges
      "kg_sameas_rewrite" -> 9,
      // value-space FILTER pays exactly one nodes-table equi-join per
      // numeric variable (SMJ exchange with AQE off; broadcasts under
      // AQE — the Explain dump shows zero shuffles); EXISTS/NOT EXISTS
      // pay their semi+anti probe joins and nothing else
      "kg_bgp_typed_filter" -> 0, "kg_sparql_exists" -> 2,
      "kg_sparql_typed_filter" -> 0,
      // string-space FILTER rides the SAME single bindValues join the
      // numeric space pays (all functions read one ?c term struct);
      // SUM/AVG pay the ?p bind join + the one hash-agg group-by
      // shuffle; DESCRIBE pays the described-id distinct + the
      // edges semi-join (the graph-set distinct reuses the semi-join's
      // partitioning)
      "kg_sparql_strfilter" -> 0, "kg_sparql_sum_avg" -> 1,
      "kg_sparql_describe" -> 2,
      // BIND is a pure projection: each query pays ONLY its variables'
      // term joins (?p+?c / ?c / ?c / ?s+?l) plus, for bind_group, the
      // one hash-agg group-by shuffle — the computed columns themselves
      // never shuffle
      "kg_sparql_bind" -> 0, "kg_sparql_bind_str" -> 0,
      "kg_sparql_bind_group" -> 1, "kg_sparql_regex" -> 0,
      // subquery: the inner hash-agg group-by shuffle + the
      // aggregate-then-join back onto the docs (SMJ, both sides
      // exchange with AQE off; the dimension-sized agg side broadcasts
      // under AQE)
      "kg_sparql_subquery" -> 1,
      // HAVING SUM: the ?p term join + the one group-by hash-agg
      // shuffle — the HAVING aggregate rides the same pass
      "kg_sparql_having" -> 1,
      // r6 surface (pinned from the audited plans, AQE off): every
      // non-aggregating query is ZERO-shuffle — term joins and pattern
      // joins broadcast over the shared frames, VALUES-with-UNDEF
      // and IN compile to pushed filters, closure legs live behind
      // transitiveClosure's shared rounds, the order-expression
      // top-k is per-partition; the four aggregating queries pay
      // exactly their one group-by hash-agg shuffle
      "kg_sparql_datefns" -> 0, "kg_bgp_path_deep" -> 0,
      "kg_sparql_hashfns" -> 0, "kg_sparql_sameterm" -> 0,
      "kg_sparql_cast" -> 0, "kg_sparql_from" -> 1,
      "kg_sparql_order_expr" -> 0, "kg_sparql_values_undef" -> 0,
      "kg_sparql_group_expr" -> 1, "kg_sparql_strdt" -> 0,
      "kg_sparql_bnode" -> 0, "kg_sparql_minmax" -> 1,
      "kg_sparql_union_mixed" -> 0, "kg_sparql_if_in_lang" -> 0,
      "kg_sparql_datefilter" -> 0, "kg_sparql_graph" -> 1,
      "kg_sparql_order_value" -> 0, "kg_sparql_predvar" -> 0,
      "kg_bgp_path_nested" -> 0)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    val over = budgets.toSeq.sortBy(_._1).flatMap { case (name, budget) =>
      val n = SparkEntry.queries(name)(s2, dir).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
      if (n > budget) Some(s"$name: $n > $budget") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded — audit the plan before raising: ${over.mkString("; ")}")
  }

  test("heavy queries execute exactly their pinned shuffle-writing stages") {
    // The budgets above read the visible top plan; this gate counts what
    // executes over the whole query lambda plus one noop write, in the
    // shared session (AQE on): the shuffle-map stages a
    // Share runs at call time and every fixpoint round's
    // jobs included. Pins are exact, so a removed stage must be re-pinned
    // as deliberately as an added one.
    val pinned = Seq(
      "td_split_leakfree" -> 21, "td_dup_clusters" -> 19,
      "kg_entity_resolution" -> 17, "kg_bgp_path_deep" -> 8,
      "td_dedup_jaccard" -> 5, "td_dedup_minhash_lsh" -> 5,
      "td_bm25" -> 3, "kg_sparql_bind" -> 2)
    val trace = new CostTrace(spark.sparkContext)
    val got = try pinned.map { case (name, _) =>
      trace.span(name) {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      name -> trace.cost(trace.spans.last).shuffleStages
    } finally trace.close()
    assert(got == pinned)
  }
}

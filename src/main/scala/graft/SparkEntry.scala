package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.kg._
import graft.ops._

/**
 * Driver contract: one query per implemented operator (SURVEY.md §2 +
 * the training-data ops), each with an equivalent DuckDB oracle in
 * `oracleSql` (same column names — the driver hash-compares columns
 * sorted by name).
 *
 * Table-derived corpora keep the KG pipeline DuckDB-checkable: parquet
 * rows are serialized to N-Triples text in Spark, pushed through the real
 * parse kernel, and the oracle reconstructs the expected output
 * relationally from the same parquet.
 */
object SparkEntry {

  private val XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

  // the driver tables' schemas, as parquet inference types them: a named
  // schema skips the footer job a schema-less read runs
  private[graft] val NationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))
  private[graft] val DocumentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private[graft] val EmbeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  // ---------- corpora ------------------------------------------------------

  private def nation(s: SparkSession, dir: String): DataFrame =
    s.read.schema(NationSchema).parquet(s"$dir/nation.parquet")

  /** The path gates' graph over the nation keys: `up` edges k -> k/2 (a
    * binary tree rooted at 0) and a `peer` ring k -> k+1 mod 25. */
  private def nationUpPeer(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir)
    val nk = col("n_nationkey").cast("long")
    val up = n.filter(nk >= 1).select(
      nk.cast("string").as("subj_id"), lit("up").as("pred"),
      (nk / 2).cast("long").cast("string").as("obj_id"))
    val peer = n.select(
      nk.cast("string").as("subj_id"), lit("peer").as("pred"),
      ((nk + 1) % 25).cast("string").as("obj_id"))
    up.union(peer)
  }

  private def nationCorpus(s: SparkSession, dir: String): Dataset[CorpusRow] =
    Corpus.fromTable(fanOut(s, nation(s, dir)),
      "nation", "n_nationkey",
      Seq("n_name" -> col("n_name"), "n_regionkey" -> col("n_regionkey")))

  private def documentsCorpus(s: SparkSession, dir: String): Dataset[CorpusRow] =
    Corpus.fromTable(docs(s, dir), "documents", "doc_id",
      Seq("text" -> col("text"), "lang" -> col("lang"), "source" -> col("source")))

  private def inlineCorpus(s: SparkSession, rows: Seq[(String, String, String)]): Dataset[CorpusRow] = {
    import s.implicits._
    rows.map { case (path, lang, content) =>
      CorpusRow("inline", path, Corpus.FixedCommit, lang, content)
    }.toDS()
  }

  /** Corpus -> triples through the ParseNtLines generator, the one Spark
    * parse route (no object-serde boundary in the hot path). The
    * error/lenient/metrics gates call its typed view TripleExtract.parse,
    * which plans as the same GenerateExec. */
  private[graft] def parsedTriples(c: Dataset[CorpusRow]): DataFrame =
    TripleExtract.assembleTriples(TripleExtract.parseExpr(c.toDF()))

  /** Parsed, skolemized and canonicalized: the linked triples of a corpus. */
  private[graft] def linked(c: Dataset[CorpusRow]): DataFrame =
    Canonicalize(Skolemize(parsedTriples(c)))

  /** The linked edges of a corpus, shared: the BGP/SPARQL gates scan them
    * once per pattern, so the parse and the three sha256 ids run once. */
  private def linkedEdges(c: Dataset[CorpusRow]): DataFrame =
    Share(Materialize.edges(linked(c)))

  /**
   * Small-input parallelism guard: a few-MB parquet is one row group and
   * parquet cannot split below row-group boundaries, so every narrow
   * per-row stage downstream runs on ONE core no matter the cluster —
   * at sf0.1 this single-threaded the whole dedup/text-op map side.
   * When (and only when) the scan under-parallelizes, fan out once; at
   * real scale inputs carry natural splits and this is a no-op.
   */
  private def fanOut(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /**
   * Shared streaming-replay scaffold for the event-stream gates: write
   * `src` as ONE parquet file — a single micro-batch, because replaying
   * unordered multi-file sources in several batches makes genuinely-old
   * rows late against watermarks advanced by earlier batches (correct
   * production watermark semantics, but NOT the deterministic
   * batch-equivalence these oracles pin) — run `build` on the file
   * stream into a memory sink with AvailableNow, return the sink table.
   * (kg_stream_parity / kg_stream_dedup intentionally keep their own
   * scaffold: they exercise the parquet sink + checkpoint path.)
   */
  private def replayToTable(s: SparkSession, src: DataFrame, name: String,
                            mode: String)(build: DataFrame => DataFrame): DataFrame = {
    val base = tempWorkDir("graft_replay").toString
    src.coalesce(1).write.mode("overwrite").parquet(s"$base/src")
    val stream = s.readStream.schema(src.schema).parquet(s"$base/src")
    build(stream).writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.table(name)
  }

  /**
   * Per-run temp scaffolding dir with a shutdown-hook recursive delete:
   * the stream/codec gates write full parquet/nt copies of the test corpus
   * there, and plain createTempDirectory would leak them across repeated
   * Verify/test runs (File.deleteOnExit cannot remove non-empty dirs).
   */
  private val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())

  // ONE hook draining a shared list: a hook per call would accumulate
  // threads unboundedly across repeated query builds in a long-lived JVM
  // (and addShutdownHook throws if a query is ever built during shutdown)
  private lazy val tempDirHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(): Unit
      }
      tempDirs.forEach(rm(_))
    }))
    true
  }

  private def tempWorkDir(prefix: String): java.io.File = {
    require(tempDirHookInstalled)
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    fanOut(s, s.read.schema(DocumentsSchema).parquet(s"$dir/documents.parquet"))

  /**
   * Parse -> skolemize -> canonicalize -> materialize for the SPARQL
   * gates, returning the ID-SPACE (edges, nodes) pair with BOTH
   * relations shared — not just the term-struct triples. A BGP scans the
   * edge relation once per pattern and every bindValues join reads the
   * nodes relation, so sharing only the triples made each of those scans
   * re-derive sha2(concat(CASE...)) node ids for every row (r5 verdict
   * #1: kg_sparql_bind read 6.36 s where its sibling read 0.63 s). The
   * shared triples keep the corpus parse single-pass across the two
   * relations.
   */
  private[graft] def sparqlGraph(c: Dataset[CorpusRow]): (DataFrame, DataFrame) = {
    val t = Share(linked(c))
    (Share(Materialize.edges(t)), Share(Materialize.nodes(t)))
  }

  /** The orders table as typed N-Triples (custkey as xsd:long, totalprice
    * as xsd:double): the corpus of the numeric SPARQL gates. */
  private[graft] def ordersCorpus(s: SparkSession, dir: String): Dataset[CorpusRow] = {
    val XSD = "http://www.w3.org/2001/XMLSchema#"
    Corpus.fromTableTyped(fanOut(s, s.read.parquet(s"$dir/orders.parquet")), "orders",
      "o_orderkey", Seq(
        ("o_custkey", col("o_custkey"), s"${XSD}long"),
        ("o_totalprice", col("o_totalprice"), s"${XSD}double")))
  }

  private def embs(s: SparkSession, dir: String): DataFrame =
    fanOut(s, s.read.schema(EmbeddingsSchema).parquet(s"$dir/embeddings.parquet"))

  // ---------- flagship -----------------------------------------------------

  def entry(spark: SparkSession): DataFrame =
    queries("kg_entry_graph")(spark, "/root/testdata/sf0.001")

  // ---------- queries ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/E1-E3, B1-B6: table -> NT docs -> parse kernel -> triples
    "kg_parse_nation" -> ((s, dir) => {
      parsedTriples(nationCorpus(s, dir))
        .select(col("subj.value").as("subj"), col("pred"), col("obj.value").as("obj"))
    }),

    "kg_parse_documents" -> ((s, dir) => {
      parsedTriples(documentsCorpus(s, dir))
        .select(col("subj.value").as("subj"), col("pred"), col("obj.value").as("obj"))
    }),

    // A2 (transparent gzip) through the driver gate: the nation corpus is
    // written to one REAL .nt.gz (test scaffolding — a metadata-sized
    // collect, like the PNG synthesis in td_multimodal) and parsed back
    // through the codec-decompressing file source. Oracle = kg_parse_nation.
    "kg_parse_gzip" -> ((s, dir) => {
      val rows = nationCorpus(s, dir).collect().sortBy(_.path)
      // per-run temp dir: a fixed shared path would let two concurrent
      // runs (e.g. Verify + a test suite) interleave writes into one file
      val d = tempWorkDir("graft_gzip_src")
      val f = new java.io.File(d, "nation.nt.gz")
      val out = new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
      try rows.foreach { r => out.write(r.content); out.write("\n") }
      finally out.close()
      parsedTriples(NtFileSource.documents(s, f.getAbsolutePath))
        .select(col("subj.value").as("subj"), col("pred"), col("obj.value").as("obj"))
    }),

    // A2 parity for the OTHER codec the reference's Loader sniffs
    // (Loader.scala:76-129 handles gzip AND bzip2): same corpus through a
    // real .nt.bz2 file and the suffix-driven Hadoop codec path.
    "kg_parse_bz2" -> ((s, dir) => {
      val rows = nationCorpus(s, dir).collect().sortBy(_.path)
      val d = tempWorkDir("graft_bz2_src")
      val f = new java.io.File(d, "nation.nt.bz2")
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(s.sparkContext.hadoopConfiguration)
      val out = new java.io.OutputStreamWriter(
        codec.createOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
      try rows.foreach { r => out.write(r.content); out.write("\n") }
      finally out.close()
      parsedTriples(NtFileSource.documents(s, f.getAbsolutePath))
        .select(col("subj.value").as("subj"), col("pred"), col("obj.value").as("obj"))
    }),

    // A5 charset surface (reference Loader.scala:34-44 takes arbitrary
    // codecs): a REAL ISO-8859-1 file — whose bytes are NOT valid UTF-8 —
    // through binaryFile + decode, then the parse kernel.
    "kg_parse_charset" -> ((s, dir) => {
      val d = tempWorkDir("graft_charset_src")
      val f = new java.io.File(d, "latin1.nt")
      val content =
        "<urn:city:1> <urn:p:name> \"Zürich\" .\n" +
        "<urn:city:2> <urn:p:name> \"café\" .\n" +
        "<urn:city:3> <urn:p:name> \"Ångström\" .\n"
      java.nio.file.Files.write(f.toPath,
        content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      parsedTriples(NtFileSource.documentsWithCharset(s, f.getAbsolutePath, "ISO-8859-1"))
        .select(col("line"), col("subj.value").as("subj"), col("obj.value").as("name"))
    }),

    // E6 (skew salting) through the driver gate: saltedRepartition must
    // be value-INVARIANT — per-subject edge counts after the salted
    // exchange equal the plain relational aggregate (partition balance
    // itself is spec-asserted; this proves no row is lost or duplicated)
    "kg_salted_edges" -> ((s, dir) => {
      val e = Materialize.edges(linked(nationCorpus(s, dir)))
      Materialize.saltedRepartition(e, col("subj_id"),
        saltFrom = Seq(col("repo"), col("path"), col("commit"), col("line")),
        salts = 16, numPartitions = s.sessionState.conf.numShufflePartitions)
        .groupBy("subj_id").agg(count(lit(1)).as("n_edges"))
    }),

    // B25/C3/C5: error rows with exact reference-format messages
    "kg_parse_errors" -> ((s, dir) => {
      val corpus = inlineCorpus(s, Seq(
        ("err1.nt", "nt",
          "<a:b> <c:d> <e:f> .\n" +
          "@prefix x: <y> .\n" +
          "<s> <p:q> \"v\" .\n" +
          "<a:b> <c:d> \"x\"@1 .\n" +
          "<a:b> <c:d> <e:f> ,")))
      TripleExtract.errors(TripleExtract.parse(corpus)).toDF()
        .select(col("path"), col("line"), col("charPos").as("char_pos"), col("message"))
    }),

    // B7-B8, B16-B21: IRI/literal escape grammar through the kernel
    "kg_grammar_escapes" -> ((s, dir) => {
      val corpus = inlineCorpus(s, Seq(
        ("esc.nt", "nt",
          "<http://ex.org/%41> <p:a> \"A\\u0042C\" .\n" +
          "<u:\\U00010332x> <p:b> \"tab\\there\" .\n" +
          "<t:%B2t> <p:c> \"nl\\nnl\" .\n" +
          "_:1a <p:d> \"q\\\"w\\\\e\\'r\" .\n" +
          "<a:b> <p:e> \"v\"@en-US .\n" +
          "<a:b> <p:f> \"123\"^^<x:int> .")))
      parsedTriples(corpus).select(
        col("line"),
        col("subj.kind").cast("int").as("skind"), col("subj.value").as("subj"),
        col("pred"),
        col("obj.value").as("obj"), col("obj.lang").as("lang"), col("obj.dt").as("dt"))
    }),

    // C1/B12: lenient long literals (+ strict/lenient mode split)
    "kg_lenient_long_literals" -> ((s, dir) => {
      val corpus = inlineCorpus(s, Seq(
        ("len.nt", "nt-lenient",
          "<a:b> <p:q> \"\"\"multi \"quoted\" text\"\"\" .\n" +
          "<a:b> <p:q> \"\"\"tagged\"\"\"@en .\n" +
          "bad line here\n" +
          "<a:b> <p:q> \"short still works\" ."),
        ("strict.nt", "nt",
          "<a:b> <p:q> \"plain\" .")))
      val parsed = TripleExtract.parse(corpus)
      TripleExtract.triples(parsed).toDF().select(
        col("path"), col("line"), col("obj.value").as("obj"), col("obj.lang").as("lang"))
    }),

    // B12 corpus-level: lenient multi-line long literals — the statement
    // window extends across physical lines while a """...""" literal is
    // open; statements keep their FIRST physical line number
    "kg_lenient_multiline" -> ((s, dir) => {
      // adv.nt is the O(window) adversary for the long-literal scanner: a
      // 50k-line open literal where EVERY line ends in \""" — an escaped
      // quote immediately followed by two quotes, the pattern that made a
      // naive rescan-per-line scanner O(n^2) (LongLitScan is escape-exact
      // and scans each char once; a quadratic regression here would blow
      // the gate's runtime, so the bound is driver-protected, not just
      // spec-protected)
      val advLines = 50000
      val adv = "<a:b> <p:q> \"\"\"\n" + ("x\\\"\"\"\n" * advLines) + "end\"\"\" ."
      val corpus = inlineCorpus(s, Seq(
        ("ml.nt", "nt-lenient",
          "<a:b> <p:q> \"\"\"multi\nline \"quoted\"\ntext\"\"\" .\n" + // lines 1-3
          "<a:b> <p:q> \"\"\"tag\nged\"\"\"@en .\n" +                  // lines 4-5
          "bad line\n" +                                                // line 6
          "<a:b> <p:q> \"last\" ."),                                    // line 7
        ("adv.nt", "nt-lenient", adv)))
      val parsed = TripleExtract.parse(corpus)
      TripleExtract.triples(parsed).toDF().select(
        col("path"), col("line"), col("obj.value").as("obj"), col("obj.lang").as("lang"))
    }),

    // E4: scoped bnode skolemization (sha256(repo|commit|path|label))
    "kg_skolemize" -> ((s, dir) => {
      import s.implicits._
      val corpus = nation(s, dir).select(
        lit("synthetic/bnodes").as("repo"),
        concat(lit("bn/"), col("n_nationkey").cast("string"), lit(".nt")).as("path"),
        lit(Corpus.FixedCommit).as("commit"),
        lit("nt").as("lang"),
        concat(lit("_:b <urn:p:name> \""), Corpus.escapeLiteralCol(col("n_name")),
          lit("\" .\n_:b <urn:p:self> _:b .")).as("content")).as[CorpusRow]
      Skolemize(parsedTriples(corpus))
        .select(col("path"), col("line"), col("subj.value").as("skolem_subj"))
    }),

    // E5: IRI canonicalization
    "kg_canonicalize" -> ((s, dir) => {
      val corpus = inlineCorpus(s, Seq(
        ("canon.nt", "nt",
          "<HTTP://Example.COM:80/Path?Q=1> <p:q> \"1\" .\n" +
          "<https://EXAMPLE.com:443/x> <p:q> \"1\" .\n" +
          "<https://example.com:8443/x> <p:q> \"1\" .\n" +
          "<URN:ISBN:123> <p:q> \"1\" .\n" +
          "<http://example.com/CaseKept> <p:q> \"1\" .")))
      Canonicalize(parsedTriples(corpus)).select(col("line"), col("subj.value").as("canon"))
    }),

    // E7/D1: nodes table (distinct terms with sha256 ids)
    "kg_nodes" -> ((s, dir) => {
      Materialize.nodes(linked(nationCorpus(s, dir)))
        .select(col("id"), col("kind").cast("int").as("kind"), col("value"), col("lang"), col("dt"))
    }),

    // E7: edges table (node ids + lineage line numbers)
    "kg_edges" -> ((s, dir) => {
      Materialize.edges(linked(nationCorpus(s, dir)))
        .select(col("subj_id"), col("pred"), col("obj_id"), col("line"))
    }),

    // E8: manifest anti-join resume shape
    "kg_resume_antijoin" -> ((s, dir) => {
      import s.implicits._
      val withBucket = nation(s, dir)
        .select((col("n_nationkey") % 8).as("bucket"),
          concat(lit("nation/"), col("n_nationkey").cast("string"), lit(".nt")).as("path"))
      val manifest = Seq(0L, 1L).toDF("bucket")
      withBucket.join(broadcast(manifest), Seq("bucket"), "left_anti")
        .select(col("bucket").cast("long").as("bucket"), col("path"))
    }),

    // E2/E9: per-document metrics + the content sha256 invariant
    "kg_metrics_sha" -> ((s, dir) => {
      val corpus = nationCorpus(s, dir)
      Materialize.metrics(corpus.toDF(), TripleExtract.parse(corpus).toDF())
        .select(col("path"), col("content_sha256"), col("n_triples"), col("n_errors"))
    }),

    // D3: canonical n3 re-serialization
    "kg_n3" -> ((s, dir) => {
      parsedTriples(nationCorpus(s, dir))
        .select(Canonicalize.n3Statement(col("subj"), col("pred"), col("obj")).as("n3"))
    }),

    // flagship: full parse -> skolemize -> canonicalize -> edges -> agg
    "kg_entry_graph" -> ((s, dir) => {
      val corpus = nationCorpus(s, dir).union(documentsCorpus(s, dir))
      val edges = Materialize.edges(linked(corpus))
      edges.groupBy("pred").agg(count(lit(1)).as("n_edges"),
        countDistinct(col("subj_id")).as("n_subjects"))
    }),

    // B9/B22-B24: bnode label charset + minimal whitespace
    "kg_grammar_minimal_ws" -> ((s, dir) => {
      val corpus = inlineCorpus(s, Seq(
        ("minws.nt", "nt",
          "<a:b><c:d><e:f>.\n" +
          "<a:b><c:d>\"lit\".\n" +
          "_:s9<c:d>_:1a.\n" +
          "\t <a:b>\t<c:d> \"pad\"  . # trailing")))
      parsedTriples(corpus).select(
        col("line"), col("subj.kind").cast("int").as("skind"),
        col("subj.value").as("subj"), col("obj.kind").cast("int").as("okind"),
        col("obj.value").as("obj"))
    }),

    // SQL surface: the same kernel through LATERAL VIEW parse_nt(...)
    "kg_sql_lateral_parse" -> ((s, dir) => {
      GraftFunctions.register(s)
      nationCorpus(s, dir).createOrReplaceTempView("corpus_v")
      s.sql(
        """SELECT path, p.line, p.subj, p.pred, p.obj
          |FROM corpus_v
          |LATERAL VIEW parse_nt(content, lang) p
          |WHERE NOT p.err""".stripMargin)
    }),

    // windowed temporal aggregation over the events stream table.
    // The parquet `ts` is a NAIVE timestamp (isAdjustedToUTC=false), so a
    // plain TimestampType read shifts the instant by the SESSION timezone
    // — the r1 hash-mismatch class, and a latent dependency on harness
    // config. Casting to timestamp_ntz recovers the stored naive value
    // identically under ANY session tz (and matches DuckDB, which reads
    // the column naive); windowing and rendering then never touch a
    // timezone. The decimal sum is emitted as a fixed-scale string.
    "td_event_windows" -> ((s, dir) => {
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      ev.groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("svd"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:00").as("w"),
          col("event_type"), col("n"), col("svd").cast("string").as("sv"))
    }),

    // ---- training-data ops ------------------------------------------------

    "td_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val withDups = d.union(
        d.filter(col("doc_id") % 10 === 0).select(col("doc_id") + 100000, col("text")))
      Dedup.exactGroups(withDups, col("doc_id"), col("text"))
    }),

    "td_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.lshCandidates(docs(s, dir), col("doc_id"), col("text"))),

    // the scalable two-stage shape: LSH candidates -> exact verify
    "td_dedup_jaccard" -> ((s, dir) =>
      Dedup.nearDupPairs(docs(s, dir), col("doc_id"), col("text"))),

    "td_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash16(docs(s, dir), col("doc_id"), col("text"))),

    // bucketed two-stage near-dup (LSH candidates -> exact cosine verify);
    // the oracle reconstructs the SAME hyperplane buckets in DuckDB
    // (portable sha256 coefficients), so the check is bit-exact on the
    // production plan — r1's all-pairs cartesian is gone
    "td_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDups(embs(s, dir), col("vec_id"), col("embedding"), 0.40, dims = 64)),

    "td_ann_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
    }),

    // scale-path ANN: LSH buckets. Approximate vs brute force but
    // DETERMINISTIC as a function (portable sha256 hyperplanes, fold-order
    // cosine), so since r3 it is hash-checked: the oracle reconstructs the
    // same 16x4 buckets, candidate set, and ranking in DuckDB
    "td_ann_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10, dims = 64)
    }),

    // second scale path: IVF cells with deterministic centroids (the
    // embeddings of vec_id < 16) — the whole probe pipeline is exactly
    // reproducible in DuckDB, so unlike LSH ANN this one is hash-checked
    "td_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      val centroids = e.filter(col("vec_id") < 16)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .collect() // 16 x 64 doubles: coarse-quantizer metadata, not data
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
        .toSeq
      Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 10, centroids = centroids, nprobe = 4)
    }),

    // IVF with the production centroid recipe: 2 deterministic Lloyd's
    // iterations from the first-16 seed (scaled-integer means make the
    // centroids bit-identical cross-engine — Similarity.kmeansCentroids),
    // then the same hash-exact probe pipeline as td_ann_ivf
    "td_ann_ivf_kmeans" -> ((s, dir) => {
      val e = embs(s, dir)
      val init = e.filter(col("vec_id") < 16)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
        .toSeq
      val centroids = Similarity.kmeansCentroids(e, col("embedding"), init, iters = 2)
      Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 10, centroids = centroids, nprobe = 4)
    }),

    // E7+: bucketed-edges traversal — the subject self-join over the
    // bucketed table is Exchange-free (PlanAuditSpec proves it); here the
    // end-to-end result is value-checked: predicate co-occurrence per
    // subject over the nation-derived edge set
    "kg_bucketed_traversal" -> ((s, dir) => {
      val edges = Materialize.edges(linked(nationCorpus(s, dir)))
        .select("subj_id", "pred", "obj_id")
      // idempotent rebuild: drop the catalog entry AND any orphaned
      // location (a killed run leaves the dir without the table)
      s.sql("DROP TABLE IF EXISTS graft_edges_bucketed")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_edges_bucketed")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      Materialize.saveBucketedEdges(edges, "graft_edges_bucketed", buckets = 8)
      val t = s.table("graft_edges_bucketed")
      val a = t.select(col("subj_id"), col("pred").as("pred_a"))
      val b = t.select(col("subj_id"), col("pred").as("pred_b"))
      a.join(b, Seq("subj_id"))
        .filter(col("pred_a") < col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(countDistinct(col("subj_id")).as("n_subjects"))
    }),

    // A1/streaming: the SAME kernel behind readStream — a
    // Trigger.AvailableNow micro-batch run over the nation corpus written
    // as a file stream source, parsed rows written to a parquet sink and
    // read back; the oracle is the batch result on the same corpus
    "kg_stream_parity" -> ((s, dir) => {
      val base = tempWorkDir("graft_stream").toString
      nationCorpus(s, dir).write.mode("overwrite").parquet(s"$base/src")
      val parsed = NtStream.parsedStream(NtStream.corpusStream(s, s"$base/src"))
      NtStream.writer(parsed, s"$base/out", s"$base/ck").start().awaitTermination()
      s.read.parquet(s"$base/out")
        .filter(!col("err"))
        .select(col("path"), col("line"), col("subj"), col("pred"), col("obj"))
    }),

    // FILTER-BY-VALUE over the value space: a numeric predicate
    // (custkey % 100 = 0) is undecidable on hashed node ids, so the
    // binding joins the D2 nodes table (Bgp.bindValues) and the typed
    // accessor (TypedLiterals.asLong over the term struct) makes the
    // comparison a codegen'd long op — the documented F6 FILTER scope
    // gap closed end-to-end
    "kg_bgp_typed_filter" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTableTyped(orders, "orders", "o_orderkey", Seq(
        ("o_custkey", col("o_custkey"), s"${XSD}long")))
      val (e, nd) = sparqlGraph(corpus)
      val bound = Bgp.bindValues(
        Bgp.matchPatterns(e, Seq(
          Bgp.TriplePattern(Bgp.V("o"), Bgp.C("urn:col:orders:o_custkey"), Bgp.V("c")))),
        nd, Seq("c"))
      bound.filter(TypedLiterals.asLong(col("c_term")) % 100 === 0)
        .select(col("o"), TypedLiterals.asLong(col("c_term")).as("cust"))
    }),

    // STREAM-STATIC BGP enrichment: nation triples replayed as a file
    // stream, the regionkey pattern matched per micro-batch and its ?rk
    // binding equi-joined against a static region-name BGP — the
    // "annotate each arriving fact from the KG" shape, stateless (no
    // watermark, no state store), static side broadcast per batch
    "kg_stream_bgp" -> ((s, dir) => {
      val base = tempWorkDir("graft_stream_bgp").toString
      nationCorpus(s, dir).write.mode("overwrite").parquet(s"$base/src")
      val stream = NtStream.edgeStream(
        NtStream.parsedStream(NtStream.corpusStream(s, s"$base/src")))
      val statics = s.read.parquet(s"$dir/region.parquet").select(
        col("r_regionkey").cast("long").cast("string").as("subj_id"),
        lit("rname").as("pred"), col("r_name").as("obj_id"))
      NtStream.bgpEnrich(stream, statics,
          Bgp.TriplePattern(Bgp.V("n"), Bgp.C("urn:col:nation:n_regionkey"), Bgp.V("rk")),
          Seq(Bgp.TriplePattern(Bgp.V("rk"), Bgp.C("rname"), Bgp.V("rname"))))
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$base/out").select("n", "rk", "rname")
    }),

    // stateful streaming dedup (KeyValueGroupedDataset.flatMapGroups
    // WithState keyed on sha256(content)): the corpus is doubled with
    // EXACT duplicate rows, replayed as a file stream, and the keep-first
    // state drops the second copy — deterministic because duplicates are
    // identical rows, across however many micro-batches AvailableNow cuts
    "kg_stream_dedup" -> ((s, dir) => {
      val base = tempWorkDir("graft_stream_dd").toString
      val corpus = nationCorpus(s, dir)
      corpus.union(corpus).write.mode("overwrite").parquet(s"$base/src")
      val deduped = NtStream.dedupStream(NtStream.corpusStream(s, s"$base/src"))
      deduped.toDF().writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("path"), sha2(col("content"), 256).as("content_sha256"))
    }),

    "td_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    "td_text_quality" -> ((s, dir) =>
      TextOps.quality(docs(s, dir), col("doc_id"), col("text"))),

    "td_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_ws_tokens"),
        TextOps.regexTokenCount(col("text")).as("n_regex_tokens"))),

    "td_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // MOSS winnowing: rolling-window minima over k-gram hashes — the
    // indexable ~1/w-size fingerprint set; every selected hash is checked
    "td_winnow" -> ((s, dir) => {
      val fps = TextOps.winnowFingerprints(col("text"))
      docs(s, dir).select(col("doc_id"),
        size(fps).cast("long").as("n_fp"),
        sha2(concat_ws(",", transform(fps, x => x.cast("string"))), 256).as("fp_sha"))
    }),

    // ALL kinds decode real bytes: PNGs via javax.imageio, WAV headers via
    // javax.sound.sampled, animated-GIF video via an ImageIO frame walk;
    // the oracle predicts every feature from the synthesis rules, so a
    // broken decoder in ANY kind fails the hash
    "td_multimodal" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.mediaWithRealBlobs(s, docs(s, dir))).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"), col("n_frames"))
    }),

    // scale table: orders through the full parse path (printf/date-format
    // value rendering keeps the DuckDB oracle exact)
    "kg_parse_orders" -> ((s, dir) => {
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTable(orders, "orders", "o_orderkey", Seq(
        "o_custkey" -> col("o_custkey"),
        "o_totalprice" -> format_string("%.2f", col("o_totalprice")),
        "o_orderdate" -> date_format(col("o_orderdate"), "yyyy-MM-dd"),
        "o_orderpriority" -> col("o_orderpriority")))
      parsedTriples(corpus).groupBy("pred").agg(
        count(lit(1)).as("n"),
        countDistinct(col("obj.value")).as("n_distinct_values"))
    }),

    // typed-literal VALUE-space extraction (ModelFactorySpec parity):
    // orders serialized as typed literals, parsed through the kernel,
    // then aggregated in the value space by datatype family — long sums,
    // exact decimal sums, date mins, boolean counts — via TypedLiterals
    "kg_typed_values" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTableTyped(orders, "orders", "o_orderkey", Seq(
        ("o_custkey", col("o_custkey"), s"${XSD}long"),
        ("o_totalprice", format_string("%.2f", col("o_totalprice")), s"${XSD}decimal"),
        ("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"), s"${XSD}date"),
        ("o_even", (col("o_orderkey") % 2 === 0).cast("string"), s"${XSD}boolean")))
      parsedTriples(corpus).groupBy(col("pred")).agg(
        count(lit(1)).as("n"),
        sum(TypedLiterals.asLong(col("obj"))).as("sum_long"),
        sum(TypedLiterals.asDecimal(col("obj"))).cast("string").as("sum_dec"),
        min(TypedLiterals.asDate(col("obj"))).cast("string").as("min_date"),
        sum(when(TypedLiterals.asBoolean(col("obj")), 1L)).as("n_true"))
    }),

    // entity enrichment: parsed order->customer triples broadcast-joined
    // with the customer dimension (KG link to external attributes)
    "kg_enrich_customer" -> ((s, dir) => {
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTable(orders, "orders", "o_orderkey",
        Seq("o_custkey" -> col("o_custkey")))
      val custEdges = parsedTriples(corpus)
        .select(col("subj.value").as("order_iri"), col("obj.value").cast("long").as("c_custkey"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      custEdges.join(broadcast(cust), Seq("c_custkey"))
        .select(col("order_iri"), col("c_name"), col("c_mktsegment"))
    }),

    // gopher-style repetition quality filters
    "td_repetition" -> ((s, dir) =>
      Curation.repetitionMetrics(docs(s, dir), col("doc_id"), col("text"))),

    // document -> training-sample chunking (50-token windows, stride 40)
    "td_chunking" -> ((s, dir) =>
      Curation.chunk(docs(s, dir), col("doc_id"), col("text"))),

    // deterministic stratified sampling by stable id hash
    "td_sample" -> ((s, dir) =>
      Curation.sampleDeterministic(docs(s, dir), col("doc_id"), keepOutOf10 = 3)
        .select(col("doc_id"), col("lang"))),

    // PII scrubbing over synthetic-augmented text
    "td_pii_scrub" -> ((s, dir) => {
      val augmented = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com ref 12345678"))
      docs(s, dir).select(col("doc_id"), Curation.scrubPii(augmented).as("scrubbed"))
    }),

    // RefinedWeb/C4-style boilerplate removal: 10-token segments shared
    // across >1 distinct docs are dropped from every doc
    "td_interdoc_dedup" -> ((s, dir) =>
      Curation.interdocSegmentDedup(docs(s, dir), col("doc_id"), col("text"))),

    // train/eval contamination (GPT-3-style n-gram overlap): docs with
    // doc_id % 97 == 0 stand in for the eval set; every remaining train
    // doc reports how many of its distinct 5-gram shingles leak into it
    "td_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.contamination(
        d.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        d.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"), n = 5)
    }),

    // exact token-count percentiles (order statistics over the bounded
    // value histogram) — the quality-threshold selection step
    "td_quality_percentiles" -> ((s, dir) =>
      Curation.integerPercentiles(docs(s, dir),
        size(split(col("text"), " ")), Seq(10, 50, 90, 99))),

    // exact per-language quota sample (k smallest deterministic hashes per
    // stratum) via the two-level salted top-k — identical output to the
    // single-window definition the oracle uses, without the per-stratum
    // hot-key reducer
    "td_quota_sample" -> ((s, dir) =>
      Curation.quotaSample(docs(s, dir), col("doc_id"), col("lang"), k = 20)),

    // Structured Streaming windowed aggregation over EVENT TIME: the
    // events table replayed as a file stream, hour windows aggregated
    // with Trigger.AvailableNow into a memory sink (complete mode is the
    // deterministic harness; production uses append + watermark — that
    // shape lives in NtStream.windowedMetrics). timestamp_ntz keeps the
    // window boundaries session-timezone-independent, like
    // td_event_windows.
    "td_stream_event_windows" -> ((s, dir) => {
      val ev0 = s.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
      replayToTable(s, ev0, "graft_stream_event_windows", "complete")(
        _.groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:00").as("w"),
          col("event_type"), col("n"))
    }),

    // watermarked APPEND-mode streaming windows — the production shape
    // (complete mode can't scale: it re-emits all state every batch).
    // A window row is emitted exactly when the watermark (max event time
    // minus 10 min) passes its end, so the emitted set is deterministic:
    // windows with end <= max(ts) - 10min — precisely what the oracle
    // computes relationally. Trailing windows still open at stream end
    // stay unemitted BY DESIGN; that is watermark semantics, not loss.
    // Watermarks REQUIRE instant-typed timestamps (Spark rejects
    // timestamp_ntz), so the naive value is recovered via ntz first and
    // then pinned to an instant under the harness's UTC session — for
    // whole-hour-offset sessions the rendered naive results are
    // identical; the batch queries stay ntz-pure.
    "td_stream_watermark" -> ((s, dir) => {
      val ev0 = s.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp_ntz").cast("timestamp").as("ts"),
          col("event_type"))
      replayToTable(s, ev0, "graft_stream_wm", "append")(
        _.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n")))
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:00").as("w"),
          col("event_type"), col("n"))
    }),

    // watermarked STREAM-STREAM interval join: each purchase picks up the
    // same user's view events from the preceding hour. Both sides carry
    // watermarks and the event-time range condition, so join state is
    // bounded (views older than the watermark minus the interval are
    // evicted) — the production attribution-join shape. Inner join: the
    // emitted pair set equals the relational join, which is the oracle.
    "td_stream_join" -> ((s, dir) => {
      val ev0 = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").cast("timestamp").as("ts"),
          col("event_type"))
      def side(stream: DataFrame, t: String, prefix: String) =
        stream.filter(col("event_type") === t)
          .select(col("event_id").as(s"${prefix}_id"),
            col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "10 minutes")
      replayToTable(s, ev0, "graft_stream_j", "append")(stream =>
        side(stream, "purchase", "p").join(side(stream, "view", "v"),
          col("p_user") === col("v_user") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts")))
        .select(col("p_id"), col("v_id"))
    }),

    // event-time sessionization (12h gap) over the events table; interval
    // arithmetic on timestamp_ntz — session-timezone-independent
    "td_sessionize" -> ((s, dir) => {
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      EventOps.sessionize(ev, col("user_id"), col("ts"), gapMinutes = 720)
    }),

    // as-of join: every purchase event picks up the user's latest
    // preceding view event (point-in-time feature lookup) — one shuffle,
    // no range join
    "td_asof_join" -> ((s, dir) => {
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val out = EventOps.asofJoin(
        ev.filter(col("event_type") === "purchase"),
        col("user_id"), col("ts"), col("event_id"),
        ev.filter(col("event_type") === "view"),
        col("user_id"), col("ts"), col("event_id"), col("value"))
      out.select(col("lid").as("purchase_id"), col("k").as("user_id"),
        col("asof_id").as("view_id"), col("asof_value").as("view_value"))
    }),

    // ordered-step funnel: users who did view -> click -> purchase in
    // order (any events between); exact subsequence-regex counting
    "td_funnel" -> ((s, dir) => {
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      EventOps.funnel(ev, col("user_id"), col("ts"), col("event_type"),
        steps = Seq("view", "click", "purchase"))
    }),

    // schema-on-read JSON props: per-event-type stats of props.k — the
    // get_json_object projection runs in the scan stage, so only
    // (type, long) rows reach the shuffle, never the JSON strings.
    // Deliberately NO fanOut: its round-robin exchange would ship the
    // raw JSON across the wire, the exact anti-pattern the plan gate
    // bans (at scale parquet splits provide the parallelism).
    "td_json_props" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      EventOps.jsonFieldStats(ev, col("event_type"), col("props"), "k")
        .withColumnRenamed("g", "event_type")
    }),

    // log compaction: current state per user = latest event (ties broken
    // by event_id) — changelog -> snapshot, top-1 per key
    "td_latest_state" -> ((s, dir) => {
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      EventOps.latestState(ev, col("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("event_type"), col("value"))
    }),

    // corpus n-gram profile: top-50 word bigrams with exact counts,
    // deterministic tie-break by ngram
    "td_ngram_topk" -> ((s, dir) =>
      TextOps.topNgrams(docs(s, dir), col("text"), n = 2, k = 50)),

    // collocation extraction: PMI-ordered adjacent pairs via the
    // integer-scaled rational score (log-free, hash-checkable)
    "td_collocations" -> ((s, dir) =>
      TextOps.collocations(docs(s, dir), col("text"), minPair = 5, k = 20)),

    // KMV distinct-count sketch (engine-portable alternative to HLL,
    // which can never be hash-checked): per-lang distinct 3-gram shingle
    // cardinality, estimate next to the exact truth so the gate pins
    // BOTH the sketch arithmetic and its accuracy on this corpus
    "td_sketch_distinct" -> ((s, dir) => {
      // shared by the sketch and the exact truth
      val sh = Share(Dedup.wordShingles(docs(s, dir), col("lang"), col("text"), 3))
      val sk = Sketches.kmvDistinct(sh, col("id"), col("shingle"), 256)
      val truth = sh.groupBy(col("id")).agg(count(lit(1)).as("n_true"))
      sk.join(truth, sk("g") === truth("id"))
        .select(col("g").as("lang"), col("n_true"), col("n_kept"),
          col("kth_hash"), col("est_distinct"))
    }),

    // GPT-style sequence packing via the distributed two-level prefix
    // sum (a naive global cumsum window serializes on one task at
    // scale); the oracle is the naive single-window definition, so the
    // gate proves the distributed scan computes the identical layout
    "td_seq_pack" -> ((s, dir) =>
      Packing.packSequences(docs(s, dir), col("doc_id"),
        size(split(col("text"), " ")), seqLen = 512L)),

    // count-min frequency sketch: depth-4 x width-64 integer counters
    // over the corpus bigram stream, point estimates for the top-5 true
    // heavy hitters emitted NEXT TO their exact counts (cm_est >= true_n
    // is the classic guarantee; the overshoot on this corpus is pinned)
    "td_sketch_countmin" -> ((s, dir) => {
      // the gram stream feeds the counters and the exact top 5
      val g = Share(docs(s, dir)
        .select(explode(TextOps.ngramArray(col("text"), 2)).as("gram")))
      val counters = Sketches.countMinCounters(g, col("gram"), depth = 4, width = 64)
      // top5 is referenced twice (query frame + truth join-back): share
      // the 5 rows so the TakeOrdered over the gram stream runs once
      val top5 = Share(g.groupBy("gram").agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("gram")).limit(5))
      Sketches.cmEstimate(counters, top5, col("gram"), depth = 4, width = 64)
        .join(top5, col("value") === col("gram"))
        .select(col("gram"), col("true_n"), col("cm_est"))
    }),

    // inverted index over 3-gram shingles with df in [2, 20] — the
    // decontamination-lookup structure; df-filter BEFORE collecting
    // postings, so per-shingle state is bounded at any scale
    "td_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndexFromTokens(
        Dedup.docShingles(docs(s, dir), col("doc_id"), col("text"), 3)
          .withColumnRenamed("shingle", "term"),
        minDf = 2, maxDf = 20)),

    // per-document salient terms: integer TF-IDF ordering
    // (df ASC, tf DESC, term) — exact, hash-checkable, no float log
    "td_salient_terms" -> ((s, dir) =>
      TextOps.salientTerms(docs(s, dir), col("doc_id"), col("text"), k = 3)
        .withColumnRenamed("id", "doc_id")),

    // multi-dimensional corpus profile: ROLLUP over (lang, source);
    // grouping flags disambiguate subtotal rows from NULL data values
    "td_rollup_stats" -> ((s, dir) =>
      docs(s, dir).rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          grouping(col("lang")).as("g_lang"),
          grouping(col("source")).as("g_source"))),

    // leakage-free train/val/test split: documents co-assigned by dup
    // CLUSTER (LSH -> jaccard verify -> CC), split = portable hash of the
    // cluster id, so near-dups can never straddle train and eval
    "td_split_leakfree" -> ((s, dir) => {
      val dups = Dedup.nearDupPairs(docs(s, dir), col("doc_id"), col("text")).select("a", "b")
      Curation.leakFreeSplit(docs(s, dir), col("doc_id"), dups)
    }),

    // graph analytics over a numeric nation->region edge set
    "kg_graph_degrees" -> ((s, dir) => {
      val e = nation(s, dir)
        .select((col("n_nationkey") + 100).cast("long").as("subj_id"),
          col("n_regionkey").cast("long").as("obj_id"))
      GraphOps.degrees(e)
    }),

    // connected components (large-star/small-star rounds); maxIter = 4
    // must suffice, since non-convergence is an error
    "kg_graph_components" -> ((s, dir) => {
      val e = nation(s, dir)
        .select((col("n_nationkey") + 100).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
      GraphOps.connectedComponents(e, "src", "dst", maxIter = 4)
    }),

    // per-vector int8 quantization (the ANN-serving memory cut): every
    // quantized byte is hash-checked via a fingerprint over the int array
    "td_embed_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(embs(s, dir), col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"),
          floor(col("amax") * 1e9).cast("long").as("amax_x1e9"),
          sha2(concat_ws(",", transform(col("q"), x => x.cast("string"))), 256).as("q_fp"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"))
    }),

    // degree-ordered triangle counting over a ring+chord graph derived
    // from nation (each consecutive triple (i, i+1, i+2) closes a
    // triangle); per-node counts are exact
    "kg_triangles" -> ((s, dir) => {
      val n = nation(s, dir)
      val ring = n.select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") + 1) % 25).cast("long").as("dst"))
      val chord = n.select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") + 2) % 25).cast("long").as("dst"))
      GraphOps.trianglesPerNode(ring.union(chord), "src", "dst")
    }),

    // multi-source BFS distances (<= 3 hops from node 0) over the
    // ring+chord graph — the "k-hop neighborhood" KG traversal primitive
    "kg_bfs_distances" -> ((s, dir) => {
      val n = nation(s, dir)
      val ring = n.select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") + 1) % 25).cast("long").as("dst"))
      val chord = n.select(col("n_nationkey").cast("long").as("src"),
        ((col("n_nationkey") + 2) % 25).cast("long").as("dst"))
      GraphOps.bfsDistances(ring.union(chord), "src", "dst",
        sources = Seq(0L), maxDepth = 3)
    }),

    // deterministic scaled-integer PageRank (3 iterations) — exact BIGINT
    // arithmetic, so the DuckDB oracle reproduces every rank bit-for-bit
    "kg_pagerank" -> ((s, dir) => {
      val e = nation(s, dir)
        .select((col("n_nationkey") + 100).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
      GraphOps.pagerankScaled(e, "src", "dst", iters = 3)
    }),

    // end-to-end duplicate CLUSTERING: LSH candidates -> exact Jaccard
    // verify (>= 0.8) -> connected components -> (id, cluster keeper).
    // The full production dedup recipe in one pipeline; every stage is
    // bounded (bucketed candidates, O(log n) CC rounds) and the oracle
    // reproduces the clusters with a recursive CTE over the same pairs
    "td_dup_clusters" -> ((s, dir) => {
      val dups = Dedup.nearDupPairs(docs(s, dir), col("doc_id"), col("text")).select("a", "b")
      GraphOps.connectedComponents(dups, "a", "b", maxIter = 16)
        .select(col("node_id").as("id"), col("component").as("cluster"))
    }),

    // E-stage PageRank at KG shape (VERDICT r3 #8): over the MATERIALIZED
    // edges of the full nation+documents corpus — hundreds of subject
    // nodes plus genuine hub literals (every doc points at its lang and
    // source values, so 'en'-style nodes concentrate in-degree exactly
    // like rdf:type targets do at web scale). sha256 node ids are mapped
    // to 60-bit longs with the established cross-engine recipe; ranks are
    // scaled-integer BIGINT, so the result is EXACT and hash-comparable.
    "kg_pagerank_edges" -> ((s, dir) => {
      val corpus = nationCorpus(s, dir).union(documentsCorpus(s, dir))
      val e = Materialize.edges(linked(corpus))
      def idLong(c: String) = conv(substr(col(c), lit(1), lit(15)), 16, 10).cast("long")
      GraphOps.pagerankScaled(
        e.select(idLong("subj_id").as("src"), idLong("obj_id").as("dst")),
        "src", "dst", iters = 3)
    }),

    // SPARQL-style basic-graph-pattern match over the MATERIALIZED
    // documents edges: a star pattern with a selective constant
    // (lang = "en" by node id, pushed to the scan) and a free variable
    // (?src) — the KG query primitive over what the parser built.
    // shared edges = "materialize edges, then match": every pattern
    // of a BGP scans the edge relation, so matching over a derived
    // frame would re-run the corpus parse once per pattern (over the
    // real bucketed edges TABLE the scans are free and Exchange-free —
    // PlanAuditSpec gates that plan)
    "kg_bgp_match" -> ((s, dir) => {
      Bgp.matchPatterns(linkedEdges(documentsCorpus(s, dir)), Seq(
        Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:lang"),
          Bgp.C(Bgp.litId("en"))),
        Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:source"),
          Bgp.V("src"))))
    }),

    // chain-shaped BGP over a predicate-labeled graph: ?a next ?b,
    // ?b next ?c, ?a skip ?c — two different join variables plus a
    // cycle-closing third pattern (the path/closure query shape)
    "kg_bgp_path" -> ((s, dir) => {
      val n = nation(s, dir)
      def lbl(pred: String, off: Int) = n.select(
        col("n_nationkey").cast("long").cast("string").as("subj_id"),
        lit(pred).as("pred"),
        ((col("n_nationkey") + off) % 25).cast("long").cast("string").as("obj_id"))
      Bgp.matchPatterns(lbl("next", 1).union(lbl("skip", 2)), Seq(
        Bgp.TriplePattern(Bgp.V("a"), Bgp.C("next"), Bgp.V("b")),
        Bgp.TriplePattern(Bgp.V("b"), Bgp.C("next"), Bgp.V("c")),
        Bgp.TriplePattern(Bgp.V("a"), Bgp.C("skip"), Bgp.V("c"))))
    }),

    // SPARQL OPTIONAL: 'skip' edges exist only for EVEN nodes, so the
    // optional group binds ?c for half the rows and NULL for the rest —
    // the left-join semantics of the well-designed OPTIONAL fragment
    "kg_bgp_optional" -> ((s, dir) => {
      val n = nation(s, dir)
      def lbl(pred: String, off: Int) = n.select(
        col("n_nationkey").cast("long").cast("string").as("subj_id"),
        lit(pred).as("pred"),
        ((col("n_nationkey") + off) % 25).cast("long").cast("string").as("obj_id"))
      val e = lbl("next", 1)
        .union(lbl("skip", 2).filter(col("subj_id").cast("long") % 2 === 0))
      Sparql.evaluate(e, Sparql.LeftJoin(
        Sparql.BGP(Seq(Bgp.TriplePattern(Bgp.V("a"), Bgp.C("next"), Bgp.V("b")))),
        Sparql.BGP(Seq(Bgp.TriplePattern(Bgp.V("a"), Bgp.C("skip"), Bgp.V("c"))))))
    }),

    // entity resolution over label variants: 5 deterministic variants per
    // nation (labels are 12-hex sha256 prefixes, pairwise FAR apart so
    // distinct entities can never merge): exact, case+punctuation,
    // 2-char end typo, head typo (links via the SUFFIX block only), and
    // a 3-edit variant that shares a block but must be REJECTED by the
    // levenshtein verify. Expected: 25 clusters of 4 + 25 singletons.
    "kg_entity_resolution" -> ((s, dir) => {
      val n = nation(s, dir)
      val base = substring(sha2(col("n_name"), 256), 1, 12)
      val idb = col("n_nationkey").cast("long") * 10
      val ents = n.select(explode(array(
        struct(idb.as("id"), base.as("label")),
        struct((idb + 1).as("id"), concat(upper(base), lit(".")).as("label")),
        struct((idb + 2).as("id"), concat(base, lit("xx")).as("label")),
        struct((idb + 3).as("id"), substring(sha2(col("n_name"), 256), 2, 11).as("label")),
        struct((idb + 4).as("id"), concat(base, lit("zzz")).as("label"))
      )).as("e")).select(col("e.id").as("id"), col("e.label").as("label"))
      EntityResolution.resolveEntities(ents, "id", "label", maxEdit = 2)
    }),

    // the ER APPLICATION step: rewrite a graph's endpoints to their
    // resolved cluster canonicals and dedup the merged edge set — the
    // base/case/typo variants collapse onto the family minimum, chain
    // edges inside a merged family become ONE self-loop, the 3-edit
    // 'zzz' variant stays distinct; endpoints outside the mapping pass
    // through unchanged
    "kg_sameas_rewrite" -> ((s, dir) => {
      val n = nation(s, dir)
      val base = substring(sha2(col("n_name"), 256), 1, 12)
      val idb = col("n_nationkey").cast("long") * 10
      val ents = n.select(explode(array(
        struct(idb.as("id"), base.as("label")),
        struct((idb + 1).as("id"), concat(upper(base), lit(".")).as("label")),
        struct((idb + 2).as("id"), concat(base, lit("xx")).as("label")),
        struct((idb + 3).as("id"), substring(sha2(col("n_name"), 256), 2, 11).as("label")),
        struct((idb + 4).as("id"), concat(base, lit("zzz")).as("label"))
      )).as("e")).select(col("e.id").as("id"), col("e.label").as("label"))
      val mapping = EntityResolution.resolveEntities(ents, "id", "label", maxEdit = 2)
        .select(col("id").cast("string").as("id"),
          col("canonical").cast("string").as("canonical"))
      val nk = col("n_nationkey").cast("long")
      def str(c: org.apache.spark.sql.Column) = c.cast("long").cast("string")
      val edges =
        n.select(str(idb).as("subj_id"), lit("urn:variant").as("pred"), str(idb + 1).as("obj_id"))
          .union(n.select(str(idb + 1), lit("urn:variant"), str(idb + 2)))
          .union(n.select(str(idb + 2), lit("urn:variant"), str(idb + 4)))
          .union(n.select(str(idb), lit("urn:peer"), str(((nk + 1) % 25) * 10 + 2)))
          // an endpoint OUTSIDE the mapping: must pass through unchanged
          .union(n.select(str(idb + 4), lit("urn:ext"), concat(lit("x:"), nk)))
      EntityResolution.rewriteSameAs(edges, mapping)
    }),

    // blocking OBSERVABILITY gated: the per-block member counts and the
    // mega-block drop flag over the same variant entities. maxBlock = 3
    // so each nation's size-4 shared-prefix block (base, case variant,
    // end typo, 3-edit reject candidate) trips the drop flag while the
    // singleton/suffix blocks stay retained — both branches exercised
    "kg_er_blocks" -> ((s, dir) => {
      val n = nation(s, dir)
      val base = substring(sha2(col("n_name"), 256), 1, 12)
      val idb = col("n_nationkey").cast("long") * 10
      val ents = n.select(explode(array(
        struct(idb.as("id"), base.as("label")),
        struct((idb + 1).as("id"), concat(upper(base), lit(".")).as("label")),
        struct((idb + 2).as("id"), concat(base, lit("xx")).as("label")),
        struct((idb + 3).as("id"), substring(sha2(col("n_name"), 256), 2, 11).as("label")),
        struct((idb + 4).as("id"), concat(base, lit("zzz")).as("label"))
      )).as("e")).select(col("e.id").as("id"), col("e.label").as("label"))
      EntityResolution.blockStats(ents, "id", "label", maxBlock = 3)
        .select(col("bkey"), col("n_members"), col("dropped").cast("int").as("dropped_i"))
    }),

    // RDFS forward chaining: customer typed by nation class, nation
    // subClassOf region, region subClassOf 'thing' — rdfs11 transitive
    // closure (iterative doubling) + rdfs9 type inheritance over a
    // broadcast vocabulary-sized hierarchy
    "kg_rdfs_closure" -> ((s, dir) => {
      val n = nation(s, dir)
      // no .distinct() here (r7): transitiveClosure's own seed distinct
      // dedups the identical pair set — the duplicate shuffle was pure
      // overhead (guide §2.4)
      val sub = n.select(concat(lit("n:"), col("n_nationkey")).as("sub"),
          concat(lit("r:"), col("n_regionkey")).as("sup"))
        .union(n.select(concat(lit("r:"), col("n_regionkey")).as("sub"),
          lit("thing").as("sup")))
      val types = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("c:"), col("c_custkey")).as("inst"),
          concat(lit("n:"), col("c_nationkey")).as("cls"))
      Inference.materializeTypes(types, "inst", "cls", sub, "sub", "sup")
        .select(col("instance"), col("class"))
    }),

    // k-core (k=3) of a tree + K6-clique graph: the tree fringe peels
    // away over several iterations (leaves first, then their parents),
    // the clique survives — exercises the multi-round peeling fixpoint
    "kg_kcore" -> ((s, dir) => {
      val keys = nation(s, dir)
        .select(col("n_nationkey").cast("long").as("i"))
      val tree = keys.filter(col("i") >= 1)
        .select(col("i").as("src"), expr("i DIV 2").as("dst"))
      // clique pairs via ascending sequence explode (i < 5 keeps the
      // sequence non-empty and ascending — Spark 4's sequence(a, b)
      // DESCENDS when a > b)
      val clique = keys.filter(col("i") < 5)
        .select(col("i").as("src"), explode(sequence(col("i") + 1, lit(5))).as("dst"))
      GraphOps.kCore(tree.union(clique), "src", "dst", k = 3)
    }),

    // long->wide property-table pivot of the materialized documents
    // edges: one row per subject, a column per predicate, min-object
    // determinism (the "KG to ML feature table" step)
    "kg_property_table" -> ((s, dir) => {
      val e = Materialize.edges(linked(documentsCorpus(s, dir)))
      Materialize.propertyTable(e, Seq(
          "urn:col:documents:lang", "urn:col:documents:source", "urn:col:documents:text"))
        .select(col("subj_id").as("doc"),
          col("urn:col:documents:lang").as("lang_id"),
          col("urn:col:documents:source").as("source_id"),
          col("urn:col:documents:text").as("text_id"))
    }),

    // integer-exact BM25 relevance: top-50 documents for a 3-term query
    // (scores in scaled BIGINT arithmetic — see TextOps.bm25Scaled)
    "td_bm25" -> ((s, dir) => {
      TextOps.bm25Scaled(docs(s, dir), col("doc_id"), col("text"),
          Seq("spark", "window", "merge"), 50)
        .select(col("id").as("doc_id"), col("score_scaled"))
    }),

    // GREEDY JOIN-ORDER gate (the kg_bgp_match star, DELIBERATELY
    // worst-case-ordered): the unselective source pattern is listed
    // first, the 2-constant lang pattern second — Bgp's selectivity
    // reorder must start the join tree from the selective pattern
    // anyway (PlanAuditSpec pins the plan), and equi-join commutativity
    // makes the bindings identical to the well-ordered twin
    "kg_bgp_reorder" -> ((s, dir) => {
      Bgp.matchPatterns(linkedEdges(documentsCorpus(s, dir)), Seq(
        Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:source"),
          Bgp.V("src")),
        Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:lang"),
          Bgp.C(Bgp.litId("en")))))
    }),

    // SPARQL FILTER over the binding columns: language restricted to an
    // id-set disjunction and one source excluded by inequality — the
    // post-match predicates are plain Column filters Catalyst pushes
    // into the join where legal
    "kg_bgp_filter" -> ((s, dir) => {
      Bgp.matchPatterns(linkedEdges(documentsCorpus(s, dir)),
        Seq(
          Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:lang"), Bgp.V("l")),
          Bgp.TriplePattern(Bgp.V("doc"), Bgp.C("urn:col:documents:source"), Bgp.V("src"))))
        .filter(col("l") === lit(Bgp.litId("en")) || col("l") === lit(Bgp.litId("fr")))
        .filter(col("src") =!= lit(Bgp.litId("src0")))
    }),

    // SPARQL property path <up>+ : transitive closure of ONE predicate's
    // edge set (iterative doubling) — the 'peer' edges prove the closure
    // is predicate-scoped, not graph-wide
    "kg_bgp_path_plus" -> ((s, dir) => {
      Bgp.matchPatterns(nationUpPeer(s, dir),
        Seq(Bgp.TriplePattern(Bgp.V("s"),
          Bgp.PathPat(Bgp.PClosure(Bgp.PLeaf("up"), '+')), Bgp.V("o"))))
    }),

    // SPARQL UNION: bag union of two branches with different variable
    // sets — the zh branch binds no ?src, so its rows NULL-pad that
    // column (union-of-solution-mappings semantics, zero-shuffle concat)
    "kg_bgp_union" -> ((s, dir) => {
      Sparql.evaluate(linkedEdges(documentsCorpus(s, dir)), Sparql.Union(Seq(
        Sparql.BGP(Seq(
          Bgp.TriplePattern(Bgp.V("d"), Bgp.C("urn:col:documents:lang"),
            Bgp.C(Bgp.litId("en"))),
          Bgp.TriplePattern(Bgp.V("d"), Bgp.C("urn:col:documents:source"),
            Bgp.V("src")))),
        Sparql.BGP(Seq(
          Bgp.TriplePattern(Bgp.V("d"), Bgp.C("urn:col:documents:lang"),
            Bgp.C(Bgp.litId("zh"))))))))
    }),

    // the STRING front end end-to-end: Sparql.parse + run over the same
    // materialized edges — constants hash through the engine's node-id
    // recipe, OPTIONAL left-joins, FILTER applies after the group
    // (SparqlParserSpec pins parsed == programmatic on every construct)
    "kg_sparql_parse" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?doc ?src WHERE {
          |  ?doc <urn:col:documents:lang> "en" .
          |  OPTIONAL { ?doc <urn:col:documents:source> ?src }
          |  FILTER (BOUND(?src) && ?src != "src0")
          |}""".stripMargin)
    }),

    // SPARQL MINUS: docs minus those whose source is src0 — one
    // left-anti equi-join on the shared ?d, the negation primitive
    // (the anti side is projected to the shared column and deduped
    // before the join, so no group payload crosses the shuffle)
    "kg_bgp_minus" -> ((s, dir) => {
      Sparql.evaluate(linkedEdges(documentsCorpus(s, dir)), Sparql.Minus(
        Sparql.BGP(Seq(
          Bgp.TriplePattern(Bgp.V("d"), Bgp.C("urn:col:documents:lang"), Bgp.V("l")))),
        Sparql.BGP(Seq(
          Bgp.TriplePattern(Bgp.V("d"), Bgp.C("urn:col:documents:source"),
            Bgp.C(Bgp.litId("src0")))))))
    }),

    // SPARQL predicate alternatives <lang>|<source>: one pattern, a
    // pushed IN-filter on pred — two edges per doc, one binding column
    "kg_bgp_alt" -> ((s, dir) => {
      Bgp.matchPatterns(linkedEdges(documentsCorpus(s, dir)), Seq(
        Bgp.TriplePattern(Bgp.V("d"),
          Bgp.PathPat(Bgp.PAlternative(Seq(
            Bgp.PLeaf("urn:col:documents:lang"), Bgp.PLeaf("urn:col:documents:source")))),
          Bgp.V("v"))))
    }),

    // multi-valued property-table pivot: repeated 'tag' predicate keeps
    // ALL objects as a sorted-distinct array (duplicate edge injected to
    // prove set semantics), 'name' exists only for even keys to prove a
    // missing predicate yields the EMPTY array, not null; arrays are
    // array_join'd for cross-engine hashing (the array column itself is
    // spec-gated)
    "kg_property_table_multi" -> ((s, dir) => {
      val n = nation(s, dir)
      val nk = col("n_nationkey").cast("long")
      val subj = concat(lit("n:"), nk).as("subj_id")
      val tagR = n.select(subj, lit("tag").as("pred"),
        concat(lit("r:"), col("n_regionkey").cast("long")).as("obj_id"))
      val tagM = n.select(subj, lit("tag").as("pred"),
        concat(lit("m:"), nk % 3).as("obj_id"))
      val name = n.filter(nk % 2 === 0).select(subj, lit("name").as("pred"),
        col("n_name").as("obj_id"))
      Materialize.propertyTableMulti(tagR.union(tagM).union(tagR).union(name),
          Seq("tag", "name"))
        .select(col("subj_id").as("node"),
          array_join(col("tag"), "|").as("tags"),
          array_join(col("name"), "|").as("names"))
    }),

    // SPARQL zero-or-more path <up>*: the closure PLUS the zero-length
    // path, which per spec matches every term of the graph — identity
    // rows cover peer-only nodes too, while the closure itself stays
    // predicate-scoped
    "kg_bgp_path_star" -> ((s, dir) => {
      Sparql.run(nationUpPeer(s, dir), "SELECT ?x ?y WHERE { ?x <up>* ?y }")
    }),

    // negated property set !<peer> joined to a zero-or-one path <up>? —
    // the NOT-IN filter is pushed to the scan; the ?-relation is edges
    // plus graph-wide identity
    "kg_bgp_path_negopt" -> ((s, dir) => {
      Sparql.run(nationUpPeer(s, dir),
        "SELECT ?x ?y ?z WHERE { ?x !<peer> ?y . ?y <up>? ?z }")
    }),

    // SPARQL sequence + inverse property path <up>/^<up> ("shares a
    // parent", self-routes included): one equi-join on the intermediate
    // node, each hop's predicate filter pushed to its scan — the 'peer'
    // edges prove both hops are predicate-scoped
    "kg_bgp_path_seq" -> ((s, dir) => {
      Sparql.run(nationUpPeer(s, dir), "SELECT ?x ?y WHERE { ?x <up>/^<up> ?y }")
    }),

    // SPARQL 1.1 aggregation through the string front end: GROUP BY lang
    // with COUNT / COUNT DISTINCT / MIN and a HAVING that genuinely
    // filters at the driver's sf0.01 (fr has 64 docs < 70) — one
    // hash-aggregate shuffle on the group key, COUNTs partial-agg'd
    // map-side before it
    "kg_sparql_agg" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?l (COUNT(?d) AS ?n) (COUNT(DISTINCT ?src) AS ?nsrc)
          |       (MIN(?src) AS ?first_src)
          |WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  ?d <urn:col:documents:source> ?src .
          |} GROUP BY ?l HAVING (COUNT(?d) >= 70)""".stripMargin)
    }),

    // SPARQL solution modifiers: ORDER BY DESC(count) with an ascending
    // id tiebreak (a TOTAL order, so LIMIT/OFFSET slice deterministically
    // cross-engine) — plans as TakeOrderedAndProject, per-partition
    // top-k then one merge, never a global sort
    "kg_sparql_orderby" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?src (COUNT(?d) AS ?n) WHERE {
          |  ?d <urn:col:documents:source> ?src .
          |} GROUP BY ?src ORDER BY DESC(?n) ASC(?src) LIMIT 7 OFFSET 3""".stripMargin)
    }),

    // SPARQL VALUES, multi-variable form: the inline (lang, source)
    // rows become a broadcast left-semi join against the bindings
    // (a VALUES table in the algebra) — the selection ships with the task, the
    // bindings side never shuffles
    "kg_sparql_values" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?l ?src WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  ?d <urn:col:documents:source> ?src .
          |  VALUES (?l ?src) { ("en" "src1") ("de" "src2") ("zh" "src1") }
          |}""".stripMargin)
    }),

    // SPARQL ASK: boolean group-existence probe — limit(1) keeps the
    // plan a first-match scan, not a full count
    "kg_sparql_ask" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """ASK { ?d <urn:col:documents:lang> "en" .
          |      ?d <urn:col:documents:source> ?src
          |      FILTER (?src != "src0") }""".stripMargin)
    }),

    // SPARQL CONSTRUCT: materialize a DERIVED graph — a reverse edge
    // per (doc, source) binding plus an rdf:type edge per doc — as
    // distinct (subj_id, pred, obj_id) rows in the engine's own edges
    // convention; the one shuffle is the graph-set distinct
    "kg_sparql_construct" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """CONSTRUCT { ?src <urn:rev:source> ?d . ?d a <urn:Doc> }
          |WHERE { ?d <urn:col:documents:source> ?src }""".stripMargin)
    }),

    // SPARQL FILTER EXISTS / NOT EXISTS: one LEFT-SEMI and one LEFT-ANTI
    // equi-join on the shared ?d — the probe sides are projected to the
    // shared column and deduped, so no group payload crosses the shuffle
    "kg_sparql_exists" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?l WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  FILTER EXISTS { ?d <urn:col:documents:source> "src1" }
          |  FILTER NOT EXISTS { ?d <urn:col:documents:lang> "en" }
          |}""".stripMargin)
    }),

    // numeric value-space FILTER through the string surface: ?c and ?p
    // are undecidable on hashed ids, so run(edges, nodes, q) bindValues-
    // joins each once and the comparisons compile to TypedLiterals casts
    // (integer and double families both promote to double) — IRIs in
    // value position would read NULL and drop, per SPARQL
    "kg_sparql_typed_filter" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?o ?c WHERE {
          |  ?o <urn:col:orders:o_custkey> ?c .
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |  FILTER (?c >= 100 && ?c < 150)
          |  FILTER (?p > 100000.5)
          |}""".stripMargin)
    }),

    // SPARQL GROUP_CONCAT + SAMPLE over a variable-predicate pattern:
    // concatenation is SORTED (engine-independent where the spec leaves
    // order undefined), SAMPLE compiles to min — both deterministic
    // cross-engine by construction
    "kg_sparql_group_concat" -> ((s, dir) => {
      val n = nation(s, dir)
      val nk = col("n_nationkey").cast("long")
      val subj = concat(lit("n:"), nk).as("subj_id")
      val tag = n.select(subj, lit("tag").as("pred"),
        concat(lit("r:"), col("n_regionkey").cast("long")).as("obj_id"))
      val mod = n.select(subj, lit("mod").as("pred"),
        concat(lit("m:"), nk % 3).as("obj_id"))
      Sparql.run(tag.union(mod),
        """SELECT ?s (GROUP_CONCAT(?o; SEPARATOR="|") AS ?os) (SAMPLE(?o) AS ?one)
          |WHERE { ?s ?p ?o } GROUP BY ?s""".stripMargin)
    }),

    // STRING value-space FILTER: LANG / DATATYPE / STR / STRSTARTS /
    // CONTAINS / STRENDS / ISLITERAL over a language-tagged literal
    // column — every function reads the ONE bindValues `_term` struct
    // for ?c (one nodes equi-join total), and out-of-domain reads are
    // NULL -> excluded (SPARQL error-means-exclude)
    "kg_sparql_strfilter" -> ((s, dir) => {
      val corpus = Corpus.fromTableTagged(docs(s, dir), "documents", "doc_id",
        Seq(("caption", col("source"), col("lang"))))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?d ?c WHERE {
          |  ?d <urn:col:documents:caption> ?c .
          |  FILTER (ISLITERAL(?c) && LANG(?c) != "en")
          |  FILTER (STRSTARTS(STR(?c), "src") && (CONTAINS(?c, "2") || STRENDS(?c, "4")))
          |  FILTER (DATATYPE(?c) = <http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>)
          |}""".stripMargin)
    }),

    // SPARQL SUM/AVG over the numeric value space: one bindValues join
    // for ?p, exact order-independent decimal(28,10) accumulation under
    // the one hash-agg shuffle (map-side partials), a single final cast
    // to double — engine- and parallelism-reproducible where a float
    // sum is neither
    "kg_sparql_sum_avg" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?c (SUM(?p) AS ?total) (AVG(?p) AS ?mean) (COUNT(?p) AS ?n)
          |WHERE { ?o <urn:col:orders:o_custkey> ?c .
          |        ?o <urn:col:orders:o_totalprice> ?p }
          |GROUP BY ?c""".stripMargin)
    }),

    // SPARQL DESCRIBE: forward description (all outgoing edges) of the
    // de-language docs PLUS a constant IRI — the described-id set is
    // deduped then ONE left-semi equi-join selects the edges; output in
    // the engine's edges convention
    "kg_sparql_describe" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """DESCRIBE ?d <urn:g:documents:7>
          |WHERE { ?d <urn:col:documents:lang> "de" }""".stripMargin)
    }),

    // SPARQL BIND, numeric: an arithmetic projection over the value
    // space (IEEE double — bit-deterministic cross-engine) that later
    // FILTERs read DIRECTLY (bind columns never re-join the nodes
    // table); a pure projection, zero added shuffles
    "kg_sparql_bind" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?o ?c ?net WHERE {
          |  ?o <urn:col:orders:o_custkey> ?c .
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |  BIND(?p - ?p / 4 AS ?net)
          |  FILTER(?net > 150000 && ?c < 300)
          |}""".stripMargin)
    }),

    // SPARQL BIND, string: CONCAT/UCASE/LCASE/STR/LANG compose over the
    // ONE term join the variable pays; STRLEN feeds the numeric space
    // from a string value
    "kg_sparql_bind_str" -> ((s, dir) => {
      val corpus = Corpus.fromTableTagged(docs(s, dir), "documents", "doc_id",
        Seq(("caption", col("source"), col("lang"))))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?d ?tag WHERE {
          |  ?d <urn:col:documents:caption> ?c .
          |  BIND(CONCAT(UCASE(LANG(?c)), ":", LCASE(STR(?c))) AS ?tag)
          |  FILTER(STRLEN(?tag) = 7 && STRSTARTS(?tag, "D"))
          |}""".stripMargin)
    }),

    // SPARQL BIND as a GROUP BY key: the computed column IS the grouping
    // key of the one hash-agg shuffle — a histogram over a derived value
    "kg_sparql_bind_group" -> ((s, dir) => {
      val corpus = Corpus.fromTableTagged(docs(s, dir), "documents", "doc_id",
        Seq(("caption", col("source"), col("lang"))))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?u (COUNT(*) AS ?n) (MIN(?d) AS ?mn) WHERE {
          |  ?d <urn:col:documents:caption> ?c .
          |  BIND(UCASE(LANG(?c)) AS ?u)
          |} GROUP BY ?u""".stripMargin)
    }),

    // FILTER inside OPTIONAL: the condition gates the MATCH (SPARQL's
    // LeftJoin third argument) — a failing condition leaves the row
    // with an unbound ?s instead of dropping it; compiled as a
    // group-side pre-filter, exactly the ON-clause semantics for
    // group-variable-only conditions
    "kg_sparql_opt_filter" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?s WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  OPTIONAL { ?d <urn:col:documents:source> ?s FILTER(?s != "src1") }
          |}""".stripMargin)
    }),

    // numeric builtins: a FLOOR-banded histogram with ABS/ROUND in the
    // FILTER — floor/abs are bit-exact on doubles and ROUND compiles to
    // floor(x+0.5) (spec round-half-toward-+INF) in BOTH engines
    "kg_sparql_numfns" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTableTyped(orders, "orders", "o_orderkey", Seq(
        ("o_totalprice", col("o_totalprice"), s"${XSD}double")))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?band (COUNT(*) AS ?n) WHERE {
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |  BIND(FLOOR(?p / 50000) AS ?band)
          |  FILTER(ABS(?band) < 6 && ROUND(?p / 50000) >= 1)
          |} GROUP BY ?band""".stripMargin)
    }),

    // SUBSTR/STRAFTER string builtins composing with STRLEN and the
    // string-space inequality — all reading the ONE ?c term join
    "kg_sparql_strfns" -> ((s, dir) => {
      val corpus = Corpus.fromTableTagged(docs(s, dir), "documents", "doc_id",
        Seq(("caption", col("source"), col("lang"))))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?d ?head ?tail WHERE {
          |  ?d <urn:col:documents:caption> ?c .
          |  BIND(SUBSTR(STR(?c), 1, 3) AS ?head)
          |  BIND(STRAFTER(STR(?c), "src") AS ?tail)
          |  FILTER(STRLEN(?tail) = 1 && STR(?tail) != "1")
          |}""".stripMargin)
    }),

    // COALESCE over an OPTIONAL binding: the id-space fallback chain —
    // the conditioned source when it matched, the (always-bound) lang
    // otherwise; composes the optional-filter and bind layers
    "kg_sparql_coalesce" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?v WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  OPTIONAL { ?d <urn:col:documents:source> ?s FILTER(?s != "src1") }
          |  BIND(COALESCE(?s, ?l) AS ?v)
          |}""".stripMargin)
    }),

    // resolveTerms: query-result ids joined back to their n3 lexical
    // forms — the human-readable exit from the hashed-id plane; one
    // broadcast-able left join per column, unmatched ids pass through
    "kg_sparql_labels" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(documentsCorpus(s, dir))
      val res = Sparql.run(e,
        """PREFIX col: <urn:col:documents:>
          |SELECT ?d ?s WHERE { ?d col:lang "de" . ?d col:source ?s }""".stripMargin)
      Sparql.resolveTerms(res, nd, Seq("d", "s"))
    }),

    // SPARQL PREFIX: prefixed names expand to full IRIs BEFORE the body
    // parser and the node-id hashing run, so a prefixed constant matches
    // the same materialized edge the full-IRI spelling does
    "kg_sparql_prefix" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """PREFIX col: <urn:col:documents:>
          |SELECT ?d ?s WHERE { ?d col:lang "en" . ?d col:source ?s }""".stripMargin)
    }),

    // SPARQL HAVING over SUM: the group filter reads the numeric value
    // space exactly like projected SUM/AVG (exact decimal accumulation,
    // one final cast to double under the same strict-error guard) —
    // the aggregate is computed in the SAME hash-agg pass under an
    // internal alias and dropped after the filter
    "kg_sparql_having" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?c (COUNT(*) AS ?n) WHERE {
          |  ?o <urn:col:orders:o_custkey> ?c .
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |} GROUP BY ?c HAVING(SUM(?p) > 400000.5)""".stripMargin)
    }),

    // SPARQL subquery: the classic aggregate-then-join — per-lang doc
    // counts computed bottom-up (ONE hash-agg shuffle), inner-joined
    // back onto the docs on the anchored ?l, the COUNT alias read
    // directly by the outer FILTER (a computed value — no nodes join)
    "kg_sparql_subquery" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?l ?n WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  { SELECT ?l (COUNT(*) AS ?n)
          |    WHERE { ?x <urn:col:documents:lang> ?l } GROUP BY ?l }
          |  FILTER(?n >= 100)
          |}""".stripMargin)
    }),

    // SPARQL REGEX: partial-match over the string value space, with the
    // one inline flag both engines' regex dialects spell identically
    // ((?i)); anchored classes keep the two RE dialects aligned
    "kg_sparql_regex" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(documentsCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?d ?s WHERE {
          |  ?d <urn:col:documents:source> ?s .
          |  ?d <urn:col:documents:lang> ?l .
          |  FILTER(REGEX(?s, "^src[24]$") && REGEX(?l, "^(EN|DE)$", "i"))
          |}""".stripMargin)
    }),

    // PREDICATE-position variables bind RAW predicate IRIs (the edges
    // convention), a different value space from hashed node ids: IRI
    // constants in FILTER compile RAW against them (never through
    // Bgp.iriId) and STR(?p) reads the column directly with no
    // nodes-table join — both pure pushed/narrow column predicates;
    // every cross-space use (literals, VALUES, node-position reuse) is
    // a parse error instead of a silently-constant comparison
    "kg_sparql_predvar" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?col ?o WHERE {
          |  ?d ?p ?o .
          |  FILTER(?p != <urn:col:documents:text>)
          |  BIND(STRAFTER(STR(?p), "urn:col:documents:") AS ?col)
          |}""".stripMargin)
    }),

    // LANGMATCHES + BIND IF + IN in one query: RFC 4647 basic filtering
    // over the ONE ?c term join, a when/otherwise classification whose
    // condition is a full filter expression, and a string-value IN
    // selection over the computed column — all narrow, zero extra joins
    "kg_sparql_if_in_lang" -> ((s, dir) => {
      val corpus = Corpus.fromTableTagged(docs(s, dir), "documents", "doc_id",
        Seq(("caption", col("source"), col("lang"))))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?d ?cls WHERE {
          |  ?d <urn:col:documents:caption> ?c .
          |  FILTER(LANGMATCHES(LANG(?c), "de") || LANGMATCHES(LANG(?c), "zh"))
          |  BIND(IF(CONTAINS(STR(?c), "1"), "one", "other") AS ?cls)
          |  FILTER(?cls IN ("one", "other"))
          |}""".stripMargin)
    }),

    // TEMPORAL value-space FILTER: an xsd:date typed-literal constant
    // selects the date space — both sides read TypedLiterals.asDate
    // (try_cast, codegen'd) and compare BY VALUE; non-date terms read
    // NULL and drop (SPARQL error-means-exclude), and the comparison is
    // DuckDB-portable because only the boolean outcome crosses engines
    "kg_sparql_datefilter" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTableTyped(orders, "orders", "o_orderkey", Seq(
        ("o_orderdate", col("o_orderdate").cast("date"), s"${XSD}date"),
        ("o_custkey", col("o_custkey"), s"${XSD}long")))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?o ?d WHERE {
          |  ?o <urn:col:orders:o_orderdate> ?d .
          |  FILTER(?d >= "1996-01-01"^^<http://www.w3.org/2001/XMLSchema#date> &&
          |         ?d < "1996-03-01"^^<http://www.w3.org/2001/XMLSchema#date>)
          |}""".stripMargin)
    }),

    // BLANK NODES in patterns: _:d is a non-distinguished variable —
    // it JOINS the two patterns on the shared subject exactly like a
    // named variable (same equi-join plan) but never projects; the
    // result carries only the named bindings
    "kg_sparql_bnode" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(documentsCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?l ?s WHERE {
          |  _:d <urn:col:documents:lang> ?l .
          |  _:d <urn:col:documents:source> ?s .
          |  FILTER(STR(?l) = "de")
          |}""".stripMargin)
    }),

    // STRDT: mint a typed literal TERM at runtime — the node id
    // computed by the same litId recipe (sha256 of the n3 form), so the
    // minted value equal-compares against constants and pattern ids in
    // the id space; a narrow projection, no extra joins
    "kg_sparql_strdt" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(nationCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?a ?r WHERE {
          |  ?a <urn:col:nation:n_regionkey> ?r .
          |  BIND(STRDT(CONCAT(STR(?r), STR(?r)),
          |             <http://www.w3.org/2001/XMLSchema#string>) AS ?rr)
          |  FILTER(?rr = "33")
          |}""".stripMargin)
    }),

    // GROUP BY EXPRESSION: the grouping key is computed per row in the
    // same projection pass (sugar for BIND + GROUP BY ?v), so the one
    // hash-agg shuffle keys on the bucket directly — no extra pass
    "kg_sparql_group_expr" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val orders = fanOut(s, s.read.parquet(s"$dir/orders.parquet"))
      val corpus = Corpus.fromTableTyped(orders, "orders", "o_orderkey", Seq(
        ("o_totalprice", col("o_totalprice"), s"${XSD}double")))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?bucket (COUNT(*) AS ?n) WHERE {
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |} GROUP BY (FLOOR(?p / 50000) AS ?bucket)""".stripMargin)
    }),

    // UNDEF in VALUES: a free cell is compatible with any binding, so
    // rows with UNDEF compile to a DISJUNCTIVE pushed filter (defined
    // cells AND-ed per row, rows OR-ed) — zero joins, zero shuffles —
    // instead of the semi-join the fully-bound form uses
    "kg_sparql_values_undef" -> ((s, dir) => {
      Sparql.run(linkedEdges(nationCorpus(s, dir)),
        """SELECT ?a ?r WHERE {
          |  ?a <urn:col:nation:n_regionkey> ?r .
          |  VALUES (?a ?r) { (<urn:g:nation:1> UNDEF) (UNDEF "3") }
          |}""".stripMargin)
    }),

    // FROM / FROM NAMED dataset clause: over the same two-corpus quad
    // view as kg_sparql_graph, FROM <nation> scopes the default graph
    // (non-GRAPH patterns) and FROM NAMED <documents> the GRAPH scope —
    // both compile to PUSHED IN-filters on the raw graph column, so the
    // per-graph scans prune before any join
    "kg_sparql_from" -> ((s, dir) => {
      val corpus = documentsCorpus(s, dir).union(nationCorpus(s, dir))
      val e = Share(Materialize.quads(Materialize.edges(linked(corpus))))
      Sparql.run(e,
        """SELECT ?g ?p (COUNT(*) AS ?n)
          |FROM <urn:graph:synthetic/nation>
          |FROM NAMED <urn:graph:synthetic/documents>
          |WHERE { GRAPH ?g { ?s ?p ?o } }
          |GROUP BY ?g ?p""".stripMargin)
    }),

    // XSD CONSTRUCTOR CASTS: xsd:integer / xsd:double read a plain
    // string literal's lexical form into the numeric value space
    // (try_cast — uncastable values exclude, never throw), composing
    // with FILTER and BIND like any numeric expression; one term join
    "kg_sparql_cast" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val (e, nd) = sparqlGraph(nationCorpus(s, dir))
      Sparql.run(e, nd,
        s"""PREFIX xsd: <$XSD>
           |SELECT ?n ?rk WHERE {
           |  ?n <urn:col:nation:n_regionkey> ?r .
           |  BIND(xsd:integer(?r) AS ?rk)
           |  FILTER(xsd:double(?r) >= 2)
           |}""".stripMargin)
    }),

    // HASH + URI-ESCAPE BUILTINS: MD5/SHA256 digests (lowercase hex in
    // both engines) and ENCODE_FOR_URI (the codegen'd native
    // percent-encoding expression — the corpus values are unreserved,
    // so the joiner space is the one escaped char, mirrored exactly by
    // replace) — all three over the ONE term join, pure projections
    "kg_sparql_hashfns" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(documentsCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?d ?h ?h2 ?u WHERE {
          |  ?d <urn:col:documents:source> ?s .
          |  ?d <urn:col:documents:lang> ?l .
          |  BIND(MD5(STR(?s)) AS ?h)
          |  BIND(SHA256(CONCAT(STR(?s), "|", STR(?l))) AS ?h2)
          |  BIND(ENCODE_FOR_URI(CONCAT(STR(?s), " ", STR(?l))) AS ?u)
          |}""".stripMargin)
    }),

    // SAMETERM: RDF-term identity as plain id equality — same-region
    // nation pairs excluding the reflexive ones; the negated test
    // composes with the shared-variable join, no extra shuffles
    "kg_sparql_sameterm" -> ((s, dir) => {
      Sparql.run(linkedEdges(nationCorpus(s, dir)),
        """SELECT ?a ?b WHERE {
          |  ?a <urn:col:nation:n_regionkey> ?r .
          |  ?b <urn:col:nation:n_regionkey> ?r .
          |  FILTER(!SAMETERM(?a, ?b))
          |}""".stripMargin)
    }),

    // DATETIME ACCESSORS: YEAR/MONTH/DAY gate the rows and HOURS/
    // MINUTES/SECONDS compose in BIND arithmetic — all six read the ?t
    // term's temporal value through the ONE bindValues join the
    // temporal FILTER machinery already makes, then extract fields as
    // codegen'd year()/hour()/... expressions; the corpus literal is
    // second-truncated so both engines see identical instants
    "kg_sparql_datefns" -> ((s, dir) => {
      val XSD = "http://www.w3.org/2001/XMLSchema#"
      val ev = fanOut(s, s.read.parquet(s"$dir/events.parquet"))
      val corpus = Corpus.fromTableTyped(ev, "events", "event_id", Seq(
        ("ts", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
          s"${XSD}dateTime")))
      val (e, nd) = sparqlGraph(corpus)
      Sparql.run(e, nd,
        """SELECT ?e ?dom ?secs WHERE {
          |  ?e <urn:col:events:ts> ?t .
          |  FILTER(YEAR(?t) = 2024 && MONTH(?t) = 1 && DAY(?t) <= 2)
          |  BIND(DAY(?t) AS ?dom)
          |  BIND(HOURS(?t) * 3600 + MINUTES(?t) * 60 + SECONDS(?t) AS ?secs)
          |}""".stripMargin)
    }),

    // SPARQL GRAPH over lineage: the quad view derives a RAW graph IRI
    // (urn:graph:<repo>) from the repo lineage column — GRAPH ?g binds
    // it (the same raw-IRI space as predicate variables), a constant
    // GRAPH is a pushed string-equality on the scan (PlanAuditSpec
    // asserts the parquet pushdown); here a two-corpus union is grouped
    // by (graph, predicate), both raw columns, one hash-agg shuffle
    "kg_sparql_graph" -> ((s, dir) => {
      val corpus = documentsCorpus(s, dir).union(nationCorpus(s, dir))
      val e = Share(Materialize.quads(Materialize.edges(linked(corpus))))
      Sparql.run(e,
        """SELECT ?g ?p (COUNT(*) AS ?n) WHERE {
          |  GRAPH ?g { ?s ?p ?o }
          |} GROUP BY ?g ?p""".stripMargin)
    }),

    // NESTED property path (<up>/<up>)+ — the closure of a COMPOSED hop:
    // the two-step sequence relation (one equi-join of two pushed scans)
    // feeds the same O(log diameter) iterative doubling as <p>+, so the
    // pattern matches pairs at even up-distance; the peer ring proves
    // the group is predicate-scoped
    "kg_bgp_path_nested" -> ((s, dir) => {
      Sparql.run(nationUpPeer(s, dir), "SELECT ?x ?y WHERE { ?x (<up>/<up>)+ ?y }")
    }),

    // GENUINELY NESTED property path — a sequence whose second part is
    // a closure of a sequence: <peer>/(<up>/<up>)+. The full recursive
    // path algebra composes it as one pushed peer scan equi-joined to
    // the (up/up)+ closure relation (the same O(log diameter) doubling
    // as every other closure); bag semantics per SPARQL path evaluation
    "kg_bgp_path_deep" -> ((s, dir) => {
      Sparql.run(nationUpPeer(s, dir),
        "SELECT ?x ?y WHERE { ?x <peer>/(<up>/<up>)+ ?y }")
    }),

    // UNION as a GROUP MEMBER — SPARQL's `{ A { B } UNION { C } }` shape:
    // the union relation (NULL-padded bag of branch matches) inner-joins
    // the required bindings on its every-branch-bound shared variable,
    // the same join-order machinery as any other group relation; the
    // group FILTER applies after, seeing both branches' bindings
    "kg_sparql_union_mixed" -> ((s, dir) => {
      Sparql.run(linkedEdges(documentsCorpus(s, dir)),
        """SELECT ?d ?l ?v WHERE {
          |  ?d <urn:col:documents:lang> ?l .
          |  { ?d <urn:col:documents:source> ?v }
          |  UNION { ?d <urn:col:documents:lang> ?v }
          |  FILTER(?l = "de" || ?l = "zh")
          |}""".stripMargin)
    }),

    // SPARQL MIN/MAX by VALUE ORDERING: with the nodes table attached,
    // the pick follows SPARQL value ordering (numeric literals by value,
    // other terms before them by id) via min_by/max_by over a NULL-free
    // (rank, value, id) key — same single hash-agg shuffle, and the
    // result is the winning TERM ID, so all-IRI groups keep the id pick
    // bit-for-bit
    "kg_sparql_minmax" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?c (MIN(?p) AS ?lo) (MAX(?p) AS ?hi) (COUNT(*) AS ?n)
          |WHERE { ?o <urn:col:orders:o_custkey> ?c .
          |        ?o <urn:col:orders:o_totalprice> ?p }
          |GROUP BY ?c""".stripMargin)
    }),

    // ORDER BY a numeric pattern variable: the sort key is the same
    // (rank, value, id) term-ordering struct — price DESC by VALUE (a
    // lexical sort would put "9..." above "10...") with the order-IRI id
    // as total-order tiebreak, planned as TakeOrderedAndProject under
    // the LIMIT (per-partition top-k, never a global sort)
    "kg_sparql_order_value" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?o ?p WHERE {
          |  ?o <urn:col:orders:o_custkey> ?c .
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |  FILTER(?c < 20)
          |} ORDER BY DESC(?p) ?o LIMIT 15""".stripMargin)
    }),

    // ORDER BY EXPRESSION: the top-k selection key is a COMPUTED value
    // (?p - ?c * 1000, both value-space reads through the one term
    // join), the id column breaking boundary ties deterministically —
    // same TakeOrderedAndProject top-k shape as a plain key
    "kg_sparql_order_expr" -> ((s, dir) => {
      val (e, nd) = sparqlGraph(ordersCorpus(s, dir))
      Sparql.run(e, nd,
        """SELECT ?o ?p ?c WHERE {
          |  ?o <urn:col:orders:o_custkey> ?c .
          |  ?o <urn:col:orders:o_totalprice> ?p .
          |} ORDER BY DESC(?p - ?c * 1000) ?o LIMIT 12""".stripMargin)
    })
  )

  // ---------- oracles ------------------------------------------------------

  /** DuckDB hash matching Dedup.hash64. */
  private val dkHash64 = "('0x' || substr(sha256(%s),1,15))::BIGINT"

  /** DuckDB minhash slice columns matching Dedup.minhashSignature(8). */
  private val oracleMinhashCols: String =
    (0 until 8).map(i => s"min(substr(h, ${i * 8 + 1}, 8)) mh$i").mkString(", ")

  /** DuckDB band keys matching Dedup.bandedKeys(numHashes=8, rowsPerBand=2). */
  private val oracleBandsUnion: String =
    (0 until 4).map { b =>
      s"SELECT doc_id, $b band, sha256(mh${2 * b} || ':' || mh${2 * b + 1}) band_key FROM sig"
    }.mkString("\n          UNION ALL ")

  /** DuckDB candidate pairs matching Dedup.lshCandidatesFromShingles
    * INCLUDING the keeper-star split for buckets > maxBucket (1024), so
    * the gate stays valid on corpora with mega duplicate clusters. */
  private val oracleCandCte: String =
    """bsz AS (SELECT band, band_key, count(*) n, min(doc_id) keeper FROM bands GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a, b FROM (
      |    SELECT x.doc_id AS a, y.doc_id AS b
      |    FROM bands x
      |    JOIN bands y ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
      |    JOIN bsz s ON s.band = x.band AND s.band_key = x.band_key AND s.n <= 1024
      |    UNION ALL
      |    SELECT s.keeper, bd.doc_id
      |    FROM bands bd
      |    JOIN bsz s ON s.band = bd.band AND s.band_key = bd.band_key
      |    WHERE s.n > 1024 AND bd.doc_id <> s.keeper))""".stripMargin

  /** One unrolled Lloyd's iteration in DuckDB: assign to nearest centroid
    * c{i}, then scaled-integer per-cell/per-dim means -> c{i+1}. Mirrors
    * Similarity.kmeansCentroids bit-for-bit (floor(x*1e9) long sums, the
    * identical double division, empty cells keep the old centroid). */
  private def kmeansIterSql(i: Int): String = {
    val (p, nx) = (s"c$i", s"c${i + 1}")
    s"""d$i AS (SELECT e.vec_id, $p.cid, list_dot_product(
       |        list_transform(range(1, 65), ix -> e.v[ix] - $p.cv[ix]),
       |        list_transform(range(1, 65), ix -> e.v[ix] - $p.cv[ix])) AS dist
       |      FROM e, $p),
       |a$i AS (SELECT vec_id, cid FROM (
       |        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
       |        FROM d$i) WHERE rn = 1),
       |s$i AS (SELECT a$i.cid, dd.d, sum(CAST(floor(e.v[dd.d + 1] * 1000000000.0) AS BIGINT)) s, count(*) n
       |      FROM a$i JOIN e USING (vec_id), unnest(generate_series(0, 63)) dd(d)
       |      GROUP BY 1, 2),
       |m$i AS (SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0) ORDER BY d) cv
       |      FROM s$i GROUP BY 1),
       |$nx AS (SELECT $p.cid, COALESCE(m$i.cv, $p.cv) cv FROM $p LEFT JOIN m$i ON m$i.cid = $p.cid)""".stripMargin
  }

  /** One unrolled scaled-integer PageRank iteration in DuckDB (BIGINT
    * floor division mirrors Spark's DIV; see GraphOps.pagerankScaled). */
  // CAST every iteration's pr back to BIGINT: DuckDB sum() yields HUGEINT,
  // which the driver's arrow/pandas fetch renders differently from int64
  // even when the values are identical (the r3 hash-failure class).
  private def pagerankIterSql(i: Int): String =
    s"""c$i AS (SELECT e.d AS n, sum(p.pr // g.dg) s
       |      FROM e JOIN p$i p ON p.n = e.s JOIN deg g ON g.n = e.s GROUP BY 1),
       |p${i + 1} AS (SELECT nodes.n, CAST(150000000000 + COALESCE(c$i.s, 0) * 85 // 100 AS BIGINT) AS pr
       |      FROM nodes LEFT JOIN c$i ON c$i.n = nodes.n)""".stripMargin

  /** One unrolled k-core peel round in DuckDB (degree, weak set, filtered
    * edges) — mirrors GraphOps.kCore's fixpoint; extra rounds are
    * idempotent once peeling stops, so a fixed unroll >= the actual
    * round count reproduces the Spark fixpoint exactly. */
  private def kcoreIterSql(i: Int, k: Int): String =
    s"""d$i AS MATERIALIZED (SELECT n, count(*) dg FROM (SELECT a n FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),
       |w$i AS MATERIALIZED (SELECT n FROM d$i WHERE dg < $k),
       |e${i + 1} AS MATERIALIZED (SELECT e$i.* FROM e$i WHERE a NOT IN (SELECT n FROM w$i) AND b NOT IN (SELECT n FROM w$i))""".stripMargin

  private def nationTripleSql(valueCol: String, colName: String, extra: String = "") =
    s"""SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS subj,
       |       'urn:col:nation:$colName' AS pred,
       |       CAST($valueCol AS VARCHAR) AS obj$extra
       |FROM nation""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "kg_parse_nation" ->
      s"""${nationTripleSql("n_name", "n_name")}
         |UNION ALL
         |${nationTripleSql("n_regionkey", "n_regionkey")}""".stripMargin,

    // identical expected triples — the gzip round-trip must be lossless
    "kg_parse_gzip" ->
      s"""${nationTripleSql("n_name", "n_name")}
         |UNION ALL
         |${nationTripleSql("n_regionkey", "n_regionkey")}""".stripMargin,

    // identical expected triples via the bzip2 codec path
    "kg_parse_bz2" ->
      s"""${nationTripleSql("n_name", "n_name")}
         |UNION ALL
         |${nationTripleSql("n_regionkey", "n_regionkey")}""".stripMargin,

    // the ISO-8859-1 bytes decode to these exact code points
    "kg_parse_charset" ->
      """SELECT * FROM (VALUES
        |  (1, 'urn:city:1', 'Z' || chr(252) || 'rich'),
        |  (2, 'urn:city:2', 'caf' || chr(233)),
        |  (3, 'urn:city:3', chr(197) || 'ngstr' || chr(246) || 'm')
        |) t(line, subj, name)""".stripMargin,

    // two edges per nation row (n_name + n_regionkey), salted exchange
    // must preserve exactly that
    "kg_salted_edges" ->
      """SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>') AS subj_id,
        |       2 AS n_edges
        |FROM nation""".stripMargin,

    "kg_parse_documents" ->
      """SELECT 'urn:g:documents:' || CAST(doc_id AS VARCHAR) AS subj, 'urn:col:documents:text' AS pred, text AS obj FROM documents
        |UNION ALL SELECT 'urn:g:documents:' || CAST(doc_id AS VARCHAR), 'urn:col:documents:lang', lang FROM documents
        |UNION ALL SELECT 'urn:g:documents:' || CAST(doc_id AS VARCHAR), 'urn:col:documents:source', source FROM documents""".stripMargin,

    "kg_parse_errors" ->
      """SELECT * FROM (VALUES
        |  ('err1.nt', 2, 1,  'parse error in line 2 at char 1, expected [<, _, or #], but found [@]'),
        |  ('err1.nt', 3, 3,  'parse error in line 3 at char 3, <s> is not absolute'),
        |  ('err1.nt', 4, 17, 'parse error in line 4 at char 17, expected [language tag identifier], but found [1]'),
        |  ('err1.nt', 5, 19, 'parse error in line 5 at char 19, expected [.], but found [,]')
        |) t(path, line, char_pos, message)""".stripMargin,

    "kg_grammar_escapes" ->
      """SELECT * FROM (VALUES
        |  (1, 0, 'http://ex.org/A', 'p:a', 'ABC', CAST(NULL AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#string'),
        |  (2, 0, 'u:' || chr(66354) || 'x', 'p:b', 'tab' || chr(9) || 'here', NULL, 'http://www.w3.org/2001/XMLSchema#string'),
        |  (3, 0, 't:' || chr(65533) || 't', 'p:c', 'nl' || chr(10) || 'nl', NULL, 'http://www.w3.org/2001/XMLSchema#string'),
        |  (4, 1, '1a', 'p:d', 'q"w\e''r', NULL, 'http://www.w3.org/2001/XMLSchema#string'),
        |  (5, 0, 'a:b', 'p:e', 'v', 'en-US', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'),
        |  (6, 0, 'a:b', 'p:f', '123', NULL, 'x:int')
        |) t(line, skind, subj, pred, obj, lang, dt)""".stripMargin,

    "kg_lenient_long_literals" ->
      """SELECT * FROM (VALUES
        |  ('len.nt', 1, 'multi "quoted" text', CAST(NULL AS VARCHAR)),
        |  ('len.nt', 2, 'tagged', 'en'),
        |  ('len.nt', 4, 'short still works', NULL),
        |  ('strict.nt', 1, 'plain', NULL)
        |) t(path, line, obj, lang)""".stripMargin,

    // adv.nt: each of the 50k body lines contributes x + an escaped quote
    // (-> ") + two literal quotes + the newline
    "kg_lenient_multiline" ->
      """SELECT * FROM (VALUES
        |  ('ml.nt', 1, 'multi' || chr(10) || 'line "quoted"' || chr(10) || 'text', CAST(NULL AS VARCHAR)),
        |  ('ml.nt', 4, 'tag' || chr(10) || 'ged', 'en'),
        |  ('ml.nt', 7, 'last', NULL),
        |  ('adv.nt', 1, chr(10) || repeat('x' || repeat(chr(34), 3) || chr(10), 50000) || 'end', NULL)
        |) t(path, line, obj, lang)""".stripMargin,

    "kg_skolemize" ->
      s"""WITH d AS (SELECT 'bn/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path FROM nation),
         |s AS (SELECT path, sha256('synthetic/bnodes' || '|' || '${Corpus.FixedCommit}' || '|' || path || '|' || 'b') AS skolem_subj FROM d)
         |SELECT path, 1 AS line, skolem_subj FROM s
         |UNION ALL SELECT path, 2, skolem_subj FROM s""".stripMargin,

    "kg_canonicalize" ->
      """SELECT * FROM (VALUES
        |  (1, 'http://example.com/Path?Q=1'),
        |  (2, 'https://example.com/x'),
        |  (3, 'https://example.com:8443/x'),
        |  (4, 'urn:ISBN:123'),
        |  (5, 'http://example.com/CaseKept')
        |) t(line, canon)""".stripMargin,

    "kg_nodes" ->
      s"""WITH terms AS (
         |  SELECT 0 AS kind, 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS value, CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dt FROM nation
         |  UNION ALL SELECT DISTINCT 0, 'urn:col:nation:n_name', NULL, NULL FROM nation
         |  UNION ALL SELECT DISTINCT 0, 'urn:col:nation:n_regionkey', NULL, NULL FROM nation
         |  UNION ALL SELECT 2, n_name, NULL, '$XSD_STR' FROM nation
         |  UNION ALL SELECT DISTINCT 2, CAST(n_regionkey AS VARCHAR), NULL, '$XSD_STR' FROM nation)
         |SELECT DISTINCT
         |  CASE WHEN kind = 0 THEN sha256('<' || value || '>')
         |       ELSE sha256('"' || value || '"^^<' || dt || '>') END AS id,
         |  kind, value, lang, dt
         |FROM terms""".stripMargin,

    "kg_edges" ->
      s"""SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>') AS subj_id,
         |       'urn:col:nation:n_name' AS pred,
         |       sha256('"' || n_name || '"^^<$XSD_STR>') AS obj_id,
         |       1 AS line
         |FROM nation
         |UNION ALL
         |SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>'),
         |       'urn:col:nation:n_regionkey',
         |       sha256('"' || CAST(n_regionkey AS VARCHAR) || '"^^<$XSD_STR>'),
         |       2
         |FROM nation""".stripMargin,

    "kg_resume_antijoin" ->
      """SELECT CAST(n_nationkey % 8 AS BIGINT) AS bucket,
        |       'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path
        |FROM nation WHERE n_nationkey % 8 NOT IN (0, 1)""".stripMargin,

    "kg_metrics_sha" ->
      """SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path,
        |       sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_name> "' || n_name || '" .'
        |              || chr(10) ||
        |              '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_regionkey> "' || CAST(n_regionkey AS VARCHAR) || '" .') AS content_sha256,
        |       CAST(2 AS BIGINT) AS n_triples, CAST(0 AS BIGINT) AS n_errors
        |FROM nation""".stripMargin,

    "kg_n3" ->
      s"""SELECT '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_name> "' || n_name || '"^^<$XSD_STR> .' AS n3 FROM nation
         |UNION ALL
         |SELECT '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_regionkey> "' || CAST(n_regionkey AS VARCHAR) || '"^^<$XSD_STR> .' FROM nation""".stripMargin,

    "kg_entry_graph" ->
      """WITH e AS (
        |  SELECT 'urn:col:nation:n_name' AS pred, 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS subj FROM nation
        |  UNION ALL SELECT 'urn:col:nation:n_regionkey', 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 'urn:col:documents:text', 'urn:g:documents:' || CAST(doc_id AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'urn:col:documents:lang', 'urn:g:documents:' || CAST(doc_id AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'urn:col:documents:source', 'urn:g:documents:' || CAST(doc_id AS VARCHAR) FROM documents)
        |SELECT pred, count(*) AS n_edges, count(DISTINCT subj) AS n_subjects FROM e GROUP BY pred""".stripMargin,

    "kg_grammar_minimal_ws" ->
      """SELECT * FROM (VALUES
        |  (1, 0, 'a:b', 0, 'e:f'),
        |  (2, 0, 'a:b', 2, 'lit'),
        |  (3, 1, 's9', 1, '1a'),
        |  (4, 0, 'a:b', 2, 'pad')
        |) t(line, skind, subj, okind, obj)""".stripMargin,

    "kg_sql_lateral_parse" ->
      """SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path, 1 AS line,
        |       'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS subj,
        |       'urn:col:nation:n_name' AS pred, n_name AS obj FROM nation
        |UNION ALL
        |SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt', 2,
        |       'urn:g:nation:' || CAST(n_nationkey AS VARCHAR),
        |       'urn:col:nation:n_regionkey', CAST(n_regionkey AS VARCHAR) FROM nation""".stripMargin,

    "td_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS w, event_type,
        |       count(*) AS n,
        |       CAST(sum(value::DECIMAL(18,2)) AS VARCHAR) AS sv
        |FROM events GROUP BY 1, 2""".stripMargin,

    "td_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT sha256(text) AS digest, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM all_docs GROUP BY 1""".stripMargin,

    // minhash i = min over shingles of sha256(shingle) hex slice [8i, 8i+8)
    // — mirrors Dedup.minhashSignature (ONE digest per shingle); the cand
    // CTE carries the same keeper-star mega-bucket split as the Spark op
    "td_dedup_minhash_lsh" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
         |hx AS (SELECT doc_id, sha256(s) h FROM sh),
         |sig AS (SELECT doc_id, $oracleMinhashCols FROM hx GROUP BY 1),
         |bands AS ($oracleBandsUnion),
         |$oracleCandCte
         |SELECT a, b FROM cand""".stripMargin,

    "td_dedup_jaccard" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
         |hx AS (SELECT doc_id, sha256(s) h FROM sh),
         |sig AS (SELECT doc_id, $oracleMinhashCols FROM hx GROUP BY 1),
         |bands AS ($oracleBandsUnion),
         |$oracleCandCte,
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |inter AS (SELECT cand.a, cand.b, count(*) i
         |          FROM cand
         |          JOIN sh x ON x.doc_id = cand.a
         |          JOIN sh y ON y.doc_id = cand.b AND x.s = y.s
         |          GROUP BY 1, 2)
         |SELECT a, b, i AS inter, (sa.n + sb.n - i) AS union_
         |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |WHERE i * 5 >= (sa.n + sb.n - i) * 4""".stripMargin,

    "td_dedup_simhash" -> {
      val hexpr = dkHash64.format("tok")
      val sums = (0 until 16).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
      val bits = (0 until 16).map(j =>
        s"(CASE WHEN s$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, $hexpr AS h FROM toks),
         |s AS (SELECT doc_id, $sums FROM h GROUP BY 1)
         |SELECT doc_id AS id, ($bits) AS simhash FROM s""".stripMargin
    },

    // same two-stage semantics as the Spark plan: hyperplane buckets from
    // sha256-derived coefficients (Similarity.planeCoef), candidates =
    // bucket collisions, exact cosine verify. 2^59 = 576460752303423488.
    "td_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |coef AS (SELECT t.t, p.p,
        |           list(('0x'||substr(sha256('hp:'||t.t||':'||p.p||':'||d.d),1,15))::BIGINT::DOUBLE
        |                / 576460752303423488.0 - 1.0 ORDER BY d.d) c
        |         FROM unnest(generate_series(0,7)) t(t),
        |              unnest(generate_series(0,7)) p(p),
        |              unnest(generate_series(0,63)) d(d)
        |         GROUP BY 1, 2),
        |buck AS (SELECT e.vec_id, coef.t,
        |                sum(CASE WHEN list_dot_product(e.v, coef.c) >= 0 THEN 1 << coef.p ELSE 0 END) b
        |         FROM e, coef GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.vec_id a, y.vec_id b
        |         FROM buck x JOIN buck y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id)
        |SELECT cand.a, cand.b
        |FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
        |WHERE list_dot_product(ea.v, eb.v)
        |      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.40""".stripMargin,

    // same recipe as td_dedup_embedding (bucket reconstruction) +
    // td_ann_ivf (candidates -> cosine -> row_number), tables=16 planes=4:
    // buckets, candidate set, and ranking are bit-identical cross-engine
    "td_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |coef AS (SELECT t.t, p.p,
        |           list(('0x'||substr(sha256('hp:'||t.t||':'||p.p||':'||d.d),1,15))::BIGINT::DOUBLE
        |                / 576460752303423488.0 - 1.0 ORDER BY d.d) c
        |         FROM unnest(generate_series(0,15)) t(t),
        |              unnest(generate_series(0,3)) p(p),
        |              unnest(generate_series(0,63)) d(d)
        |         GROUP BY 1, 2),
        |buck AS (SELECT e.vec_id, coef.t,
        |                sum(CASE WHEN list_dot_product(e.v, coef.c) >= 0 THEN 1 << coef.p ELSE 0 END) b
        |         FROM e, coef GROUP BY 1, 2),
        |qb AS (SELECT * FROM buck WHERE vec_id < 5),
        |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        |         FROM buck cb JOIN qb ON cb.t = qb.t AND cb.b = qb.b
        |         WHERE cb.vec_id <> qb.vec_id),
        |s AS (SELECT query_id, neighbor_id,
        |             list_dot_product(eq.v, en.v)
        |               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))) AS cos
        |      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e en ON en.vec_id = neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 10""".stripMargin,

    "td_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id query_id, e.vec_id neighbor_id,
        |             list_dot_product(e.v, q.v)
        |               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))) AS c
        |      FROM q JOIN e ON e.vec_id <> q.vec_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 10""".stripMargin,

    // IVF: cid in the Spark plan is the centroid INDEX after sorting by
    // vec_id; centroids are vec_id 0..15 so index == vec_id
    "td_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, c.cid, list_dot_product(
        |        list_transform(range(1, 65), i -> e.v[i] - c.cv[i]),
        |        list_transform(range(1, 65), i -> e.v[i] - c.cv[i])) AS dist
        |      FROM e, c),
        |r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn FROM d),
        |assign AS (SELECT vec_id, cid FROM r WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, cid FROM r WHERE vec_id < 5 AND rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |         FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
        |s AS (SELECT query_id, neighbor_id,
        |             list_dot_product(eq.v, en.v)
        |               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))) AS cos
        |      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e en ON en.vec_id = neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s) WHERE rank <= 10""".stripMargin,

    // two unrolled deterministic Lloyd's iterations, then the td_ann_ivf
    // probe pipeline against the final centroids c2
    "td_ann_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |${kmeansIterSql(0)},
         |${kmeansIterSql(1)},
         |df AS (SELECT e.vec_id, c2.cid, list_dot_product(
         |        list_transform(range(1, 65), ix -> e.v[ix] - c2.cv[ix]),
         |        list_transform(range(1, 65), ix -> e.v[ix] - c2.cv[ix])) AS dist
         |      FROM e, c2),
         |rf AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn FROM df),
         |assign AS (SELECT vec_id, cid FROM rf WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, cid FROM rf WHERE vec_id < 5 AND rn <= 4),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |         FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.vec_id <> p.query_id),
         |sc AS (SELECT query_id, neighbor_id,
         |             list_dot_product(eq.v, en.v)
         |               / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(en.v, en.v))) AS cos
         |      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e en ON en.vec_id = neighbor_id)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM sc) WHERE rank <= 10""".stripMargin,

    // every nation subject carries exactly the (n_name, n_regionkey)
    // predicate pair
    "kg_bucketed_traversal" ->
      """SELECT 'urn:col:nation:n_name' AS pred_a,
        |       'urn:col:nation:n_regionkey' AS pred_b,
        |       count(DISTINCT n_nationkey) AS n_subjects
        |FROM nation""".stripMargin,

    // the doubled stream keeps exactly one copy of every distinct doc
    // value-space FILTER mirror: the id-level pipeline reduces to a
    // plain numeric predicate over the source column
    "kg_bgp_typed_filter" ->
      """SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       CAST(o_custkey AS BIGINT) AS cust
        |FROM orders WHERE o_custkey % 100 = 0""".stripMargin,

    // stream-static enrichment mirror: the nation->regionkey edge
    // joined to the region dimension
    "kg_stream_bgp" ->
      """SELECT 'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS n,
        |       CAST(n_regionkey AS VARCHAR) AS rk, r_name AS rname
        |FROM nation JOIN region ON r_regionkey = n_regionkey""".stripMargin,

    "kg_stream_dedup" ->
      """SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path,
        |       sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_name> "' || n_name || '" .'
        |              || chr(10) ||
        |              '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '> <urn:col:nation:n_regionkey> "' || CAST(n_regionkey AS VARCHAR) || '" .') AS content_sha256
        |FROM nation""".stripMargin,

    "kg_stream_parity" ->
      """SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt' AS path, 1 AS line,
        |       'urn:g:nation:' || CAST(n_nationkey AS VARCHAR) AS subj,
        |       'urn:col:nation:n_name' AS pred, n_name AS obj FROM nation
        |UNION ALL
        |SELECT 'nation/' || CAST(n_nationkey AS VARCHAR) || '.nt', 2,
        |       'urn:g:nation:' || CAST(n_nationkey AS VARCHAR),
        |       'urn:col:nation:n_regionkey', CAST(n_regionkey AS VARCHAR) FROM nation""".stripMargin,

    "td_lang_id" -> {
      val langs = TextOps.stopwords.toSeq.sortBy(_._1)
      val scores = langs.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($inList))) AS s_$l"
      }.mkString(", ")
      val best = s"greatest(${langs.map(l => s"s_${l._1}").mkString(", ")})"
      val cases = langs.map { case (l, _) =>
        s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'"
      }.mkString(" ")
      s"""WITH s AS (SELECT doc_id, $scores FROM documents)
         |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM s""".stripMargin
    },

    "td_text_quality" -> {
      val allStop = TextOps.stopwords.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') w FROM documents)
         |SELECT doc_id AS id,
         |  length(text) AS n_chars,
         |  len(w) AS n_tokens,
         |  len(list_distinct(w)) AS n_distinct_tokens,
         |  CAST(floor(list_aggregate(list_transform(w, x -> length(x)), 'sum') * 100.0 / len(w)) AS BIGINT) AS mean_tok_len_x100,
         |  CAST(floor(len(list_filter(w, t -> t IN ($allStop))) * 1000.0 / len(w)) AS BIGINT) AS stop_per_1000,
         |  list_aggregate(list_transform(w, x -> length(x)), 'max') AS max_tok_len
         |FROM d""".stripMargin
    },

    "td_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_regex_tokens
        |FROM documents""".stripMargin,

    "td_fingerprint" ->
      """SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "td_winnow" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) - 2 >= 1
        |         THEN list_transform(generate_series(1, len(tk) - 2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
        |         ELSE [] END s FROM d),
        |hx AS (SELECT doc_id, list_transform(s, x -> ('0x'||substr(sha256(x),1,15))::BIGINT) h FROM sh),
        |mn AS (SELECT doc_id, CASE
        |         WHEN len(h) = 0 THEN []
        |         WHEN len(h) < 4 THEN [list_min(h)]
        |         ELSE list_sort(list_distinct(list_transform(generate_series(1, len(h) - 3),
        |                i -> least(h[i], h[i+1], h[i+2], h[i+3])))) END m FROM hx)
        |SELECT doc_id, CAST(len(m) AS BIGINT) AS n_fp,
        |       sha256(array_to_string(m, ',')) AS fp_sha
        |FROM mn""".stripMargin,

    "kg_parse_orders" ->
      """WITH t AS (
        |  SELECT 'urn:col:orders:o_custkey' AS pred, CAST(o_custkey AS VARCHAR) AS v FROM orders
        |  UNION ALL SELECT 'urn:col:orders:o_totalprice', printf('%.2f', o_totalprice) FROM orders
        |  UNION ALL SELECT 'urn:col:orders:o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
        |  UNION ALL SELECT 'urn:col:orders:o_orderpriority', o_orderpriority FROM orders)
        |SELECT pred, count(*) AS n, count(DISTINCT v) AS n_distinct_values FROM t GROUP BY pred""".stripMargin,

    "kg_typed_values" ->
      """SELECT 'urn:col:orders:o_custkey' AS pred, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_long,
        |       CAST(NULL AS VARCHAR) AS sum_dec, CAST(NULL AS VARCHAR) AS min_date, CAST(NULL AS BIGINT) AS n_true
        |FROM orders
        |UNION ALL SELECT 'urn:col:orders:o_totalprice', count(*), NULL,
        |       CAST(sum(printf('%.2f', o_totalprice)::DECIMAL(18,2)) AS VARCHAR), NULL, NULL FROM orders
        |UNION ALL SELECT 'urn:col:orders:o_orderdate', count(*), NULL, NULL,
        |       strftime(min(o_orderdate), '%Y-%m-%d'), NULL FROM orders
        |UNION ALL SELECT 'urn:col:orders:o_even', count(*), NULL, NULL, NULL,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT) FROM orders""".stripMargin,

    "kg_enrich_customer" ->
      """SELECT 'urn:g:orders:' || CAST(o_orderkey AS VARCHAR) AS order_iri, c_name, c_mktsegment
        |FROM orders JOIN customer ON c_custkey = o_custkey""".stripMargin,

    "td_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id, count(*) n2, count(*) - count(DISTINCT s) dup FROM (
        |        SELECT doc_id, w[i] || ' ' || w[i+1] s
        |        FROM d, unnest(generate_series(1, len(w) - 1)) t(i)) GROUP BY doc_id),
        |tt AS (SELECT doc_id, max(c) top_c, sum(c) n_tokens FROM (
        |         SELECT doc_id, tok, count(*) c FROM (
        |           SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents)
        |         GROUP BY 1, 2) GROUP BY 1)
        |SELECT d.doc_id AS id,
        |  CASE WHEN g.n2 > 0 THEN CAST(floor(g.dup * 1000.0 / g.n2) AS BIGINT) ELSE 0 END AS dup_2gram_permille,
        |  CAST(floor(tt.top_c * 1000.0 / tt.n_tokens) AS BIGINT) AS top_token_permille
        |FROM d LEFT JOIN g ON g.doc_id = d.doc_id JOIN tt ON tt.doc_id = d.doc_id""".stripMargin,

    "td_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |c AS (SELECT doc_id, w,
        |        CASE WHEN len(w) <= 50 THEN 1 ELSE (len(w) - 51) // 40 + 2 END nc FROM d)
        |SELECT doc_id AS id, k AS chunk_idx,
        |       len(w[k*40+1 : k*40+50]) AS n_tokens,
        |       sha256(array_to_string(w[k*40+1 : k*40+50], ' ')) AS chunk_fp
        |FROM c, unnest(generate_series(0, nc - 1)) t(k)""".stripMargin,

    "td_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 10 < 3""".stripMargin,

    "td_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref 12345678',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "td_interdoc_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |segs AS (SELECT doc_id, k AS seg_idx, array_to_string(w[k*10+1 : k*10+10], ' ') seg
        |         FROM d, unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) t(k)),
        |bp AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM bp)),
        |tot AS (SELECT doc_id, count(*) n_total FROM segs GROUP BY 1),
        |reb AS (SELECT doc_id, count(*) n_kept,
        |               string_agg(seg, ' ' ORDER BY seg_idx) clean_text
        |        FROM kept GROUP BY 1)
        |SELECT t.doc_id AS id, COALESCE(reb.clean_text, '') AS clean_text,
        |       (t.n_total - COALESCE(reb.n_kept, 0)) AS n_dropped_segments
        |FROM tot t LEFT JOIN reb ON reb.doc_id = t.doc_id""".stripMargin,

    "td_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS s
        |       FROM d, unnest(generate_series(1, len(w) - 4)) t(i) WHERE len(w) >= 5),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |c AS (SELECT doc_id, count(*) n FROM sh
        |      WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM ev) GROUP BY 1)
        |SELECT doc_id AS id, COALESCE(c.n, 0) AS n_contaminated
        |FROM documents LEFT JOIN c USING (doc_id)
        |WHERE doc_id % 97 <> 0""".stripMargin,

    // rank = ceil(n*p/100) over the ascending sort, 1-based
    "td_quality_percentiles" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) v FROM documents),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) rn FROM d),
        |n AS (SELECT count(*) c FROM d),
        |p(p) AS (SELECT unnest([10, 50, 90, 99]))
        |SELECT p.p, CAST(o.v AS BIGINT) AS value
        |FROM p CROSS JOIN n JOIN o ON o.rn = (n.c * p.p + 99) // 100""".stripMargin,

    // the oracle uses the plain single-window definition; the Spark side
    // must produce the identical set through its two-level salted top-k
    "td_quota_sample" ->
      """SELECT id, stratum, rank FROM (
        |  SELECT doc_id AS id, lang AS stratum,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ('0x' || substr(sha256(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |           doc_id) AS rank
        |  FROM documents) WHERE rank <= 20""".stripMargin,

    "td_stream_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS w, event_type,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // a watermarked inner stream-stream join emits exactly the
    // relational join pairs (watermarks bound STATE, and nothing is
    // late within one ordered replay)
    "td_stream_join" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id
        |FROM events p
        |JOIN events v ON v.user_id = p.user_id
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin,

    // append emits a window when the watermark (max ts - 10 min over the
    // whole replay) passes its END — the relational mirror below
    "td_stream_watermark" ->
      """WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS w,
        |       event_type, count(*) AS n
        |FROM events, m
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m.wm
        |GROUP BY 1, 2""".stripMargin,

    "td_funnel" ->
      """WITH e AS (SELECT user_id, ts,
        |             CASE event_type WHEN 'view' THEN 'a'
        |               WHEN 'click' THEN 'b'
        |               WHEN 'purchase' THEN 'c'
        |               ELSE '-' END AS l
        |           FROM events),
        |s AS (SELECT user_id,
        |        string_agg(l, '' ORDER BY ts, l) AS seq
        |      FROM e GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name,
        |       CAST(sum(CASE WHEN regexp_matches(seq, 'a') THEN 1 ELSE 0 END) AS BIGINT) AS n_users FROM s
        |UNION ALL
        |SELECT 2, 'view>click',
        |       CAST(sum(CASE WHEN regexp_matches(seq, 'a.*b') THEN 1 ELSE 0 END) AS BIGINT) FROM s
        |UNION ALL
        |SELECT 3, 'view>click>purchase',
        |       CAST(sum(CASE WHEN regexp_matches(seq, 'a.*b.*c') THEN 1 ELSE 0 END) AS BIGINT) FROM s""".stripMargin,

    "td_json_props" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       count(try_cast(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS n_valid,
        |       CAST(sum(try_cast(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(try_cast(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS min_k,
        |       max(try_cast(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    "td_latest_state" ->
      """SELECT user_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       event_type, value
        |FROM events
        |QUALIFY row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

    "td_ngram_topk" ->
      """WITH d AS (SELECT string_split(text, ' ') w FROM documents),
        |g AS (SELECT w[i] || ' ' || w[i+1] AS ngram
        |      FROM d, unnest(generate_series(1, len(w) - 1)) t(i)
        |      WHERE len(w) >= 2)
        |SELECT ngram, count(*) AS n FROM g GROUP BY 1
        |ORDER BY n DESC, ngram LIMIT 50""".stripMargin,

    "td_inverted_index" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |tok AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
        |        FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
        |rare AS (SELECT term, count(*) df FROM tok GROUP BY 1
        |         HAVING count(*) BETWEEN 2 AND 20)
        |SELECT r.term, r.df,
        |       string_agg(tok.doc_id, ',' ORDER BY tok.doc_id) AS postings
        |FROM rare r JOIN tok ON tok.term = r.term
        |GROUP BY 1, 2""".stripMargin,

    "td_collocations" ->
      """WITH d AS (SELECT string_split(text, ' ') w FROM documents),
        |uni AS (SELECT t.term, count(*) c FROM d, unnest(d.w) t(term) GROUP BY 1),
        |n AS (SELECT sum(c) AS total FROM uni),
        |bi AS (SELECT w[i] a, w[i+1] b, count(*) cab
        |       FROM d, unnest(generate_series(1, len(w) - 1)) t(i)
        |       WHERE len(w) >= 2 GROUP BY 1, 2),
        |s AS (SELECT bi.a || ' ' || bi.b AS bigram, bi.cab,
        |        CAST((bi.cab * n.total * 1000) // (ca.c * cb.c) AS BIGINT) AS score_milli
        |      FROM bi
        |      CROSS JOIN n
        |      JOIN uni ca ON ca.term = bi.a
        |      JOIN uni cb ON cb.term = bi.b
        |      WHERE bi.cab >= 5)
        |SELECT bigram, cab AS n_pair, score_milli FROM s
        |ORDER BY score_milli DESC, bigram LIMIT 20""".stripMargin,

    // same 60-bit hash; (k-1)*2^60 = 255.0 * 2^60 is exactly
    // representable (8 significant bits), the single double division is
    // one IEEE op — bit-identical estimates cross-engine
    "td_sketch_distinct" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT DISTINCT lang, w[i] || ' ' || w[i+1] || ' ' || w[i+2] s
        |       FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
        |hx AS (SELECT DISTINCT lang, ('0x' || substr(sha256(s), 1, 15))::BIGINT h FROM sh),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) rn FROM hx),
        |top AS (SELECT lang, count(*) n_kept, max(CASE WHEN rn = 256 THEN h END) kth_hash
        |        FROM r WHERE rn <= 256 GROUP BY 1),
        |tru AS (SELECT lang, count(*) n_true FROM sh GROUP BY 1)
        |SELECT top.lang, tru.n_true, top.n_kept, top.kth_hash,
        |       CASE WHEN top.kth_hash IS NULL THEN top.n_kept
        |            ELSE CAST(floor(255.0 * 1152921504606846976.0 / top.kth_hash::DOUBLE) AS BIGINT)
        |       END AS est_distinct
        |FROM top JOIN tru USING (lang)""".stripMargin,

    // the naive single-window definition of the packing layout; the
    // Spark side computes it with the two-level distributed prefix sum
    "td_seq_pack" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) n FROM documents),
        |o AS (SELECT doc_id, n,
        |        CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) ofs
        |      FROM d),
        |b AS (SELECT doc_id, n, ofs, ofs // 512 b0, (ofs + n - 1) // 512 b1
        |      FROM o WHERE n > 0),
        |e AS (SELECT doc_id, n, ofs, unnest(generate_series(b0, b1)) bin_id FROM b)
        |SELECT bin_id, doc_id,
        |       greatest(bin_id * 512 - ofs, 0) AS start_tok,
        |       least((bin_id + 1) * 512, ofs + n) - greatest(bin_id * 512, ofs) AS n_toks
        |FROM e""".stripMargin,

    "td_sketch_countmin" ->
      """WITH d AS (SELECT string_split(text, ' ') w FROM documents),
        |g AS (SELECT w[i] || ' ' || w[i+1] gram
        |      FROM d, unnest(generate_series(1, len(w) - 1)) t(i) WHERE len(w) >= 2),
        |cell AS (SELECT dd.d, ('0x' || substr(sha256('cm' || dd.d || ':' || gram), 1, 15))::BIGINT % 64 j,
        |                count(*) n
        |         FROM g, unnest([0, 1, 2, 3]) dd(d) GROUP BY 1, 2),
        |tru AS (SELECT gram, count(*) true_n FROM g GROUP BY 1),
        |top5 AS (SELECT gram, true_n FROM tru ORDER BY true_n DESC, gram LIMIT 5),
        |qc AS (SELECT t.gram, dd.d,
        |              ('0x' || substr(sha256('cm' || dd.d || ':' || t.gram), 1, 15))::BIGINT % 64 j
        |       FROM top5 t, unnest([0, 1, 2, 3]) dd(d)),
        |est AS (SELECT qc.gram, min(c.n) cm_est
        |        FROM qc JOIN cell c ON c.d = qc.d AND c.j = qc.j GROUP BY 1)
        |SELECT top5.gram, top5.true_n, est.cm_est
        |FROM top5 JOIN est USING (gram)""".stripMargin,

    "td_salient_terms" ->
      """WITH tok AS (SELECT doc_id, t.term, count(*) AS tf
        |             FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) d,
        |                  unnest(d.w) AS t(term)
        |             GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS df FROM tok GROUP BY 1),
        |r AS (SELECT tok.doc_id, tok.term, tok.tf, dfr.df,
        |        row_number() OVER (PARTITION BY tok.doc_id
        |          ORDER BY dfr.df, tok.tf DESC, tok.term) AS rank
        |      FROM tok JOIN dfr USING (term))
        |SELECT doc_id, rank, term, tf, df FROM r WHERE rank <= 3""".stripMargin,

    "td_rollup_stats" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       GROUPING(lang) AS g_lang, GROUPING(source) AS g_source
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,

    // same dup-cluster reconstruction as td_dup_clusters, then the split
    // percentile = 60-bit sha256 slice of 'split:<cluster>' mod 100
    "td_split_leakfree" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
         |hx AS (SELECT doc_id, sha256(s) h FROM sh),
         |sig AS (SELECT doc_id, $oracleMinhashCols FROM hx GROUP BY 1),
         |bands AS ($oracleBandsUnion),
         |$oracleCandCte,
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |inter AS (SELECT cand.a, cand.b, count(*) i
         |          FROM cand
         |          JOIN sh x ON x.doc_id = cand.a
         |          JOIN sh y ON y.doc_id = cand.b AND x.s = y.s
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM inter
         |          JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |          WHERE i * 5 >= (sa.n + sb.n - i) * 4),
         |und AS (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM und)
         |  UNION
         |  SELECT r.src, u.y FROM reach r JOIN und u ON u.x = r.dst),
         |comp AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY 1),
         |asg AS (SELECT dd.doc_id AS id, coalesce(c.cluster, dd.doc_id) AS cluster
         |        FROM documents dd LEFT JOIN comp c ON c.id = dd.doc_id),
         |p AS (SELECT id, cluster,
         |        ('0x' || substr(sha256('split:' || cluster), 1, 15))::BIGINT % 100 AS pct
         |      FROM asg)
         |SELECT id, cluster,
         |       CASE WHEN pct < 80 THEN 'train'
         |            WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
         |FROM p""".stripMargin,

    // mirrors the union + last_value(IGNORE NULLS) running-window sweep
    "td_asof_join" ->
      """WITH u AS (
        |  SELECT user_id AS k, ts, event_id AS lid, 1 AS is_left,
        |         CAST(NULL AS BIGINT) AS rid, CAST(NULL AS DOUBLE) AS rv
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, NULL, 0, event_id, value
        |  FROM events WHERE event_type = 'view'),
        |sw AS (SELECT k, ts, lid, is_left,
        |         last_value(rid IGNORE NULLS) OVER
        |           (PARTITION BY k ORDER BY ts, is_left ROWS UNBOUNDED PRECEDING) AS asof_id,
        |         last_value(rv IGNORE NULLS) OVER
        |           (PARTITION BY k ORDER BY ts, is_left ROWS UNBOUNDED PRECEDING) AS asof_value
        |       FROM u)
        |SELECT lid AS purchase_id, k AS user_id, asof_id AS view_id, asof_value AS view_value
        |FROM sw WHERE is_left = 1""".stripMargin,

    "td_sessionize" ->
      """WITH f AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 720 MINUTE
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events),
        |g AS (SELECT user_id, ts,
        |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
        |       count(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin,

    "kg_graph_degrees" ->
      """WITH e AS (SELECT CAST(n_nationkey + 100 AS BIGINT) s, CAST(n_regionkey AS BIGINT) d FROM nation),
        |o AS (SELECT s AS node_id, count(*) out_deg FROM e GROUP BY 1),
        |i AS (SELECT d AS node_id, count(*) in_deg FROM e GROUP BY 1)
        |SELECT COALESCE(o.node_id, i.node_id) AS node_id,
        |       COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg
        |FROM o FULL OUTER JOIN i ON o.node_id = i.node_id""".stripMargin,

    "kg_graph_components" ->
      """SELECT CAST(n_nationkey + 100 AS BIGINT) AS node_id, CAST(n_regionkey AS BIGINT) AS component FROM nation
        |UNION
        |SELECT DISTINCT CAST(n_regionkey AS BIGINT), CAST(n_regionkey AS BIGINT) FROM nation""".stripMargin,

    "td_embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') amax FROM e),
        |q AS (SELECT vec_id, amax,
        |        list_transform(v, x -> CASE WHEN amax > 0
        |          THEN CAST(floor(x * (127.0 / amax) + 0.5) AS INT) ELSE 0 END) qa
        |      FROM m)
        |SELECT vec_id,
        |       CAST(floor(amax * 1000000000.0) AS BIGINT) AS amax_x1e9,
        |       sha256(array_to_string(qa, ',')) AS q_fp,
        |       CAST(list_aggregate(qa, 'sum') AS BIGINT) AS q_sum
        |FROM q""".stripMargin,

    // bounded recursive walk; min(dist) == first-visit BFS distance
    "kg_bfs_distances" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT CAST(n_nationkey AS BIGINT) s, CAST((n_nationkey + 1) % 25 AS BIGINT) d FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), CAST((n_nationkey + 2) % 25 AS BIGINT) FROM nation),
        |und AS (SELECT DISTINCT s x, d y FROM e0 WHERE s <> d
        |        UNION SELECT d, s FROM e0 WHERE s <> d),
        |walk(node_id, dist) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT u.y, w.dist + 1 FROM walk w JOIN und u ON u.x = w.node_id WHERE w.dist < 3)
        |SELECT node_id, min(dist) AS dist FROM walk GROUP BY 1""".stripMargin,

    // same degree-ordered orientation: (deg, id)-smaller endpoint points
    // to the larger; wedges on the common source, closure on the
    // id-ordered pair — mirrors GraphOps.trianglesPerNode exactly
    "kg_triangles" ->
      """WITH e0 AS (
        |  SELECT CAST(n_nationkey AS BIGINT) s, CAST((n_nationkey + 1) % 25 AS BIGINT) d FROM nation
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT), CAST((n_nationkey + 2) % 25 AS BIGINT) FROM nation),
        |und AS (SELECT DISTINCT least(s, d) a, greatest(s, d) b FROM e0 WHERE s <> d),
        |deg AS (SELECT n, count(*) dg FROM (
        |          SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
        |o AS (SELECT CASE WHEN (pa.dg, und.a) < (pb.dg, und.b) THEN und.a ELSE und.b END u,
        |             CASE WHEN (pa.dg, und.a) < (pb.dg, und.b) THEN und.b ELSE und.a END v
        |      FROM und JOIN deg pa ON pa.n = und.a JOIN deg pb ON pb.n = und.b),
        |wed AS (SELECT o1.u tu, o1.v tx, o2.v ty
        |        FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
        |tri AS (SELECT tu, tx, ty FROM wed
        |        WHERE EXISTS (SELECT 1 FROM und WHERE und.a = wed.tx AND und.b = wed.ty)),
        |ex AS (SELECT tu n FROM tri UNION ALL SELECT tx FROM tri UNION ALL SELECT ty FROM tri),
        |cnt AS (SELECT n, count(*) c FROM ex GROUP BY 1),
        |alln AS (SELECT DISTINCT s n FROM e0 UNION SELECT DISTINCT d FROM e0)
        |SELECT alln.n AS node_id, COALESCE(cnt.c, 0) AS n_triangles
        |FROM alln LEFT JOIN cnt ON cnt.n = alln.n""".stripMargin,

    "kg_pagerank" ->
      s"""WITH e AS (SELECT CAST(n_nationkey + 100 AS BIGINT) s, CAST(n_regionkey AS BIGINT) d FROM nation),
         |nodes AS (SELECT DISTINCT s AS n FROM e UNION SELECT DISTINCT d FROM e),
         |deg AS (SELECT s AS n, count(*) dg FROM e GROUP BY 1),
         |p0 AS (SELECT n, CAST(1000000000000 AS BIGINT) pr FROM nodes),
         |${pagerankIterSql(0)},
         |${pagerankIterSql(1)},
         |${pagerankIterSql(2)}
         |SELECT n AS node_id, pr AS pr_scaled FROM p3""".stripMargin,

    // star BGP with a pushed constant: docs with lang = 'en' and their
    // source node — ids via the same n3+sha256 recipe as kg_edges
    "kg_bgp_match" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS doc,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents WHERE lang = 'en'""".stripMargin,

    // chain BGP over the labeled ring: each a matches exactly the
    // (a, a+1, a+2) closure, because skip(a) = a+2 = next(next(a))
    "kg_bgp_path" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS a,
        |       CAST((n_nationkey + 1) % 25 AS VARCHAR) AS b,
        |       CAST((n_nationkey + 2) % 25 AS VARCHAR) AS c
        |FROM nation""".stripMargin,

    // the optional group resolves closed-form: even nodes bind c = a+2
    "kg_bgp_optional" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS a,
        |       CAST((n_nationkey + 1) % 25 AS VARCHAR) AS b,
        |       CASE WHEN n_nationkey % 2 = 0
        |            THEN CAST((n_nationkey + 2) % 25 AS VARCHAR) END AS c
        |FROM nation""".stripMargin,

    // mirrors EntityResolution.resolveEntities: same variants, same
    // normalization, same two block keys (incl. the greatest(1, ...)
    // suffix-start definition), same levenshtein bound, CC via the
    // established recursive-reach CTE, singletons label themselves
    "kg_entity_resolution" ->
      """WITH RECURSIVE ents AS (
        |  SELECT CAST(n_nationkey * 10 AS BIGINT) id, substr(sha256(n_name), 1, 12) lbl FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 1, upper(substr(sha256(n_name), 1, 12)) || '.' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 2, substr(sha256(n_name), 1, 12) || 'xx' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 3, substr(sha256(n_name), 2, 11) FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 4, substr(sha256(n_name), 1, 12) || 'zzz' FROM nation),
        |nz AS (SELECT id, regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g') norm FROM ents
        |       WHERE length(regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g')) > 0),
        |keys AS (SELECT DISTINCT id, norm, bkey FROM (
        |  SELECT id, norm, 'p:' || substr(norm, 1, 4) bkey FROM nz
        |  UNION ALL SELECT id, norm, 's:' || substr(norm, greatest(1, length(norm) - 3), 4) bkey FROM nz)),
        |ok AS (SELECT bkey FROM keys GROUP BY 1 HAVING count(*) <= 1000),
        |kb AS (SELECT keys.* FROM keys JOIN ok USING (bkey)),
        |pairs AS (SELECT DISTINCT x.id a, y.id b FROM kb x JOIN kb y
        |          ON x.bkey = y.bkey AND x.id < y.id
        |          AND abs(length(x.norm) - length(y.norm)) <= 2
        |          AND levenshtein(x.norm, y.norm) <= 2),
        |und AS MATERIALIZED (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT x, x FROM (SELECT DISTINCT x FROM und)
        |  UNION SELECT r.src, u.y FROM reach r JOIN und u ON u.x = r.dst),
        |lab AS (SELECT src id, min(dst) canonical FROM reach GROUP BY 1)
        |SELECT e.id, CAST(COALESCE(lab.canonical, e.id) AS BIGINT) AS canonical
        |FROM ents e LEFT JOIN lab ON lab.id = e.id""".stripMargin,

    // rewrite mirror: the full ER pipeline (same CTE chain as
    // kg_entity_resolution) produces the (id, canonical) map; the edge
    // list joins through it on both endpoints and DISTINCT makes the
    // merged graph a set
    "kg_sameas_rewrite" ->
      """WITH RECURSIVE ents AS (
        |  SELECT CAST(n_nationkey * 10 AS BIGINT) id, substr(sha256(n_name), 1, 12) lbl FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 1, upper(substr(sha256(n_name), 1, 12)) || '.' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 2, substr(sha256(n_name), 1, 12) || 'xx' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 3, substr(sha256(n_name), 2, 11) FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 4, substr(sha256(n_name), 1, 12) || 'zzz' FROM nation),
        |nz AS (SELECT id, regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g') norm FROM ents
        |       WHERE length(regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g')) > 0),
        |keys AS (SELECT DISTINCT id, norm, bkey FROM (
        |  SELECT id, norm, 'p:' || substr(norm, 1, 4) bkey FROM nz
        |  UNION ALL SELECT id, norm, 's:' || substr(norm, greatest(1, length(norm) - 3), 4) bkey FROM nz)),
        |ok AS (SELECT bkey FROM keys GROUP BY 1 HAVING count(*) <= 1000),
        |kb AS (SELECT keys.* FROM keys JOIN ok USING (bkey)),
        |pairs AS (SELECT DISTINCT x.id a, y.id b FROM kb x JOIN kb y
        |          ON x.bkey = y.bkey AND x.id < y.id
        |          AND abs(length(x.norm) - length(y.norm)) <= 2
        |          AND levenshtein(x.norm, y.norm) <= 2),
        |und AS MATERIALIZED (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT x, x FROM (SELECT DISTINCT x FROM und)
        |  UNION SELECT r.src, u.y FROM reach r JOIN und u ON u.x = r.dst),
        |lab AS (SELECT src id, min(dst) canonical FROM reach GROUP BY 1),
        |map AS (SELECT CAST(e.id AS VARCHAR) id,
        |               CAST(COALESCE(lab.canonical, e.id) AS VARCHAR) canonical
        |        FROM ents e LEFT JOIN lab ON lab.id = e.id),
        |edges AS (
        |  SELECT CAST(n_nationkey * 10 AS VARCHAR) s, 'urn:variant' p,
        |         CAST(n_nationkey * 10 + 1 AS VARCHAR) o FROM nation
        |  UNION ALL SELECT CAST(n_nationkey * 10 + 1 AS VARCHAR), 'urn:variant',
        |         CAST(n_nationkey * 10 + 2 AS VARCHAR) FROM nation
        |  UNION ALL SELECT CAST(n_nationkey * 10 + 2 AS VARCHAR), 'urn:variant',
        |         CAST(n_nationkey * 10 + 4 AS VARCHAR) FROM nation
        |  UNION ALL SELECT CAST(n_nationkey * 10 AS VARCHAR), 'urn:peer',
        |         CAST((CAST(n_nationkey AS BIGINT) + 1) % 25 * 10 + 2 AS VARCHAR) FROM nation
        |  UNION ALL SELECT CAST(n_nationkey * 10 + 4 AS VARCHAR), 'urn:ext',
        |         'x:' || CAST(n_nationkey AS VARCHAR) FROM nation)
        |SELECT DISTINCT COALESCE(ms.canonical, e.s) AS subj_id, e.p AS pred,
        |       COALESCE(mo.canonical, e.o) AS obj_id
        |FROM edges e
        |LEFT JOIN map ms ON ms.id = e.s
        |LEFT JOIN map mo ON mo.id = e.o""".stripMargin,

    // same variants -> same two block keys -> member counts; the drop
    // flag mirrors maxBlock = 3
    "kg_er_blocks" ->
      """WITH ents AS (
        |  SELECT CAST(n_nationkey * 10 AS BIGINT) id, substr(sha256(n_name), 1, 12) lbl FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 1, upper(substr(sha256(n_name), 1, 12)) || '.' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 2, substr(sha256(n_name), 1, 12) || 'xx' FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 3, substr(sha256(n_name), 2, 11) FROM nation
        |  UNION ALL SELECT n_nationkey * 10 + 4, substr(sha256(n_name), 1, 12) || 'zzz' FROM nation),
        |nz AS (SELECT id, regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g') norm FROM ents
        |       WHERE length(regexp_replace(lower(lbl), '[^a-z0-9]+', '', 'g')) > 0),
        |keys AS (SELECT DISTINCT id, norm, bkey FROM (
        |  SELECT id, norm, 'p:' || substr(norm, 1, 4) bkey FROM nz
        |  UNION ALL SELECT id, norm, 's:' || substr(norm, greatest(1, length(norm) - 3), 4) bkey FROM nz))
        |SELECT bkey, CAST(count(*) AS BIGINT) AS n_members,
        |       CASE WHEN count(*) > 3 THEN 1 ELSE 0 END AS dropped_i
        |FROM keys GROUP BY 1""".stripMargin,

    // rdfs11 closure via recursive reach + rdfs9 inheritance join —
    // asserted types plus every transitive superclass
    "kg_rdfs_closure" ->
      """WITH RECURSIVE sub AS (
        |  SELECT DISTINCT 'n:' || CAST(n_nationkey AS VARCHAR) a, 'r:' || CAST(n_regionkey AS VARCHAR) b FROM nation
        |  UNION SELECT DISTINCT 'r:' || CAST(n_regionkey AS VARCHAR), 'thing' FROM nation),
        |reach(a, b) AS (SELECT a, b FROM sub UNION SELECT r.a, s.b FROM reach r JOIN sub s ON s.a = r.b),
        |types AS (SELECT 'c:' || CAST(c_custkey AS VARCHAR) i, 'n:' || CAST(c_nationkey AS VARCHAR) c FROM customer)
        |SELECT DISTINCT instance, class FROM (
        |  SELECT i AS instance, c AS class FROM types
        |  UNION ALL SELECT t.i, r.b FROM types t JOIN reach r ON r.a = t.c)""".stripMargin,

    // tree + K6 clique; 6 unrolled peel rounds (the graph reaches its
    // fixpoint in 3 — extra rounds are idempotent). Every CTE is
    // MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    // its predecessor ~4 times, so the inlined tree re-evaluates e0
    // exponentially (4^6 scans re-opening the parquet view exhausted the
    // process fd limit)
    "kg_kcore" ->
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) a, greatest(s, d) b FROM (
         |    SELECT CAST(n_nationkey AS BIGINT) s, CAST(n_nationkey // 2 AS BIGINT) d FROM nation WHERE n_nationkey >= 1
         |    UNION ALL
         |    SELECT CAST(x.n_nationkey AS BIGINT), CAST(y.n_nationkey AS BIGINT) FROM nation x JOIN nation y
         |      ON x.n_nationkey < y.n_nationkey AND y.n_nationkey <= 5
         |  ) WHERE s <> d),
         |${(0 until 6).map(kcoreIterSql(_, 3)).mkString(",\n")},
         |core AS (SELECT DISTINCT n FROM (SELECT a n FROM e6 UNION ALL SELECT b FROM e6))
         |SELECT n AS node_id FROM core""".stripMargin,

    // pivot mirror: every doc has exactly one value per predicate, so
    // min-object == the value; ids by the kg_edges sha256 recipe
    "kg_property_table" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS doc,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS lang_id,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS source_id,
         |       sha256('"' || text || '"^^<$XSD_STR>') AS text_id
         |FROM documents""".stripMargin,

    // same integer BM25 formula (rational idf, 20L-cleared denominator);
    // DuckDB's HUGEINT sum is CAST back to BIGINT per the r3 rule.
    // The numerator must be HUGEINT, NOT DECIMAL(38,0): DuckDB's `//`
    // on DECIMAL operands divides at scale 0 with ROUNDING before the
    // floor (371646.56 -> 371647), while HUGEINT `//` is exact floor —
    // which is what Spark's DIV (truncating integral divide) computes
    "td_bm25" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) dl FROM documents),
        |tot AS (SELECT count(*) n, CAST(sum(dl) AS BIGINT) l FROM d),
        |tf AS (SELECT doc_id, t term, count(*) tf
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents)
        |       WHERE t IN ('spark', 'window', 'merge') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |idf AS (SELECT term, CAST(((n - df) * 1000000) // (df + 1) AS BIGINT) idf FROM df, tot),
        |c AS (SELECT tf.doc_id,
        |             CAST((CAST(idf.idf AS HUGEINT) * 44 * l * tf) //
        |                  (20*l*tf + 6*l + 18*d.dl*n) AS BIGINT) contrib
        |      FROM tf JOIN idf USING (term) JOIN d ON d.doc_id = tf.doc_id, tot)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_scaled FROM c GROUP BY 1
        |ORDER BY score_scaled DESC, doc_id LIMIT 50""".stripMargin,

    // same scaled-integer iteration over the materialized corpus edge
    // list: term ids by the kg_edges sha256 formulas, then the 60-bit
    // hash->long recipe both engines share
    "kg_pagerank_edges" ->
      s"""WITH ed AS (
         |  SELECT '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>' st, '"' || n_name || '"^^<$XSD_STR>' ot FROM nation
         |  UNION ALL SELECT '<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>', '"' || CAST(n_regionkey AS VARCHAR) || '"^^<$XSD_STR>' FROM nation
         |  UNION ALL SELECT '<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>', '"' || text || '"^^<$XSD_STR>' FROM documents
         |  UNION ALL SELECT '<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>', '"' || lang || '"^^<$XSD_STR>' FROM documents
         |  UNION ALL SELECT '<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>', '"' || source || '"^^<$XSD_STR>' FROM documents),
         |e AS (SELECT ('0x' || substr(sha256(st), 1, 15))::BIGINT s,
         |             ('0x' || substr(sha256(ot), 1, 15))::BIGINT d FROM ed),
         |nodes AS (SELECT DISTINCT s AS n FROM e UNION SELECT DISTINCT d FROM e),
         |deg AS (SELECT s AS n, count(*) dg FROM e GROUP BY 1),
         |p0 AS (SELECT n, CAST(1000000000000 AS BIGINT) pr FROM nodes),
         |${pagerankIterSql(0)},
         |${pagerankIterSql(1)},
         |${pagerankIterSql(2)}
         |SELECT n AS node_id, pr AS pr_scaled FROM p3""".stripMargin,

    // same shingle/LSH/Jaccard chain as td_dedup_jaccard, then connected
    // components as a recursive transitive closure + min-label
    "td_dup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM d, unnest(generate_series(1, len(w) - 2)) t(i) WHERE len(w) >= 3),
         |hx AS (SELECT doc_id, sha256(s) h FROM sh),
         |sig AS (SELECT doc_id, $oracleMinhashCols FROM hx GROUP BY 1),
         |bands AS ($oracleBandsUnion),
         |$oracleCandCte,
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |inter AS (SELECT cand.a, cand.b, count(*) i
         |          FROM cand
         |          JOIN sh x ON x.doc_id = cand.a
         |          JOIN sh y ON y.doc_id = cand.b AND x.s = y.s
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM inter
         |          JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         |          WHERE i * 5 >= (sa.n + sb.n - i) * 4),
         |und AS (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT x, x FROM (SELECT DISTINCT x FROM und)
         |  UNION
         |  SELECT r.src, u.y FROM reach r JOIN und u ON u.x = r.dst)
         |SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY 1""".stripMargin,

    "td_multimodal" ->
      // every branch is the SYNTHESIS rule of a real container the Spark
      // side decodes back: PNG dims (syntheticPng), WAV rate/channels/
      // frames (syntheticWav), animated-GIF dims/frames (syntheticGif)
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 3 AS r
        |  FROM documents)
        |SELECT media_id,
        |  CASE r WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE r WHEN 0 THEN 16 + (media_id % 8) * 4
        |         WHEN 1 THEN 8000 + (media_id % 4) * 4000
        |         ELSE 8 + (media_id % 5) * 2 END AS width,
        |  CASE r WHEN 0 THEN 8 + (media_id % 5) * 4
        |         WHEN 1 THEN 1
        |         ELSE 6 + (media_id % 3) * 2 END AS height,
        |  CASE r WHEN 0 THEN 1
        |         WHEN 1 THEN 400 + (media_id % 7) * 100
        |         ELSE 3 + (media_id % 6) END AS n_frames
        |FROM m""".stripMargin,

    // identical bindings to kg_bgp_match — the join ORDER the engine
    // picks is invisible to the result (equi-joins commute)
    "kg_bgp_reorder" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS doc,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents WHERE lang = 'en'""".stripMargin,

    // FILTER mirror: the id-level disjunction/inequality over node ids
    // is exactly a value-level predicate over the source columns
    "kg_bgp_filter" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS doc,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents WHERE lang IN ('en', 'fr') AND source <> 'src0'""".stripMargin,

    // transitive closure of the 'up' tree (i -> i DIV 2) as a recursive
    // reach CTE; the peer ring must NOT leak in
    "kg_bgp_path_plus" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1),
        |reach(s, o) AS (SELECT s, o FROM e
        |                UNION SELECT r.s, e.o FROM reach r JOIN e ON e.s = r.o)
        |SELECT s, o FROM reach""".stripMargin,

    // union-of-solution-mappings: the zh branch binds no src -> NULL
    "kg_bgp_union" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       CAST(NULL AS VARCHAR)
         |FROM documents WHERE lang = 'zh'""".stripMargin,

    // the parsed OPTIONAL always binds (every doc has a source), so the
    // FILTER reduces to the source inequality over the en docs
    "kg_sparql_parse" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS doc,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents WHERE lang = 'en' AND source <> 'src0'""".stripMargin,

    // EXISTS is a semi-join on src1 docs, NOT EXISTS an anti-join on the
    // en docs; the single-valued columns make both plain predicates here
    "kg_sparql_exists" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l
         |FROM documents WHERE source = 'src1' AND lang <> 'en'""".stripMargin,

    // string value-space mirror: LANG/STR/STRSTARTS/CONTAINS/STRENDS
    // reduce to plain string predicates over the source columns; the
    // lang-tagged literal ids hash value + tag + rdf:langString
    "kg_sparql_strfilter" ->
      """SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
        |       sha256('"' || source || '"@' || lang ||
        |              '^^<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>') AS c
        |FROM documents
        |WHERE lang <> 'en' AND starts_with(source, 'src')
        |  AND (contains(source, '2') OR ends_with(source, '4'))""".stripMargin,

    // SUM/AVG mirror: the SAME exact-accumulation route — the literal's
    // LEXICAL form (both engines render the double shortest-roundtrip)
    // cast to DECIMAL(28,10), summed exactly, one final cast to double;
    // a double-summed mirror would be order-sensitive and hash-unstable
    "kg_sparql_sum_avg" ->
      """WITH v AS (SELECT o_custkey,
        |                  CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(28,10)) AS p
        |           FROM orders)
        |SELECT sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c,
        |       CAST(SUM(p) AS DOUBLE) AS total,
        |       CAST(SUM(p) AS DOUBLE) / COUNT(*) AS mean,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v GROUP BY o_custkey""".stripMargin,

    // DESCRIBE mirror: every outgoing edge (text, lang, source) of the
    // de docs plus doc 7 — (doc, pred) pairs are unique, so UNION ALL
    // is already a set
    "kg_sparql_describe" ->
      s"""WITH d AS (SELECT * FROM documents WHERE lang = 'de' OR doc_id = 7)
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS subj_id,
         |       'urn:col:documents:text' AS pred,
         |       sha256('"' || text || '"^^<$XSD_STR>') AS obj_id FROM d
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       'urn:col:documents:lang',
         |       sha256('"' || lang || '"^^<$XSD_STR>') FROM d
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       'urn:col:documents:source',
         |       sha256('"' || source || '"^^<$XSD_STR>') FROM d""".stripMargin,

    // numeric BIND mirror: the lexical double round-trips exactly in
    // both engines, then the arithmetic is plain IEEE double in both
    "kg_sparql_bind" ->
      """WITH v AS (SELECT o_orderkey, o_custkey,
        |                  CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS p
        |           FROM orders)
        |SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c,
        |       p - p / 4 AS net
        |FROM v
        |WHERE p - p / 4 > 150000 AND o_custkey < 300""".stripMargin,

    // string BIND mirror: CONCAT/UCASE/LCASE/STR/LANG reduce to plain
    // string functions over the source columns
    "kg_sparql_bind_str" ->
      """SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
        |       upper(lang) || ':' || lower(source) AS tag
        |FROM documents
        |WHERE length(upper(lang) || ':' || lower(source)) = 7
        |  AND starts_with(upper(lang) || ':' || lower(source), 'D')""".stripMargin,

    // BIND-as-group-key mirror: the derived key is just upper(lang)
    "kg_sparql_bind_group" ->
      """SELECT upper(lang) AS u, CAST(COUNT(*) AS BIGINT) AS n,
        |       min(sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>')) AS mn
        |FROM documents GROUP BY 1""".stripMargin,

    // numeric-builtins mirror: the same floor/abs over the lexical
    // double, ROUND spelled as its floor(x+0.5) definition
    "kg_sparql_numfns" ->
      """WITH v AS (SELECT CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS p
        |           FROM orders)
        |SELECT floor(p / 50000) AS band, CAST(COUNT(*) AS BIGINT) AS n
        |FROM v
        |WHERE abs(floor(p / 50000)) < 6 AND floor(p / 50000 + 0.5) >= 1
        |GROUP BY 1""".stripMargin,

    // string-builtins mirror: SUBSTR/STRAFTER reduce to substr/strpos
    // over the source column
    "kg_sparql_strfns" ->
      """WITH v AS (SELECT doc_id,
        |                  substr(source, 1, 3) AS head,
        |                  CASE WHEN strpos(source, 'src') > 0
        |                       THEN substr(source, strpos(source, 'src') + 3)
        |                       ELSE '' END AS tail
        |           FROM documents)
        |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
        |       head, tail
        |FROM v WHERE length(tail) = 1 AND tail <> '1'""".stripMargin,

    // COALESCE mirror: matched-and-passing source, else the lang
    "kg_sparql_coalesce" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       CASE WHEN source <> 'src1'
         |            THEN sha256('"' || source || '"^^<$XSD_STR>')
         |            ELSE sha256('"' || lang || '"^^<$XSD_STR>') END AS v
         |FROM documents""".stripMargin,

    // OPTIONAL-FILTER mirror: every doc has exactly one source edge, so
    // conditioning the match is a CASE that nulls the failing sources
    "kg_sparql_opt_filter" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       CASE WHEN source <> 'src1'
         |            THEN sha256('"' || source || '"^^<$XSD_STR>') END AS s
         |FROM documents""".stripMargin,

    // resolveTerms mirror: the n3 forms directly — IRI "<...>", literal
    // with its always-printed datatype
    "kg_sparql_labels" ->
      s"""SELECT '<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>' AS d,
         |       '"' || source || '"^^<$XSD_STR>' AS s
         |FROM documents WHERE lang = 'de'""".stripMargin,

    // PREFIX mirror: expansion is pure syntax — the mirror is the plain
    // en-docs selection
    "kg_sparql_prefix" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS s
         |FROM documents WHERE lang = 'en'""".stripMargin,

    // HAVING-SUM mirror: the same exact-accumulation route as
    // kg_sparql_sum_avg — decimal(28,10) from the lexical double, one
    // final cast to double, compared in the HAVING clause
    "kg_sparql_having" ->
      """WITH v AS (SELECT o_orderkey, o_custkey,
        |                  CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(28,10)) AS p
        |           FROM orders)
        |SELECT sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM v GROUP BY o_custkey
        |HAVING CAST(SUM(p) AS DOUBLE) > 400000.5""".stripMargin,

    // subquery mirror: the aggregate-then-join reduces to a grouped CTE
    // joined back on the lang column
    "kg_sparql_subquery" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang)
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       CAST(cnt AS BIGINT) AS n
         |FROM documents JOIN c USING (lang)
         |WHERE cnt >= 100""".stripMargin,

    // REGEX mirror: both dialects (Java regex / RE2) agree on anchored
    // character classes and the inline (?i) flag
    "kg_sparql_regex" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS s
         |FROM documents
         |WHERE regexp_matches(source, '^src[24]$$')
         |  AND regexp_matches(lang, '(?i)^(EN|DE)$$')""".stripMargin,

    // predicate-variable mirror: the raw-IRI FILTER and the STR(?p)
    // read reduce to the two non-text predicates, spelled literally
    "kg_sparql_predvar" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       'lang' AS col,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS o
         |FROM documents
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       'source',
         |       sha256('"' || source || '"^^<$XSD_STR>')
         |FROM documents""".stripMargin,

    // langMatches/IF/IN mirror: exact-tag languages reduce the RFC 4647
    // prefix rule to IN, the IF to CASE, the final IN is vacuously true
    "kg_sparql_if_in_lang" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       CASE WHEN contains(source, '1') THEN 'one' ELSE 'other' END AS cls
         |FROM documents WHERE lang IN ('de', 'zh')""".stripMargin,

    // date-filter mirror: both engines read the timestamp column as a
    // calendar DATE (UTC sessions on both sides) and compare by value;
    // the term id hashes the yyyy-MM-dd lexical form
    "kg_sparql_datefilter" ->
      """SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       sha256('"' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#date>') AS d
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-03-01'""".stripMargin,

    // bnode mirror: the non-distinguished subject is just the join key
    "kg_sparql_bnode" ->
      s"""SELECT sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS s
         |FROM documents WHERE lang = 'de'""".stripMargin,

    // STRDT mirror: the doubled lexical equals '33' exactly when the
    // regionkey is 3; the projected r is the ORIGINAL literal's id
    "kg_sparql_strdt" ->
      """SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>') AS a,
        |       sha256('"' || CAST(n_regionkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#string>') AS r
        |FROM nation WHERE n_regionkey = 3""".stripMargin,

    // group-expression mirror: the same bucket computed from the native
    // double column (both engines floor IEEE doubles identically)
    "kg_sparql_group_expr" ->
      """SELECT floor(o_totalprice / 50000) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    // UNDEF mirror: the disjunction of the rows' defined cells
    "kg_sparql_values_undef" ->
      """SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>') AS a,
        |       sha256('"' || CAST(n_regionkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#string>') AS r
        |FROM nation WHERE n_nationkey = 1 OR n_regionkey = 3""".stripMargin,

    // dataset-clause mirror: FROM NAMED restricts GRAPH ?g to the
    // documents graph, so only its three predicates are counted — the
    // nation graph (merged into the unobserved default side) never
    // appears
    "kg_sparql_from" ->
      """SELECT 'urn:graph:synthetic/documents' AS g, 'urn:col:documents:text' AS p,
        |       CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |UNION ALL
        |SELECT 'urn:graph:synthetic/documents', 'urn:col:documents:lang',
        |       CAST(COUNT(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'urn:graph:synthetic/documents', 'urn:col:documents:source',
        |       CAST(COUNT(*) AS BIGINT) FROM documents""".stripMargin,

    // cast mirror: the lexical form of the regionkey literal read as a
    // number in both engines (integer-valued, so truncation is moot)
    "kg_sparql_cast" ->
      """SELECT sha256('<urn:g:nation:' || CAST(n_nationkey AS VARCHAR) || '>') AS n,
        |       CAST(n_regionkey AS DOUBLE) AS rk
        |FROM nation WHERE n_regionkey >= 2""".stripMargin,

    // hash/encode mirror: DuckDB's md5/sha256 render lowercase hex like
    // Spark's; the corpus values are unreserved, so ENCODE_FOR_URI's
    // one escaped char (the concatenated space) mirrors as replace
    "kg_sparql_hashfns" ->
      """SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
        |       md5(source) AS h,
        |       sha256(source || '|' || lang) AS h2,
        |       replace(source || ' ' || lang, ' ', '%20') AS u
        |FROM documents""".stripMargin,

    // sameTerm mirror: term identity is key equality — same-region
    // nation pairs minus the diagonal
    "kg_sparql_sameterm" ->
      """SELECT sha256('<urn:g:nation:' || CAST(a.n_nationkey AS VARCHAR) || '>') AS a,
        |       sha256('<urn:g:nation:' || CAST(b.n_nationkey AS VARCHAR) || '>') AS b
        |FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
        | AND a.n_nationkey <> b.n_nationkey""".stripMargin,

    // datetime-accessor mirror: both engines extract calendar fields
    // from the second-truncated instant under UTC sessions; DuckDB's
    // date_part('second') truncates fractions exactly like the
    // second-truncated lexical form the Spark side hashes
    "kg_sparql_datefns" ->
      """SELECT sha256('<urn:g:events:' || CAST(event_id AS VARCHAR) || '>') AS e,
        |       CAST(date_part('day', ts) AS DOUBLE) AS dom,
        |       CAST(date_part('hour', ts) AS DOUBLE) * 3600 +
        |       CAST(date_part('minute', ts) AS DOUBLE) * 60 +
        |       CAST(date_part('second', ts) AS DOUBLE) AS secs
        |FROM events
        |WHERE date_part('year', ts) = 2024 AND date_part('month', ts) = 1
        |  AND date_part('day', ts) <= 2""".stripMargin,

    // GRAPH mirror: per-(graph, predicate) triple counts — one literal
    // arm per corpus column, the graph IRI spelled from the repo lineage
    "kg_sparql_graph" ->
      """SELECT 'urn:graph:synthetic/documents' AS g, 'urn:col:documents:text' AS p,
        |       CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |UNION ALL
        |SELECT 'urn:graph:synthetic/documents', 'urn:col:documents:lang',
        |       CAST(COUNT(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'urn:graph:synthetic/documents', 'urn:col:documents:source',
        |       CAST(COUNT(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'urn:graph:synthetic/nation', 'urn:col:nation:n_name',
        |       CAST(COUNT(*) AS BIGINT) FROM nation
        |UNION ALL
        |SELECT 'urn:graph:synthetic/nation', 'urn:col:nation:n_regionkey',
        |       CAST(COUNT(*) AS BIGINT) FROM nation""".stripMargin,

    // nested-path mirror: the recursive closure of the COMPOSED two-step
    // hop (i -> i DIV 4, for nodes whose intermediate i DIV 2 >= 1) —
    // same recursive-CTE shape as kg_bgp_path_plus, over h2 instead of e
    "kg_bgp_path_nested" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1),
        |h2 AS (SELECT a.s, b.o FROM e a JOIN e b ON a.o = b.s),
        |reach(s, o) AS (SELECT s, o FROM h2
        |                UNION SELECT r.s, h.o FROM reach r JOIN h2 h ON h.s = r.o)
        |SELECT s AS x, o AS y FROM reach""".stripMargin,

    // deep-nesting mirror: the peer hop joined onto the recursive
    // closure of the two-up-step composition — SQL's join IS the bag
    // semantics of the SPARQL sequence
    "kg_bgp_path_deep" ->
      """WITH RECURSIVE up AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1),
        |peer AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST((n_nationkey + 1) % 25 AS VARCHAR) o
        |  FROM nation),
        |h2 AS (SELECT a.s, b.o FROM up a JOIN up b ON a.o = b.s),
        |reach(s, o) AS (SELECT s, o FROM h2
        |                UNION SELECT r.s, h.o FROM reach r JOIN h2 h ON h.s = r.o)
        |SELECT p.s AS x, r.o AS y FROM peer p JOIN reach r ON r.s = p.o""".stripMargin,

    // mixed-union mirror: one source-branch row and one lang-branch row
    // per de/zh doc, joined back on the doc — plain UNION ALL over the
    // filtered docs
    "kg_sparql_union_mixed" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS v
         |FROM documents WHERE lang IN ('de', 'zh')
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       sha256('"' || lang || '"^^<$XSD_STR>'),
         |       sha256('"' || lang || '"^^<$XSD_STR>')
         |FROM documents WHERE lang IN ('de', 'zh')""".stripMargin,

    // MIN/MAX-by-value mirror: the winning term is the numerically
    // min/max price, whose id is the hash of its lexical form (both
    // engines render doubles shortest-roundtrip, the same parity
    // kg_sparql_sum_avg relies on)
    "kg_sparql_minmax" ->
      """SELECT sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c,
        |       sha256('"' || CAST(MIN(o_totalprice) AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#double>') AS lo,
        |       sha256('"' || CAST(MAX(o_totalprice) AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#double>') AS hi,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_custkey""".stripMargin,

    // ORDER BY value mirror: price DESC then the order-IRI hash ASC is a
    // total order (equal prices share one term id, so the id leg of the
    // engine's sort key cannot reorder them before the ?o tiebreak)
    "kg_sparql_order_value" ->
      """SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       sha256('"' || CAST(o_totalprice AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#double>') AS p
        |FROM orders WHERE o_custkey < 20
        |ORDER BY o_totalprice DESC, o ASC LIMIT 15""".stripMargin,

    // order-expression mirror: the same computed key over the native
    // columns, the hashed id string breaking boundary ties identically
    "kg_sparql_order_expr" ->
      """SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       sha256('"' || CAST(o_totalprice AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#double>') AS p,
        |       sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c
        |FROM orders
        |ORDER BY (o_totalprice - o_custkey * 1000) DESC, o ASC LIMIT 12""".stripMargin,

    // value-space FILTER mirror: the bindValues+TypedLiterals pipeline
    // reduces to plain numeric predicates over the source columns
    "kg_sparql_typed_filter" ->
      """SELECT sha256('<urn:g:orders:' || CAST(o_orderkey AS VARCHAR) || '>') AS o,
        |       sha256('"' || CAST(o_custkey AS VARCHAR) ||
        |              '"^^<http://www.w3.org/2001/XMLSchema#long>') AS c
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey < 150
        |  AND o_totalprice > 100000.5""".stripMargin,

    // every doc has exactly ONE source edge, so the anti-join mirror is
    // a plain inequality on the source column
    "kg_bgp_minus" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l
         |FROM documents WHERE source <> 'src0'""".stripMargin,

    // predicate-alternative mirror: each doc contributes its lang edge
    // AND its source edge to the one binding column
    "kg_bgp_alt" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS v
         |FROM documents
         |UNION ALL
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       sha256('"' || source || '"^^<$XSD_STR>')
         |FROM documents""".stripMargin,

    // multi-valued pivot mirror: sorted-distinct per-predicate object
    // lists, '' for a subject missing the predicate (matches Spark's
    // empty array under array_join)
    "kg_property_table_multi" ->
      """WITH e AS (
        |  SELECT 'n:' || CAST(n_nationkey AS VARCHAR) s, 'tag' p,
        |         'r:' || CAST(n_regionkey AS VARCHAR) o FROM nation
        |  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'tag',
        |         'm:' || CAST(n_nationkey % 3 AS VARCHAR) FROM nation
        |  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'tag',
        |         'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
        |  UNION ALL SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'name', n_name
        |         FROM nation WHERE n_nationkey % 2 = 0)
        |SELECT s AS node,
        |       coalesce(array_to_string(list_sort(list(DISTINCT o) FILTER (WHERE p = 'tag')), '|'), '') AS tags,
        |       coalesce(array_to_string(list_sort(list(DISTINCT o) FILTER (WHERE p = 'name')), '|'), '') AS names
        |FROM e GROUP BY 1""".stripMargin,

    // zero-or-more mirror: recursive reach UNION identity over every
    // node of the graph (peer nodes included — the zero-length path is
    // graph-wide, the closure predicate-scoped)
    "kg_bgp_path_star" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1),
        |peer AS (SELECT CAST(n_nationkey AS VARCHAR) s,
        |         CAST((CAST(n_nationkey AS BIGINT) + 1) % 25 AS VARCHAR) o FROM nation),
        |reach(s, o) AS (SELECT s, o FROM e
        |                UNION SELECT r.s, e.o FROM reach r JOIN e ON e.s = r.o),
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT s n FROM e UNION ALL SELECT o FROM e
        |  UNION ALL SELECT s FROM peer UNION ALL SELECT o FROM peer))
        |SELECT x, y FROM (
        |  SELECT s x, o y FROM reach
        |  UNION SELECT n, n FROM nodes)""".stripMargin,

    // negated-set + zero-or-one mirror: !peer = the up edges; <up>? =
    // up edges UNION graph identity; joined on the shared middle node
    "kg_bgp_path_negopt" ->
      """WITH e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1),
        |peer AS (SELECT CAST(n_nationkey AS VARCHAR) s,
        |         CAST((CAST(n_nationkey AS BIGINT) + 1) % 25 AS VARCHAR) o FROM nation),
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT s n FROM e UNION ALL SELECT o FROM e
        |  UNION ALL SELECT s FROM peer UNION ALL SELECT o FROM peer)),
        |optp AS (SELECT s, o FROM e UNION SELECT n, n FROM nodes)
        |SELECT e.s AS x, e.o AS y, optp.o AS z
        |FROM e JOIN optp ON optp.s = e.o""".stripMargin,

    // sequence-path mirror: forward hop then inverse hop = self-join on
    // the shared parent; the peer ring must NOT leak into either hop
    "kg_bgp_path_seq" ->
      """WITH e AS (
        |  SELECT CAST(n_nationkey AS VARCHAR) s, CAST(n_nationkey // 2 AS VARCHAR) o
        |  FROM nation WHERE n_nationkey >= 1)
        |SELECT a.s AS x, b.s AS y FROM e a JOIN e b ON a.o = b.o""".stripMargin,

    // aggregation mirror: each doc has exactly one lang and one source
    // edge, so COUNT(?d) per lang = docs per lang; HAVING >= 70 drops
    // fr (64) at sf0.01
    "kg_sparql_agg" ->
      s"""SELECT sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(DISTINCT source) AS BIGINT) AS nsrc,
         |       min(sha256('"' || source || '"^^<$XSD_STR>')) AS first_src
         |FROM documents GROUP BY lang HAVING count(*) >= 70""".stripMargin,

    // modifier mirror: (n DESC, src ASC) is a total order, so the
    // OFFSET 3 / LIMIT 7 slice is the same set in both engines
    "kg_sparql_orderby" ->
      s"""WITH g AS (
         |  SELECT sha256('"' || source || '"^^<$XSD_STR>') AS src,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY source)
         |SELECT src, n FROM g ORDER BY n DESC, src LIMIT 7 OFFSET 3""".stripMargin,

    // VALUES mirror: the inline rows are exactly a (lang, source)
    // disjunction over the base table
    "kg_sparql_values" ->
      s"""SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS d,
         |       sha256('"' || lang || '"^^<$XSD_STR>') AS l,
         |       sha256('"' || source || '"^^<$XSD_STR>') AS src
         |FROM documents
         |WHERE (lang = 'en' AND source = 'src1')
         |   OR (lang = 'de' AND source = 'src2')
         |   OR (lang = 'zh' AND source = 'src1')""".stripMargin,

    // ASK mirror: EXISTS over the same value-level predicate
    "kg_sparql_ask" ->
      """SELECT EXISTS(SELECT 1 FROM documents
        |              WHERE lang = 'en' AND source <> 'src0') AS ask""".stripMargin,

    // CONSTRUCT mirror: UNION (set semantics) of the reverse-source
    // projection and the constant-typed projection
    "kg_sparql_construct" ->
      s"""SELECT sha256('"' || source || '"^^<$XSD_STR>') AS subj_id,
         |       'urn:rev:source' AS pred,
         |       sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>') AS obj_id
         |FROM documents
         |UNION
         |SELECT sha256('<urn:g:documents:' || CAST(doc_id AS VARCHAR) || '>'),
         |       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         |       sha256('<urn:Doc>')
         |FROM documents""".stripMargin,

    // GROUP_CONCAT mirror: sorted list_sort = Spark's sort_array, and
    // SAMPLE-as-min = min(o)
    "kg_sparql_group_concat" ->
      """WITH e AS (
        |  SELECT 'n:' || CAST(n_nationkey AS VARCHAR) s,
        |         'r:' || CAST(n_regionkey AS VARCHAR) o FROM nation
        |  UNION ALL
        |  SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
        |         'm:' || CAST(n_nationkey % 3 AS VARCHAR) FROM nation)
        |SELECT s, array_to_string(list_sort(list(o)), '|') AS os, min(o) AS one
        |FROM e GROUP BY 1""".stripMargin
  )
}

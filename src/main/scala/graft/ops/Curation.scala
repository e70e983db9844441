package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Share

/**
 * Corpus-curation operators common in large-scale training-data
 * pipelines: repetition-based quality filters (Gopher-style), document
 * chunking, deterministic stratified sampling, and PII scrubbing. All
 * integer/string-valued column expressions (engine-portable, no UDFs).
 */
object Curation {

  /**
   * Gopher-style repetition metrics: fraction (permille) of duplicate
   * word 2-grams, and the most frequent token's share (permille).
   * High values flag boilerplate/spam documents.
   *
   * Fully NARROW (r7, guide §2.4): the top-token count is the maximum
   * run length of the SORTED token array — a per-row array_sort + linear
   * fold — where the old formulation exploded every token into a
   * corpus-sized (id, tok) shuffle, aggregated twice, and joined back on
   * id. Zero shuffles now at any corpus size. Rows with NULL text are
   * dropped, exactly as the old inner join did (explode of a NULL array
   * emits no rows). PRECONDITION (as before, now load-bearing): `id` is
   * unique per row — the old groupBy(id) would have merged duplicate
   * ids' token counts.
   */
  def repetitionMetrics(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val words = split(text, " ")
    val grams = TextOps.ngramArray(text, 2)
    // max run over the sorted tokens == max multiplicity. The initial
    // `prev` of "" is safe: a first token equal to "" still starts its
    // run at acc.run + 1 = 1 because the initial run is 0.
    val topTok = aggregate(
      array_sort(words),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs.filter(text.isNotNull).select(id.as("id"),
      when(size(grams) > 0,
        floor((size(grams) - size(array_distinct(grams))) * 1000.0 / size(grams)))
        .otherwise(0L).cast("long").as("dup_2gram_permille"),
      floor(topTok * 1000.0 / size(words)).cast("long").as("top_token_permille"))
  }

  /**
   * Fixed-size token chunking with overlap (`size` tokens, `step` stride):
   * the document -> training-sample explosion step. Chunk identity is a
   * fingerprint of its token span, so downstream exact-dedup composes.
   */
  def chunk(docs: DataFrame, id: Column, text: Column,
            sizeTokens: Int = 50, step: Int = 40): DataFrame = {
    val words = split(text, " ")
    val n = size(words)
    val nChunks = when(n <= sizeTokens, lit(1L))
      .otherwise(floor((n - (sizeTokens + 1)) / step) + 2)
    val chunks = transform(sequence(lit(0), (nChunks - 1).cast("int")), k =>
      slice(words, k * step + 1, lit(sizeTokens)))
    docs.select(id.as("id"), posexplode(chunks).as(Seq("chunk_idx", "toks")))
      .select(col("id"), col("chunk_idx"),
        size(col("toks")).as("n_tokens"),
        sha2(concat_ws(" ", col("toks")), 256).as("chunk_fp"))
  }

  /**
   * Deterministic stratified sample: keep `keepOutOf10` tenths by a
   * stable hash of the id — reproducible across engines and runs, no RNG
   * state, stratification implicit in the id space.
   */
  def sampleDeterministic(docs: DataFrame, id: Column, keepOutOf10: Int): DataFrame =
    docs.filter(pmod(Dedup.hash64(id.cast("string")), lit(10L)) < keepOutOf10)

  /** Redact email-shaped and long-number tokens. */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]{4,}", "<NUM>")
  }

  /**
   * Train/eval contamination detection (GPT-3/PaLM-style n-gram overlap):
   * for every training document, the number of its distinct `n`-token
   * shingles that also occur anywhere in the eval set. Docs with
   * n_contaminated > 0 are candidates for decontamination removal.
   *
   * Scale shape: one shuffle keyed on the shingle string (shingles ARE
   * content, uniformly distributed) for a left-semi join against the
   * distinct eval shingles — the eval side is the small one and
   * broadcast-eligible; zero-overlap docs are restored by a right join
   * on the (already aggregated, one-row-per-doc) count frame. Never
   * all-pairs.
   */
  def contamination(train: DataFrame, id: Column, text: Column,
                    evalDocs: DataFrame, evalId: Column, evalText: Column,
                    n: Int = 5): DataFrame = {
    // docShingles: doc ids are unique per row on both sides (one text per
    // document by contract), so the per-doc distinct is a narrow
    // array_distinct and neither shingle stream pays a dedup shuffle; the
    // eval side still pays its (small) global distinct, as before
    val trainSh = Dedup.docShingles(train, id, text, n)
    val evalSh = Dedup.docShingles(evalDocs, evalId, evalText, n)
      .select("shingle").distinct()
    val counts = trainSh.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    train.select(id.as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  /**
   * Exact per-stratum quota sample: the `k` documents with the smallest
   * deterministic hash within each stratum (reproducible across engines
   * and runs — the hash is the sort key, ids break ties).
   *
   * Scale shape: a single window per stratum funnels EVERY row of a
   * stratum through one reducer — a hot-key scale killer when strata are
   * few (languages!). This is two-level instead: local top-k within
   * (stratum, salt) — `salts` parallel reducers per stratum — then
   * top-k of the <= k*salts survivors. Top-k is decomposable, so the
   * result is IDENTICAL to the single-window definition the oracle uses,
   * while the big shuffle stays spread. The salt is deterministic per
   * row (hash of the id — SPARK-23207-safe on retries).
   */
  def quotaSample(docs: DataFrame, id: Column, strata: Column, k: Int,
                  salts: Int = 64): DataFrame = {
    val base = docs.select(id.as("id"), strata.as("stratum"))
      .withColumn("hx", Dedup.hash64(concat(col("stratum"), lit(":"), col("id").cast("string"))))
      .withColumn("salt", pmod(Dedup.hash64(col("id").cast("string")), lit(salts.toLong)))
    val w1 = Window.partitionBy("stratum", "salt").orderBy(col("hx"), col("id"))
    val survivors = base.withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= k)
    val w2 = Window.partitionBy("stratum").orderBy(col("hx"), col("id"))
    survivors.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("id"), col("stratum"), col("rank"))
  }

  /**
   * EXACT percentiles of an integer metric column as order statistics
   * (rank = ceil(n*p/100), 1-based over the ascending sort) — the
   * quality-threshold selection step of a filtering pipeline ("drop the
   * bottom decile by token count"). Interpolated percentiles
   * (approx_percentile, quantile_cont) are float arithmetic an
   * independent engine may round differently; order statistics over
   * integers are exact and hash-comparable.
   *
   * Scale shape: ONE aggregate shuffle builds a (value, count) histogram
   * whose size is the metric's value cardinality (token counts, permille
   * scores: thousands of distinct values at ANY corpus size), which is
   * collected as metadata and walked on the driver — no global sort, no
   * single-reducer window. Output: (p, value) per requested percentile.
   */
  def integerPercentiles(df: DataFrame, value: Column, ps: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.groupBy(value.cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .orderBy("v")
      .collect() // bounded by value cardinality: metadata, not data
    val n = hist.map(_.getLong(1)).sum
    val out = ps.map { p =>
      val rank = (n * p + 99) / 100 // ceil(n*p/100), exact integer math
      var cum = 0L
      var i = 0
      var v = if (hist.isEmpty) 0L else hist.last.getLong(0)
      var found = false
      while (!found && i < hist.length) {
        cum += hist(i).getLong(1)
        if (cum >= rank) { v = hist(i).getLong(0); found = true }
        i += 1
      }
      (p, v)
    }
    out.toDF("p", "value")
  }

  /** Non-overlapping `n`-token segments with position: (id, seg_idx, seg).
    * NULL text is treated as empty: split(NULL) is a NULL array and
    * posexplode would emit NO rows, silently dropping the document id
    * from every downstream aggregate (the 'no lost id' contract of
    * interdocSegmentDedup). An empty string still yields one "" segment,
    * so the id survives. */
  def tokenSegments(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val words = split(coalesce(text, lit("")), " ")
    val nSegs = ceil(size(words) / n.toDouble).cast("int")
    val segs = transform(sequence(lit(0), nSegs - 1), k =>
      concat_ws(" ", slice(words, k * n + 1, lit(n))))
    docs.select(id.as("id"), posexplode(segs).as(Seq("seg_idx", "seg")))
  }

  /**
   * Inter-document segment dedup (RefinedWeb/C4-style boilerplate
   * removal): a non-overlapping `n`-token segment that occurs in MORE
   * than `maxDocs` distinct documents is boilerplate (site chrome,
   * license headers, templated spans) and is dropped from every
   * document; text is rebuilt from the surviving segments in order.
   * Output: (id, clean_text, n_dropped_segments).
   *
   * Scale shape: one shuffle keyed on the segment string for the
   * distinct-doc count (uniformly distributed — segments ARE content
   * hashes of themselves), a left-anti join on the same key, and one
   * shuffle on doc id for the ordered rebuild. Never all-pairs; the
   * boilerplate side is the small output of a HAVING filter.
   *
   * PRECONDITION: `id` is unique per input row (one text per document),
   * like the dedup operators — the per-doc segment count is a narrow
   * projection of the doc row, not an aggregate over the segment stream.
   */
  def interdocSegmentDedup(docs: DataFrame, id: Column, text: Column,
                           n: Int = 10, maxDocs: Int = 1): DataFrame = {
    // the segment stream feeds the boilerplate count AND the anti-join
    // probe side — unshared, each consumer re-ran the split+posexplode
    // segmentation over the full corpus (r7, guide §2.4 class)
    val segs = Share(tokenSegments(docs, id, text, n))
    val boilerplate = segs.groupBy("seg")
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select("seg")
    val kept = segs.join(boilerplate, Seq("seg"), "left_anti")
    // per-doc segment count = the SAME nSegs expression tokenSegments
    // explodes (posexplode emits exactly sequence(0, nSegs-1) rows), so
    // it is a narrow per-row projection — the corpus-wide groupBy(id)
    // count over the segment stream paid a full shuffle for a value the
    // docs row already determines (r7, guide §2.3/§2.4)
    val nSegsPerDoc = docs.select(id.as("id"),
      ceil(size(split(coalesce(text, lit("")), " ")) / n.toDouble).cast("long").as("n_total"))
    kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"))
      .join(nSegsPerDoc, Seq("id"), "right")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped_segments"))
  }

  /**
   * Leakage-free train/val/test split: near-duplicate documents MUST
   * land in the same split, or held-out evaluation silently scores
   * memorized training text. Documents are therefore assigned by a
   * portable hash of their DUP-CLUSTER id — connected components over
   * verified near-dup `pairs` (a, b); docs with no dup are their own
   * singleton cluster — so whole clusters co-travel.
   *
   * Determinism/portability: the split percentile is the 60-bit sha256
   * slice of "split:<cluster>" mod 100 (identical in DuckDB), so the
   * assignment is stable across runs, engines, and corpus growth —
   * adding documents never reassigns existing clusters.
   *
   * Scale shape: CC is O(log n) alternating-star rounds over the pairs
   * (tiny relative to the corpus); the cluster map joins back to docs
   * with one shuffle keyed on doc id. Output: (id, cluster, split).
   */
  def leakFreeSplit(docs: DataFrame, id: Column, pairs: DataFrame,
                    trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need train + val < 100 with a nonempty test remainder")
    // connectedComponents fails rather than return partly contracted
    // clusters, which would put two near-dup docs in different splits
    val clusters = graft.kg.GraphOps.connectedComponents(pairs, "a", "b")
      .withColumnRenamed("node_id", "id")
    val pct = Dedup.hash64(
      concat(lit("split:"), col("cluster").cast("string"))) % 100
    docs.select(id.as("id"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("id")))
      .select(col("id"), col("cluster"),
        when(pct < trainPct, "train")
          .when(pct < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }
}

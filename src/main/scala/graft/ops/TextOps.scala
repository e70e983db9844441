package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data curation: token counting, quality
 * scoring, n-gram language ID, document fingerprinting. Everything is a
 * codegen'd column expression with integer/string outputs (float-free so
 * results are bit-portable across engines).
 */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish regex token count: words, numbers, individual symbols. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Per-language stopword lists for the n-gram/stopword language ID. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))

  /**
   * Language ID: argmax of stopword hits with deterministic tie-break
   * (language code ascending); "und" (undetermined) when nothing hits.
   */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) => (lang, hitCount(toks, ws)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((lang, s), acc) =>
      // fold from the right so earlier (alphabetically smaller) langs win ties
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /**
   * Quality metrics, all integers:
   *  n_chars, n_tokens, n_distinct_tokens, mean token length x100,
   *  stopword hits per 1000 tokens, longest-token length.
   */
  def quality(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = tokens(text)
    val allStop = stopwords.values.flatten.toSeq.distinct
    docs.select(
      id.as("id"),
      length(text).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      (sum_chars(toks) * 100 / size(toks)).cast("long").as("mean_tok_len_x100"),
      (hitCount(toks, allStop) * 1000 / size(toks)).cast("long").as("stop_per_1000"),
      array_max(transform(toks, t => length(t))).as("max_tok_len"))
  }

  private def sum_chars(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** Fingerprint: sha256 of case-folded, whitespace-collapsed text. */
  def fingerprint(text: Column): Column =
    sha2(trim(regexp_replace(lower(text), "\\s+", " ")), 256)

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
   * algorithm): hash every k-token shingle, slide a w-hash window, keep
   * each window's MINIMUM — the selected set is position-robust (any
   * match of >= w+k-1 tokens shares a fingerprint) yet ~1/w the size of
   * the full shingle set, which is what makes shingle-level dedup
   * indexable at 100 TB. Pure array HOFs: one narrow pass per doc, no
   * explode, no shuffle. Hashes are the portable 60-bit sha256 slice
   * (Dedup.hash64), selection by plain minimum (ties share the value, so
   * the DISTINCT selected set is order-independent), output sorted.
   * Docs with fewer than w windows keep one fingerprint (min of all);
   * docs shorter than k tokens yield an empty set.
   */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val words = split(text, " ")
    val nsh = size(words) - (k - 1)
    val shingles = when(nsh >= 1,
      transform(sequence(lit(1), nsh), i => concat_ws(" ", slice(words, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val hashes = transform(shingles, s => Dedup.hash64(s))
    val nw = size(hashes) - (w - 1)
    when(size(hashes) === 0, array().cast("array<long>"))
      .when(nw < 1, array(array_min(hashes)))
      .otherwise(array_sort(array_distinct(
        transform(sequence(lit(1), nw), i => array_min(slice(hashes, i, lit(w)))))))
  }

  /**
   * Corpus-level n-gram statistics: the k most frequent word n-grams
   * with exact counts (the LM-corpus profile behind contamination
   * filters and boilerplate lists). Ties are broken lexicographically so
   * the top-k set is fully deterministic in any engine.
   *
   * Scale shape: per-doc n-gram arrays (HOF transform, no UDF) explode
   * to one row per occurrence, then hash-aggregate WITH map-side partial
   * combine — the shuffle carries (ngram, partial count), not raw
   * occurrences, so the hot head of the Zipf curve collapses before the
   * exchange. The final top-k is a TakeOrderedAndProject (per-partition
   * heaps + driver merge of k rows), never a global sort of the full
   * distinct-ngram set.
   */
  /**
   * Array of space-joined word n-grams of `text`; empty when the doc has
   * fewer than n words (guarding Spark's DESCENDING `sequence(1, 0)`).
   * The ONE definition of n-gram construction — Dedup shingles,
   * repetition metrics, top-k n-grams, and the count-min gate all share
   * it, so the tokenization (and its DuckDB oracle mirror) cannot drift
   * per call site.
   */
  def ngramArray(text: Column, n: Int): Column = {
    require(n >= 1, "n must be positive")
    // native WordNgrams (r7): one codegen'd byte scan instead of the
    // interpreted split/sequence/slice/concat_ws HOF chain — identical
    // values (NgramParitySpec pins it against ngramArrayHof); NULL text
    // still yields the empty array, as the HOF form's `when` did
    coalesce(WordNgrams(text, n), array().cast("array<string>"))
  }

  /** The HOF formulation [[ngramArray]] replaced — retained as the
    * differential baseline (NgramParitySpec asserts value equality). */
  def ngramArrayHof(text: Column, n: Int): Column = {
    require(n >= 1, "n must be positive")
    val words = split(text, " ")
    val cnt = size(words) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => concat_ws(" ", slice(words, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  def topNgrams(docs: DataFrame, text: Column, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be positive")
    docs.select(explode(ngramArray(text, n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /**
   * Inverted-index builder for rare terms: term -> (document frequency,
   * ordered posting list) for terms whose df lies in [minDf, maxDf] —
   * the retrieval/contamination-lookup side table of a corpus.
   *
   * Scale shape: the df table is computed FIRST and filtered, and only
   * postings of surviving terms are shuffled and collected — so
   * aggregation state per term is bounded by maxDf (a stopword like
   * "the" never reaches collect_list; its postings would be corpus-sized
   * otherwise). The rare-term join is vocabulary-sized (broadcast when
   * it fits). Postings are sorted, so output is deterministic.
   *
   * Output: (term, df, postings) with postings = comma-joined sorted ids.
   */
  def invertedIndex(docs: DataFrame, id: Column, text: Column,
                    minDf: Int, maxDf: Int): DataFrame =
    invertedIndexFromTokens(
      docs.select(id.as("id"), explode(split(text, " ")).as("term")).distinct(),
      minDf, maxDf)

  /** As `invertedIndex` over a pre-tokenized DISTINCT (id, term) frame —
    * e.g. n-gram shingles (Dedup.wordShingles), the unit real
    * decontamination indexes use. */
  def invertedIndexFromTokens(tok: DataFrame, minDf: Int, maxDf: Int): DataFrame = {
    // tok feeds both the df table and the posting join — checkpoint so
    // the corpus-scale tokenize runs ONCE, not once per consumer. Under
    // AQE this call runs tok's shuffle-map stages at once (the shingle
    // distinct of td_inverted_index); only its result stage waits for the
    // first action (graft.Probe: 2 jobs while built, 3 in the write)
    val t = tok.localCheckpoint(false)
    val rare = t.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    t.join(rare, Seq("term"))
      .groupBy("term", "df")
      .agg(concat_ws(",", sort_array(collect_list(col("id")))).as("postings"))
  }

  /**
   * Collocation (phrase) extraction: adjacent word pairs ranked by a
   * PMI-style association score — how much more often the pair occurs
   * than its parts predict. The float log-PMI ordering is replaced by
   * the integer-scaled rational score_milli = (c_ab * N * 1000) DIV
   * (c_a * c_b), which orders identically to pointwise mutual
   * information (log is monotone) and is bit-portable across engines.
   * The standard phrase-mining step before tokenizer/vocab induction.
   *
   * Scale shape: bigram and unigram counts aggregate with map-side
   * combine; the join against the unigram table is vocabulary-sized
   * (broadcast when it fits); the corpus-total join is one row. Top-k
   * is a TakeOrderedAndProject. minPair prunes the heavy bigram tail
   * BEFORE the joins.
   *
   * Output: (bigram, n_pair, score_milli), top-k by (score DESC, bigram).
   */
  def collocations(docs: DataFrame, text: Column, minPair: Int, k: Int): DataFrame = {
    val words = split(text, " ")
    val bigramStructs = when(size(words) >= 2,
      transform(sequence(lit(1), size(words) - 1),
        i => struct(element_at(words, i).as("a"), element_at(words, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val pairs = docs.select(explode(bigramStructs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minPair)
    // uni feeds both per-word joins AND the corpus total — checkpoint the
    // vocabulary-sized frame so the corpus tokenize+count runs ONCE, not
    // three times (the un-checkpointed plan re-scanned the corpus per use)
    val uni = docs.select(explode(words).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // the corpus-total scalar attaches via a single-row broadcast cross
    // join — the ONE shape where a broadcast nested loop is exactly
    // right at any scale (the grand-total aggregate is ≤ 1 row by
    // construction; a constant-key equi-join folds back to this anyway)
    val total = uni.agg(sum(col("c")).as("total"))
    pairs
      .join(uni.select(col("term").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("term").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("cab").as("n_pair"),
        // the numerator is computed in DECIMAL(38,0): at web scale
        // cab * N * 1000 exceeds Long (N ~ 1e10 tokens, cab ~ 1e6 ->
        // ~1e19), which would throw under ANSI mode / wrap without it.
        // DuckDB's sum() already yields HUGEINT, so the oracle mirror
        // is exact without changes; the quotient fits BIGINT.
        expr("(CAST(cab AS DECIMAL(38,0)) * total * 1000) DIV (ca * cb)")
          .as("score_milli"))
      .orderBy(col("score_milli").desc, col("bigram"))
      .limit(k)
  }

  /**
   * BM25 relevance ranking of documents against a bag-of-words query —
   * the retrieval scorer behind training-data relevance filtering and
   * RAG-corpus selection — in EXACT integer arithmetic so results are
   * bit-portable across engines (the float/log formula is not).
   *
   * Real BM25 (k1 = 1.2, b = 0.75):
   *   sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
   * Two substitutions, both monotone in the real quantities:
   *   - idf_scaled = ((N - df) * 1000000) DIV (df + 1): the Robertson
   *     idf argument (N - df + .5)/(df + .5) without the log — log is
   *     monotone, so per-term ordering is preserved, and the scale
   *     factor keeps integer resolution;
   *   - avgdl enters as the exact rational L/N (L = total tokens).
   * Multiplying numerator and denominator by 20*L turns the per-term
   * contribution into pure integers:
   *   (idf_scaled * 44 * L * tf) DIV (20*L*tf + 6*L + 18*dl*N)
   * The numerator is DECIMAL(38,0) (idf ~ 1e6*N, times L*tf overflows
   * Long at web scale); the quotient and the final sum fit BIGINT.
   *
   * Scale shape: the token explode filters to QUERY terms before any
   * shuffle (the tf aggregate carries only hit rows); df and idf are
   * query-vocabulary-sized broadcasts; N and L attach as a single-row
   * broadcast; the doc-length join keys on doc id; top-k is a
   * TakeOrderedAndProject with ties broken by id.
   *
   * Ranking caveat: each substitution is monotone PER TERM, but the
   * final score is a SUM of per-term contributions and a sum of
   * monotone transforms is not itself monotone — for multi-term
   * queries this ranking can diverge from float BM25's, because the
   * dropped log over-weights rare terms linearly. Treat the output as
   * a deterministic, engine-portable relevance proxy (single-term
   * rankings ARE BM25-order), not as BM25-equivalent multi-term order.
   *
   * Output: (id, score_scaled), top-k by (score DESC, id ASC).
   */
  def bm25Scaled(docs: DataFrame, id: Column, text: Column,
                 queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scaled: empty query")
    // COLUMNAR tf (r7, guide §2.3/§2.4): a query bag is vocabulary-sized
    // (tens of terms), so per-term tf is one narrow array count per doc —
    // tf$i = |tokens == term_i| — instead of exploding the ENTIRE token
    // stream, shuffling it into a (doc, term) aggregate, and joining the
    // pieces back together. One corpus pass computes (dl, tf*); one
    // single-row aggregate computes N, L and every df; scoring is a pure
    // projection and top-k a TakeOrderedAndProject. The old plan's three
    // shuffles (tf agg, df agg, doc-length join) are gone; the arithmetic
    // is copied verbatim, so scores are bit-identical. Duplicate query
    // terms are collapsed first (the explode formulation's groupBy(id,
    // term) counted a repeated term once — keep that contract).
    val terms = queryTerms.distinct
    val toks = split(text, " ")
    val tfCols = terms.indices.map(i =>
      size(filter(toks, t => t === lit(terms(i)))).cast("long").as(s"tf$i"))
    val base = docs
      .select(id.as("id") +: size(toks).cast("long").as("dl") +: tfCols: _*)
      // feeds the totals row AND the scoring pass. Under AQE this call
      // runs the shuffle-map stages under `docs` at once (td_bm25's
      // fan-out repartition); the tf projection is the result stage, run
      // once by the first action and reused from the cache by the other
      // (graft.Probe: td_bm25 runs 2 jobs while built, 3 in its write)
      .localCheckpoint(false)
    val aggList = Seq(count(lit(1)).as("nn"), sum(col("dl")).as("ll")) ++
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val tot = base.agg(aggList.head, aggList.tail: _*)
    // only docs with >= 1 query-term hit can score (the explode
    // formulation's tf rows existed only for hits — keep the universe)
    val hit = terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _)
    val contrib = terms.indices.map { i =>
      when(col(s"tf$i") > 0,
        expr(s"(CAST(((nn - df$i) * 1000000) DIV (df$i + 1) AS DECIMAL(38,0)) * 44 * ll * tf$i)" +
          s" DIV (20*ll*tf$i + 6*ll + 18*dl*nn)"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    base.filter(hit)
      .crossJoin(broadcast(tot)) // single-row totals, the one sound BNL
      .select(col("id"), contrib.cast("long").as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("id").asc)
      .limit(k)
  }

  /**
   * Per-document salient terms: the k terms that best characterize each
   * document, ranked by (document frequency ASC, term frequency DESC,
   * term ASC) — the TF-IDF ordering expressed with integers only. A
   * float idf = log(N/df) ranks identically to df ASC for equal tf, but
   * log() is not bit-portable across engines; this ordering is exact
   * everywhere, so the result is hash-checkable.
   *
   * Scale shape: per-doc term counts aggregate map-side before their
   * (doc, term) shuffle; the document-frequency table is vocabulary-
   * sized (tiny vs the corpus — broadcast it when it fits) and joins
   * back on term; the final top-k per doc is a bounded row_number
   * window. No stage ever holds more than (doc, term) granularity.
   *
   * Output: (id, rank, term, tf, df), rank in 1..k.
   */
  def salientTerms(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    // tf feeds both the df rollup and the final join — checkpoint so the
    // corpus tokenize+count runs ONCE
    val tf = docs
      .select(id.as("id"), explode(split(text, " ")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("df").asc, col("tf").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Share

/**
 * Deduplication operators for large-scale training-data pipelines.
 * All operators are pure DataFrame transforms built from codegen'd
 * built-ins (no UDFs), so they distribute and scale with shuffles only
 * where semantically required (the candidate-pair joins).
 *
 * Scale notes (100 TB):
 *  - exact dedup shuffles once on a 64-hex digest (uniform, skew-free);
 *  - MinHash-LSH shuffles shingles (explode ~ O(tokens)), then joins on
 *    band keys — band buckets are the only potential hot keys, and the
 *    band hash is uniform unless true duplicate clusters are huge, in
 *    which case AQE skew-join splits them;
 *  - SimHash is a narrow per-doc aggregation over exploded tokens;
 *  - pairwise verification joins are bounded to LSH candidates, never all
 *    pairs.
 */
object Dedup {

  /** Portable 60-bit hash (same value computable in DuckDB:
    * `('0x' || substr(sha256(x),1,15))::BIGINT`). */
  def hash64(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  /** Exact duplicate groups by content digest: (digest, n_dups, keeper_id). */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(sha2(text, 256).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(id).as("keeper_id"))

  /** Exact-dedup projection: keep one doc per digest. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, col(idCol), col(textCol)).select(col("keeper_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** (id, shingle) pairs: distinct n-word shingles per GROUP, where `id`
    * may repeat across rows (e.g. per-lang shingle sets) — the cross-row
    * dedup costs one full shuffle of the shingle stream. When `id` is
    * unique per row (the common per-document case) use [[docShingles]],
    * which gets the identical row set with NO shuffle. */
  def wordShingles(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"), explode(TextOps.ngramArray(text, n)).as("shingle")).distinct()

  /** As [[wordShingles]] for the per-document case — PRECONDITION: `id`
    * is unique per input row. The distinct then never crosses rows, so it
    * runs as a narrow per-row `array_distinct` BEFORE the explode and the
    * corpus-sized (id, shingle) shuffle disappears outright (guide §2.4
    * class: a `distinct` on data that is already unique across rows).
    * Row set is identical to `wordShingles` under the precondition. */
  def docShingles(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"),
      explode(array_distinct(TextOps.ngramArray(text, n))).as("shingle"))

  /** The per-document distinct shingle SET kept as an ARRAY column:
    * (id, shingles) — same precondition as [[docShingles]] (`id` unique
    * per row), and `docShingles == explode of this frame` row for row.
    * One shared copy can feed BOTH the LSH stage (exploded) and the
    * array-based Jaccard verify below without a second tokenization pass,
    * and the shared frame stores each doc id once instead of once per
    * shingle ([[nearDupPairs]]). */
  def docShingleArrays(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("id"), array_distinct(TextOps.ngramArray(text, n)).as("shingles"))

  /**
   * MinHash signature columns: ONE sha256 per distinct shingle; hash i is
   * the 8-hex-char slice [8i, 8i+8) of that digest — up to 8 independent
   * uniform 32-bit hashes from a single digest evaluation. (The r1 scheme
   * computed `numHashes` FULL sha256 per shingle AND exploded shingle rows
   * x numHashes; the digest was the dominant dedup cost at every scale.)
   * The lexicographic min of a uniform hash slice is a valid min-wise
   * family, exactly reproducible in DuckDB: min(substr(sha256(s),8i+1,8)).
   * Output: one row per doc, (id, mh0..mh{numHashes-1}).
   */
  def minhashSignature(shingles: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes >= 1 && numHashes <= 8, "one 64-hex sha256 carries at most 8 8-hex slices")
    val sha = sha2(col("shingle"), 256)
    val mins = (0 until numHashes).map(i => min(substring(sha, i * 8 + 1, 8)).as(s"mh$i"))
    shingles.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH keys from a minhash signature frame: (id, band, band_key). */
  def bandedKeys(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must split evenly into bands")
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val key = sha2(concat_ws(":",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*), 256)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))
  }

  /**
   * LSH banding: docs sharing any band key become candidate pairs;
   * returns distinct (a, b) with a < b.
   *
   * Mega-bucket safety (the 100 TB path): a true duplicate cluster of k
   * copies lands k ids in one bucket. For k <= maxBucket the full
   * in-bucket clique is emitted via a bounded higher-order-function
   * expansion (one collect_list of at most maxBucket ids). For k >
   * maxBucket the clique is O(k^2) pairs AND an O(k) single-row list —
   * an executor OOM — so oversized buckets emit a keeper STAR instead:
   * (min id of the bucket, member), k-1 pairs, no per-row list at all.
   * Every member stays connected to the cluster keeper, so downstream
   * dedup (connected components / keeper election) sees the same
   * clusters; nothing is dropped. `lshBucketStats` reports which buckets
   * took the star path so the switch is never silent.
   */
  def lshCandidates(docs: DataFrame, id: Column, text: Column,
                    shingleWords: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                    maxBucket: Int = 1024): DataFrame =
    lshCandidatesFromShingles(docShingles(docs, id, text, shingleWords),
      numHashes, rowsPerBand, maxBucket)

  /** As `lshCandidates`, over a pre-computed (id, shingle) frame — share
    * one shingle frame between candidate generation and Jaccard verify.
    * Not lazy: the banded keys and the bucket sizes go through
    * [[graft.Share]], so the call runs their shuffle-map stages (the
    * minhash group-by and the bucket-size group-by). */
  def lshCandidatesFromShingles(shingles: DataFrame, numHashes: Int = 8,
                                rowsPerBand: Int = 2, maxBucket: Int = 1024): DataFrame = {
    // banded is tiny (bands rows per doc); shared so the expensive
    // shingle+sha subplan runs ONCE for both the size split below
    val banded = Share(bandedKeys(minhashSignature(shingles, numHashes), numHashes, rowsPerBand))
    // the per-bucket sizes feed BOTH the small-clique and keeper-star
    // branches below; unshared, each branch re-aggregated the full banded
    // frame — two identical HashAggregate+Exchange subtrees over a
    // corpus-sized input (r7, guide §2.4; jaccardPairsFromShingles shares
    // its `sizes` for the same reason)
    val sizes = Share(banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bsz"), min(col("id")).as("keeper")))
    val member = banded.join(sizes, Seq("band", "band_key"))
    val ids = sort_array(collect_list(col("id")))
    val pairs = flatten(transform(sequence(lit(1), size(col("ids")) - 1), i =>
      transform(sequence(i + 1, size(col("ids"))), j =>
        struct(element_at(col("ids"), i).as("a"), element_at(col("ids"), j).as("b")))))
    val small = member.filter(col("bsz") > 1 && col("bsz") <= maxBucket)
      .groupBy("band", "band_key").agg(ids.as("ids"))
      .select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // keeper == min(id) of the bucket, so a < b holds by construction
    val large = member.filter(col("bsz") > maxBucket && col("id") =!= col("keeper"))
      .select(col("keeper").as("a"), col("id").as("b"))
    small.union(large).distinct()
  }

  /**
   * Per-bucket size metrics: (band, band_key, bsz, oversized). Emit next
   * to `lshCandidates` output so keeper-star buckets are observable.
   */
  def lshBucketStats(shingles: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2,
                     maxBucket: Int = 1024): DataFrame =
    bandedKeys(minhashSignature(shingles, numHashes), numHashes, rowsPerBand)
      .groupBy("band", "band_key").agg(count(lit(1)).as("bsz"))
      .withColumn("oversized", col("bsz") > maxBucket)

  /**
   * Exact n-gram Jaccard verification for a candidate (or full) pair set:
   * (a, b, inter, union_) with integer set sizes, so thresholding is
   * float-free: `100*inter >= pct*union_`.
   */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column,
                   shingleWords: Int = 3, candidates: Option[DataFrame] = None): DataFrame =
    jaccardPairsFromShingles(docShingles(docs, id, text, shingleWords), candidates)

  /** As `jaccardPairs`, over a pre-computed (id, shingle) frame — share
    * ONE shingle frame with `lshCandidatesFromShingles` instead of
    * re-deriving shingles after the LSH stage. Not lazy: the per-id sizes
    * go through [[graft.Share]], so the call runs their group-by's
    * shuffle-map stage. */
  def jaccardPairsFromShingles(sh: DataFrame, candidates: Option[DataFrame]): DataFrame = {
    // sizes feeds BOTH endpoint joins below — unshared, the plan
    // re-aggregated the whole shingle frame once per side (r7: the
    // audited plan showed two identical HashAggregate+Exchange subtrees;
    // one pass now, broadcast twice)
    val sizes = Share(sh.groupBy("id").agg(count(lit(1)).as("n")))
    val paired = candidates match {
      case None =>
        // all-pairs: only for small verification scales — hot shingles
        // make this quadratic
        sh.as("sa").join(sh.as("sb"),
          col("sa.shingle") === col("sb.shingle") && col("sa.id") < col("sb.id"))
          .select(col("sa.id").as("a"), col("sb.id").as("b"))
      case Some(c) =>
        // candidate-bounded (the 100 TB path): join shingles to the
        // candidate pair list FIRST so compute is O(|candidates| * doc
        // size), never all-pairs
        c.join(sh.as("sa"), c("a") === col("sa.id"))
          .join(sh.as("sb"), c("b") === col("sb.id") && col("sa.shingle") === col("sb.shingle"))
          .select(col("a"), col("b"))
    }
    paired.groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_"))
  }

  /** As `jaccardPairsFromShingles` over the ARRAY form ([[docShingleArrays]],
    * one row per id): attach the two shingle sets by id equi-join and take
    * `size(array_intersect(sa, sb))` as a narrow per-row expression.
    * PRECONDITION: `candidates` holds DISTINCT (a, b) pairs, as every
    * caller's LSH/blocking output does. Under it the output is IDENTICAL
    * to the exploded form — (a, b, inter, union_), BIGINT sizes,
    * zero-intersection pairs dropped (the exploded form's inner shingle
    * join never produced them; arrays are distinct so the intersect count
    * is the set intersection size). A pair listed k times breaks the
    * equality: the exploded form's (a, b) aggregate folds the k copies
    * into ONE row with `inter` multiplied by k, while this join emits k
    * rows with the true `inter`. What disappears vs the exploded form
    * (guide §2.3 "move heavy bytes once" + §2.4): the
    * O(|candidates| x doc-size) join intermediate, the (a, b) pair-count
    * aggregate exchange, and the separate per-doc `sizes` pass —
    * `size(sa)` rides the same row. */
  def jaccardPairsFromShingleArrays(arr: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(arr.select(col("id").as("a"), col("shingles").as("sa")), Seq("a"))
      .join(arr.select(col("id").as("b"), col("shingles").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")).cast("long") + size(col("sb")).cast("long")).as("sz_"))
      .filter(col("inter") >= 1)
      .select(col("a"), col("b"), col("inter"), (col("sz_") - col("inter")).as("union_"))

  /**
   * Near-duplicate document pairs, the scalable two-stage shape: LSH
   * candidates over 3-word shingles, then exact Jaccard verify at
   * `inter / union_ >= 0.8` (float-free: `5 * inter >= 4 * union_`).
   * Output: (a, b, inter, union_) with a < b. PRECONDITION: `id` unique
   * per row, as for [[docShingleArrays]].
   *
   * ONE tokenization pass is shared as the per-doc shingle-set ARRAY
   * frame: the LSH stage explodes it, the verify reads the arrays directly
   * (narrow `array_intersect`, no O(candidates x doc-size) join
   * intermediate, r7). The small candidate list is shared too, so the two
   * verify joins never recompute the minhash sub-plan. Not lazy: the
   * call runs the shuffle-map stages of both shared frames and of the LSH
   * stage's own shared frames.
   */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val arr = Share(docShingleArrays(docs, id, text, 3))
    val cands = Share(lshCandidatesFromShingles(
      arr.select(col("id"), explode(col("shingles")).as("shingle"))))
    jaccardPairsFromShingleArrays(arr, cands)
      .filter(col("inter") * 5 >= col("union_") * 4)
  }

  /**
   * 16-bit SimHash over the distinct-token set: bit j is set when the
   * sum over tokens of sign((hash64(token) >> j) & 1) is positive.
   * Small enough to replicate bit-for-bit in SQL, same structure as the
   * classic 64-bit version.
   */
  def simhash16(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // PRECONDITION: `id` unique per row (one text per doc). The
    // distinct-token set then never crosses rows, so it is a narrow
    // per-row array_distinct instead of a corpus-wide (id, tok) shuffle
    // (r7: removed one of the three Exchanges; identical rows under the
    // precondition, which every caller satisfies — docs are id-keyed).
    val toks = docs.select(id.as("id"), explode(array_distinct(split(text, " "))).as("tok"))
      .withColumn("h", hash64(col("tok")))
    val bitSums = (0 until 16).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sig = (0 until 16).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  /**
   * Embedding near-duplicate pairs, the 100 TB two-stage shape (same as
   * MinHash->Jaccard): candidates = pairs sharing a hyperplane-LSH
   * (table, bucket) key in ANY of `tables` hash tables (an equi-join on
   * the bucket key — shuffles, never cartesian), then exact cosine >=
   * minCosine verification over candidates only.
   *
   * Recall is a (tables, planesPerTable) trade-off: for true near-dups
   * (cos >= 0.95) the default 8x8 gives ~0.99 per-pair recall; weakly
   * similar pairs near a low threshold are sampled, by design — an exact
   * low-threshold pair join is inherently quadratic (see
   * `embeddingNearDupsExact`). The buckets are engine-portable
   * (Similarity.planeCoef), so the DuckDB oracle reproduces the exact
   * same candidate set and the cross-engine check is bit-exact.
   */
  def embeddingNearDups(embs: DataFrame, id: Column, vec: Column, minCosine: Double,
                        dims: Int, tables: Int = 8, planesPerTable: Int = 8): DataFrame = {
    val e = embs.select(id.as("id"), Similarity.asDouble(vec).as("v"))
    val b = Similarity.lshBuckets(e, col("id"), col("v"), dims, tables, planesPerTable)
    val cand = b.as("l").join(b.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    cand
      .join(e.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(e.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= minCosine)
      .select("a", "b")
  }

  /**
   * Exact all-pairs variant — VERIFICATION SCALE ONLY (O(n^2) cartesian).
   * Kept as the recall baseline for specs; never the production path.
   */
  def embeddingNearDupsExact(embs: DataFrame, id: Column, vec: Column, minCosine: Double): DataFrame = {
    val e = embs.select(id.as("id"), Similarity.asDouble(vec).as("v"))
    e.as("l").join(e.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        Similarity.cosine(col("l.v"), col("r.v")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select("a", "b")
  }
}

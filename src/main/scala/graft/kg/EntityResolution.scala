package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Entity resolution over KG node labels: multi-pass blocking ->
 * edit-distance verify -> connected components -> canonical (owl:sameAs)
 * cluster representative. The linking stage that follows construction
 * (the reference stops at parsing; `Canonicalize` unifies only EQUAL
 * IRIs — this unifies near-equal labels: case/punctuation variants and
 * small typos).
 *
 * Scale shape (the all-pairs comparison is O(n^2) and must never run):
 *
 *   1. BLOCKING: each entity emits two deterministic keys over its
 *      normalized label (lowercased, non-alphanumerics stripped) — the
 *      `prefixLen`-char prefix and suffix. Candidate pairs come only
 *      from equi-self-joins inside a block, so comparisons are
 *      O(sum block^2), not O(n^2). Two keys because one edit can change
 *      one end of a string but rarely both: a pair within `maxEdit`
 *      escapes the pass only if edits hit BOTH ends (the documented
 *      recall bound of standard multi-pass blocking).
 *   2. Non-discriminative mega-blocks (> `maxBlock` members, e.g. every
 *      label starting "the ") are DROPPED, not joined: a key shared by
 *      100k entities carries no linkage signal and would quadratically
 *      dominate the join. `blockStats` makes the drop observable.
 *   3. VERIFY: `levenshtein(norm_a, norm_b) <= maxEdit` on the candidate
 *      pairs only — classic edit distance, identical in DuckDB, so the
 *      gate is hash-exact.
 *   4. CLUSTER: connected components over verified pairs (transitive:
 *      exact <-> lowercase <-> typo all land in one cluster), canonical
 *      id = min entity id; singletons map to themselves.
 *
 * Every join is an equi-join on a block key or entity id; all stages are
 * DataFrame ops — the same shape at 10^9 entities.
 */
object EntityResolution {

  // native single-pass expression, exact parity with the regex
  // formulation regexp_replace(lower(label), "[^a-z0-9]+", "") it
  // replaced (NormalizeLabelSpec) — the blocking stage's per-row hot
  // loop at 1e9 labels, same pattern class the r2 IRI canonicalization
  // replaced for a measured ~50x
  private def normalized(label: Column): Column = NormalizeLabel(label)

  private def blockKeys(entities: DataFrame, idCol: String, labelCol: String,
                        prefixLen: Int, dedup: Boolean = true): DataFrame = {
    val n = normalized(col(labelCol))
    // suffix start is computed with an explicit greatest(1, ...) so the
    // short-string edge case has ONE definition the DuckDB oracle can
    // mirror exactly (negative-position substr semantics differ)
    val keyed = entities.select(col(idCol).as("id"), n.as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("id"), col("norm"), explode(array(
        concat(lit("p:"), substring(col("norm"), 1, prefixLen)),
        concat(lit("s:"), col("norm").substr(
          greatest(lit(1), length(col("norm")) - (prefixLen - 1)), lit(prefixLen)))
      )).as("bkey"))
    // the distinct is defensive only — the 'p:'/'s:' markers keep the two
    // keys distinct even when a short norm's prefix equals its suffix; it
    // dedups nothing unless the INPUT carries duplicate (id, label) rows.
    // The DuckDB oracle carries the same DISTINCT so both engines see
    // identical block membership either way. resolveEntities' contract
    // makes `id` unique (one label per id), so it skips the shuffle
    // outright (r7, guide §2.4: a distinct on already-unique data);
    // blockStats keeps it — its output is the observability surface and
    // stays byte-stable whatever the caller feeds it.
    if (dedup) keyed.distinct() else keyed
  }

  /** Blocking observability: (bkey, n_members, dropped) — the mega-block
    * drop of step 2 must be visible, not silent. */
  def blockStats(entities: DataFrame, idCol: String, labelCol: String,
                 prefixLen: Int = 4, maxBlock: Int = 1000): DataFrame =
    blockKeys(entities, idCol, labelCol, prefixLen)
      .groupBy("bkey").agg(count(lit(1)).as("n_members"))
      .withColumn("dropped", col("n_members") > maxBlock)

  /**
   * Resolve near-duplicate entities: returns (id, canonical) for EVERY
   * input entity, canonical = min id of its verified-similarity cluster.
   *
   * PRECONDITION: `idCol` uniquely identifies rows (one label per id).
   * Duplicate ids with conflicting labels would emit one output row per
   * variant and verify each independently — dedupe upstream (the KG
   * node table this stage consumes is id-unique by construction).
   */
  def resolveEntities(entities: DataFrame, idCol: String, labelCol: String,
                      maxEdit: Int, prefixLen: Int = 4,
                      maxBlock: Int = 1000): DataFrame = {
    val keyed = blockKeys(entities, idCol, labelCol, prefixLen, dedup = false)
      // feeds the size guard AND both join sides: one checkpointed RDD,
      // computed once. Under AQE this call runs any shuffle-map stage under
      // `entities` at once; the keying itself is the result stage and runs
      // in the first downstream action
      .localCheckpoint(false)
    val ok = keyed.groupBy("bkey").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBlock)
    val inBlock = keyed.join(ok.select("bkey"), Seq("bkey"))
    val pairs = inBlock.as("x").join(inBlock.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.norm").as("na"), col("y.norm").as("nb"))
      .distinct() // the two passes re-find the same pair; verify once
      // length prefilter: |len(a) - len(b)| > maxEdit already implies
      // edit distance > maxEdit, and the cheap column compare short-
      // circuits the DP for most cross-block pairs. The surviving pairs
      // use the THRESHOLDED levenshtein (returns -1 when the distance
      // exceeds maxEdit): the banded DP visits O(maxEdit * len) cells
      // instead of O(len^2) and abandons a row as soon as the band
      // floor exceeds the threshold — same predicate, and the DuckDB
      // mirror's plain levenshtein(x,y) <= k is equivalent by definition
      .filter(abs(length(col("na")) - length(col("nb"))) <= maxEdit &&
        levenshtein(col("na"), col("nb"), maxEdit) =!= -1)
      .select("a", "b")
      // feeds CC's per-round contraction AND its node universe AND the
      // final label join — checkpoint the (small) verified edge list
      // once instead of re-running the block self-join per consumer.
      // Under AQE this call already runs the block-size, self-join and
      // distinct shuffle-map stages; only the verify after the distinct
      // waits for CC's first fingerprint action (graft.Probe:
      // kg_entity_resolution runs 19 jobs while it is built, 5 in its write)
      .localCheckpoint(false)
    val labels = GraphOps.connectedComponents(pairs, "a", "b", maxIter = 50)
    entities.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("node_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("canonical"))
  }

  /**
   * Apply resolved sameAs clusters back to the graph — the step that
   * turns [[resolveEntities]]' output into a MERGED knowledge graph:
   * rewrite both endpoints of every edge to their cluster canonical and
   * drop the duplicate edges the merge creates (a graph is a SET of
   * edges). `mapping` is (id, canonical) as produced by
   * [[resolveEntities]]; endpoints absent from it pass through
   * unchanged (left join + coalesce), and statements between two
   * now-merged nodes remain as self-loops — owl:sameAs semantics keep
   * the assertion, now on the canonical node. Callers align the id
   * types of `edges` and `mapping` (the engine's edges convention is
   * string node ids).
   *
   * Scale shape: two equi-joins on node ids (uniform sha256 ids in the
   * engine's convention — skew-free) plus the one set-dedup shuffle;
   * the mapping side is |V|-sized — the same shuffle shape as the E7
   * materialization that produced the edges.
   */
  def rewriteSameAs(edges: DataFrame, mapping: DataFrame): DataFrame = {
    val m = mapping.select(col("id"), col("canonical"))
    edges.select("subj_id", "pred", "obj_id")
      .join(m.select(col("id").as("subj_id"), col("canonical").as("_sc")),
        Seq("subj_id"), "left")
      .join(m.select(col("id").as("obj_id"), col("canonical").as("_oc")),
        Seq("obj_id"), "left")
      .select(coalesce(col("_sc"), col("subj_id")).as("subj_id"), col("pred"),
        coalesce(col("_oc"), col("obj_id")).as("obj_id"))
      .distinct()
  }
}

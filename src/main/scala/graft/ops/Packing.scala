package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Share

/**
 * Sequence PACKING for LLM training data: documents are concatenated in
 * id order into one virtual token stream, which is cut into fixed-length
 * training sequences (GPT-style concat-and-chunk) — the step between a
 * curated corpus and a token-budgeted dataloader.
 *
 * The core primitive is a DISTRIBUTED PREFIX SUM. A naive
 * `sum(n) over (order by id)` is correct but plans a single unpartitioned
 * window — every row through ONE task, the classic 100 TB serialization
 * trap. [[prefixOffsets]] is the standard two-level scan instead:
 *
 *   1. block subtotals: one shuffle keyed on id DIV blockSize;
 *   2. an ordered cumsum over the BLOCK TOTALS only — metadata-sized
 *      (1e9 docs / 4096 = ~250k rows), the only place a global window
 *      runs;
 *   3. block offsets broadcast back, intra-block cumsum windowed
 *      PARTITIONED BY block — full parallelism on the big side.
 *
 * Every number is a BIGINT sum over BIGINTs, so the packing layout is
 * deterministic and bit-identical in any engine.
 */
object Packing {

  /**
   * (id, n) -> (id, n, offset): offset = sum of n over all rows with a
   * smaller id. `id` must be a unique integral key (doc_id). `blockSize`
   * only tunes the block count — any value gives identical offsets.
   */
  def prefixOffsets(df: DataFrame, id: Column, n: Column,
                    blockSize: Long = 4096L): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    // base feeds the block-totals aggregate AND the offset-join probe
    // side — unshared, each consumer re-ran the source scan and the `n`
    // expression (for packSequences that is a full re-tokenization of the
    // corpus text; r7, guide §2.4/§5). The shared frame is (id, n, blk)
    // longs — narrow vs the source.
    val base = Share(df.select(id.cast("long").as("id"), n.cast("long").as("n"))
      .withColumn("blk", expr(s"id DIV $blockSize")))
    val blkOff = base.groupBy("blk").agg(sum("n").as("bn"))
      .withColumn("boff", coalesce(
        sum("bn").over(Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("blk", "boff") // block count is metadata-sized: broadcasts
    base.join(broadcast(blkOff), Seq("blk"))
      .withColumn("ioff", coalesce(
        sum("n").over(Window.partitionBy("blk").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("id"), col("n"), (col("boff") + col("ioff")).as("offset"))
  }

  /**
   * Concat-and-chunk packing: one row per (document, training sequence)
   * span — (bin_id, doc_id, start_tok, n_toks) with start_tok the offset
   * INSIDE the document. Per-bin token sums are exactly `seqLen` (except
   * the final bin), and each document's spans partition its tokens; both
   * invariants are spec-pinned.
   */
  def packSequences(docs: DataFrame, id: Column, nTokens: Column,
                    seqLen: Long, blockSize: Long = 4096L): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val off = prefixOffsets(docs, id, nTokens, blockSize).filter(col("n") > 0)
    off
      .withColumn("b0", expr(s"offset DIV $seqLen"))
      .withColumn("b1", expr(s"(offset + n - 1) DIV $seqLen"))
      .select(col("id"), col("n"), col("offset"),
        explode(sequence(col("b0"), col("b1"))).as("bin_id"))
      .select(col("bin_id"), col("id").as("doc_id"),
        greatest(col("bin_id") * seqLen - col("offset"), lit(0L)).as("start_tok"),
        (least((col("bin_id") + 1) * seqLen, col("offset") + col("n"))
          - greatest(col("bin_id") * seqLen, col("offset"))).as("n_toks"))
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.TestSpark

/**
 * Dedup-at-skew evidence (VERDICT r3 #9): a mega duplicate cluster — the
 * one key distribution real web corpora are guaranteed to contain — must
 * take the keeper-star path in LSH candidate generation, keeping the
 * candidate count O(k) instead of the O(k^2) in-bucket clique that OOMs
 * an executor at scale, WITHOUT losing cluster connectivity, and the
 * switch must be observable through lshBucketStats.
 */
class DedupSkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 2000

  // same scaffold Bench's `dedup_skew` datum times — one definition, so
  // the assertions here and the artifact's wall-time measure ONE corpus
  private lazy val skewed = SkewCorpus(spark, "/root/testdata/sf0.001", K)

  test(s"$K-copy duplicate cluster trips the oversized-bucket stats") {
    val (docs, _) = skewed
    val sh = Dedup.wordShingles(docs, col("doc_id"), col("text"), 3)
    val oversized = Dedup.lshBucketStats(sh).filter(col("oversized"))
    // identical texts share every band bucket: all 4 bands blow past
    // maxBucket=1024 and the switch is visible, not silent
    assert(oversized.count() === 4)
    assert(oversized.agg(min(col("bsz"))).collect()(0).getLong(0) >= K)
  }

  test(s"keeper star keeps candidates linear and the cluster connected") {
    val (docs, maxId) = skewed
    val cands = Dedup.lshCandidates(docs, col("doc_id"), col("text"))
      .localCheckpoint(true)
    val n = cands.count()
    // the in-bucket clique would be K*(K+1)/2 ~ 2.0M pairs; the star
    // emits K per band before dedup — linear with generous headroom
    assert(n < 20000, s"candidate count $n is not linear in cluster size")
    // no row explosion hidden upstream either: every candidate pair
    // involving a clone must be a keeper-star edge (a == bucket keeper)
    val cloneIds = (1 to K).map(maxId + _)
    val starA = cands.filter(col("b").isin(cloneIds.take(100).map(Long.box): _*))
      .select(countDistinct(col("a"))).collect()(0).getLong(0)
    // all four band buckets are oversized, so every clone-involving pair
    // is a star edge: at most one keeper per band (bucket membership can
    // differ across bands when planted near-dups match only some bands)
    assert(starA >= 1 && starA <= 4, s"clones hang off $starA keepers — star path bypassed")
    // connectivity: components over the candidate edges put every clone
    // (and the cloned original) into ONE cluster
    val labels = graft.kg.GraphOps.connectedComponents(cands, "a", "b")
    val cloneComponents = labels
      .filter(col("node_id") > maxId)
      .select(countDistinct(col("component"))).collect()(0).getLong(0)
    assert(cloneComponents === 1, "keeper star must keep the cluster whole")
  }
}

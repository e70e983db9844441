package graft.kg

import org.apache.spark.sql.DataFrame
import graft.CostTrace
import org.scalatest.funsuite.AnyFunSuite

/**
 * The contract of GraphOps' iterative operators (transitiveClosure, kCore,
 * connectedComponents, bfsDistances), which share one fixpoint driver:
 *  - exhaustion: a too-small `maxIter` is an error naming the operator
 *    and the bound, never partial state; BFS's depth cap is by design;
 *  - cost: one action per round. The job counts below are those of the
 *    hand-written loops the driver replaced, measured on these fixed
 *    inputs, so a lost checkpoint/fingerprint fusion (an extra job per
 *    round) fails here.
 */
class FixpointSpec extends AnyFunSuite {
  // a fresh session over the shared context: runtime conf changes made by
  // other suites (AQE, broadcast threshold) cannot shift the job counts
  private lazy val spark = TestSpark.spark.newSession()
  import spark.implicits._

  private def chain(n: Int): DataFrame = (0 until n).map(i => (i.toLong, i + 1L)).toDF("s", "d")
  private def path(n: Int): DataFrame =
    (0L until n.toLong).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
  private def treeAndClique: DataFrame =
    ((1 to 24).map(i => (i.toLong, (i / 2).toLong)) ++
      (for (a <- 0 to 5; b <- a + 1 to 5) yield (a.toLong, b.toLong))).toDF("src", "dst")
  private def ringAndChord: DataFrame =
    (0L until 25L).flatMap(i => Seq((i, (i + 1) % 25), (i, (i + 2) % 25))).toDF("src", "dst")

  private def exhausted(op: String, maxIter: Int)(call: => DataFrame): Unit = {
    val e = intercept[IllegalArgumentException](call.collect())
    assert(e.getMessage.contains(op) && e.getMessage.contains(s"maxIter = $maxIter"), e.getMessage)
  }

  test("a too-small maxIter is an error for closure, k-core and components") {
    // an 8-chain closes in 3 doubling rounds; the 4th confirms the fixpoint
    exhausted("transitiveClosure", 3)(GraphOps.transitiveClosure(chain(8), "s", "d", maxIter = 3))
    assert(GraphOps.transitiveClosure(chain(8), "s", "d", maxIter = 4).count() == 36)
    exhausted("kCore", 1)(GraphOps.kCore(treeAndClique, "src", "dst", k = 3, maxIter = 1))
    exhausted("connectedComponents", 2)(
      GraphOps.connectedComponents(path(300), "src", "dst", maxIter = 2))
  }

  test("bfsDistances at maxDepth returns the rows within the cap") {
    val got = GraphOps.bfsDistances(path(300), "src", "dst", sources = Seq(0L), maxDepth = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  /** (jobs while the operator is called, jobs of one collect of its result). */
  private def jobs(op: => DataFrame): (Int, Int) = {
    val trace = new CostTrace(spark.sparkContext)
    try {
      val df = trace.span("build")(op)
      trace.span("run")(df.collect())
      val Seq(build, run) = trace.spans.map(trace.cost(_).jobs)
      (build, run)
    } finally trace.close()
  }

  test("jobs per call are those of one action per round") {
    val counts = Seq(
      "transitiveClosure" -> jobs(GraphOps.transitiveClosure(chain(8), "s", "d")),
      "kCore" -> jobs(GraphOps.kCore(treeAndClique, "src", "dst", k = 3)),
      "connectedComponents" -> jobs(GraphOps.connectedComponents(path(64), "src", "dst")),
      "bfsDistances capped" -> jobs(GraphOps.bfsDistances(ringAndChord, "src", "dst",
        sources = Seq(0L), maxDepth = 3)),
      "bfsDistances drained" -> jobs(GraphOps.bfsDistances(path(12), "src", "dst",
        sources = Seq(0L, 11L), maxDepth = 20)))
    assert(counts == Seq(
      "transitiveClosure" -> (23, 1),
      "kCore" -> (15, 2),
      "connectedComponents" -> (45, 4),
      // the hand-written loop ran 17 and 34: an eager checkpoint of the
      // sources (1 job, not the 2 of a fingerprint), and a round-1
      // frontier that was the visited set itself, so AQE reused its
      // broadcast; per round from round 2 on the counts are equal
      "bfsDistances capped" -> (19, 1),
      "bfsDistances drained" -> (36, 1)))
  }
}

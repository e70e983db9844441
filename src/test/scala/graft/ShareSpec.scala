package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.TestSpark

/**
 * The defined behaviour of a lost shared block: `Share` keeps one copy of
 * each block on the executor that wrote it and cuts the lineage, so once a
 * block is gone the next consumer fails loudly, naming the block, and
 * returns no rows. A recomputing policy would change this spec on purpose.
 */
class ShareSpec extends AnyFunSuite {
  // a fresh session over the shared context: runtime conf changes made by
  // other suites cannot change the plan under the shared frame
  private lazy val spark = TestSpark.spark.newSession()

  test("a consumer of a shared frame whose blocks are lost fails, naming the block") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val shared = Share(spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n")))
    // the first consumer stores the blocks and reads the right rows
    assert(shared.agg(sum(col("n"))).collect()(0).getLong(0) == 1000L)
    // what losing the executor that wrote them does to the blocks; only
    // this frame's RDDs, so other suites' shared frames are untouched
    val mine = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(mine.nonEmpty)
    mine.values.foreach(_.unpersist(blocking = true))
    val e = intercept[SparkException](shared.filter(col("k") < 5).collect())
    assert(e.getMessage.contains("Checkpoint block rdd_") && e.getMessage.contains("not found"),
      e.getMessage)
  }

  test("a shared frame's plan names the caller, and the caller's call site is restored") {
    val sc = spark.sparkContext
    val keys = Seq("callSite.short", "callSite.long")
    def frame() = Share(spark.range(0, 10, 1, 2).select((col("id") * 2).as("x")))
    // unset before the call: still unset after it
    sc.clearCallSite()
    val plan = frame().queryExecution.explainString(FormattedMode)
    assert(plan.contains("localCheckpoint at ShareSpec.scala:"), plan)
    assert(!plan.contains("Share.scala"), plan)
    assert(keys.map(sc.getLocalProperty).forall(_ == null))
    // set by the caller before the call: the same values after it
    sc.setLocalProperty(keys(0), "caller short")
    sc.setLocalProperty(keys(1), "caller long")
    try {
      frame()
      assert(keys.map(sc.getLocalProperty) === Seq("caller short", "caller long"))
    } finally sc.clearCallSite()
  }
}

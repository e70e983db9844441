package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Share

/**
 * Distributed graph algorithms over the materialized edges table,
 * expressed as iterative DataFrame joins (no GraphX/RDDs).
 */
object GraphOps {

  /** Node degree distribution: (node_id, out_deg, in_deg). */
  def degrees(edges: DataFrame, src: String = "subj_id", dst: String = "obj_id"): DataFrame = {
    val out = edges.groupBy(col(src).as("node_id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dst).as("node_id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node_id"), "full")
      .na.fill(0L, Seq("out_deg", "in_deg"))
  }

  /**
   * Multi-source BFS shortest-path distances over the undirected graph,
   * capped at `maxDepth` hops: the KG traversal primitive ("everything
   * within k hops of these entities"). Classic frontier iteration as a
   * [[fixpoint]] over the distances found so far: round r joins the nodes
   * at distance r - 1 against the edge list and anti-joins the visited
   * set, so round cost is O(frontier-adjacent edges), the same shape at
   * 10^12 edges. It stops early when a round finds no new node; reaching
   * `maxDepth` is the cap by design, not an error. First visit IS the
   * shortest distance, so results are deterministic.
   * Output: (node_id, dist) for every node within maxDepth (sources at 0).
   */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
                   sources: Seq[Long], maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // read by every round
    val bidir = Share(und.union(und.select(col("v").as("u"), col("u").as("v"))).distinct())
    fixpoint(sources.distinct.toDF("node_id").withColumn("dist", lit(0L)), maxDepth) { (dists, round) =>
      val next = dists.filter(col("dist") === round - 1L).select("node_id")
        .join(bidir, col("node_id") === col("u"))
        .select(col("v").as("node_id")).distinct()
        .join(dists, Seq("node_id"), "left_anti")
      dists.union(next.withColumn("dist", lit(round.toLong)))
    }._1
  }

  /**
   * Per-node triangle counts via DEGREE-ORDERED wedge enumeration (the
   * standard O(m^1.5) algorithm): undirected edges are oriented from the
   * (degree, id)-smaller endpoint to the larger, which bounds every
   * node's out-degree by O(sqrt(m)) on ANY graph — hub nodes (rdf:type
   * targets!) get in-edges only, so the wedge join on the common source
   * never explodes on skew. Each triangle is counted exactly once: its
   * (deg, id)-minimal vertex is the unique node with oriented edges to
   * both others. Shuffles: degree agg, two orientation joins, the wedge
   * self-join keyed on the source, and a closure semi-join keyed on the
   * id-ordered pair — all equi-joins.
   *
   * Output: (node_id, n_triangles), one row per node (0 for none).
   */
  def trianglesPerNode(edges: DataFrame, src: String, dst: String): DataFrame = {
    // node universe from the RAW edges: a self-loop-only node must still
    // get its (node_id, 0) row — the self-loop filter below is only for
    // the triangle arithmetic (matching connectedComponents' "self-loops
    // dropped but their nodes kept")
    val allNodes = edges.select(col(src).as("node_id"))
      .union(edges.select(col(dst).as("node_id"))).distinct()
    // shared by the degree, orientation and closure consumers
    val und = Share(edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // read by both orientation joins
    val deg = Share(und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg")))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("dg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val wed = o.as("o1").join(o.as("o2"),
        col("o1.u") === col("o2.u") && col("o1.v") < col("o2.v"))
      .select(col("o1.u").as("tu"), col("o1.v").as("tx"), col("o2.v").as("ty"))
    val tri = wed.join(und, col("tx") === col("a") && col("ty") === col("b"), "left_semi")
    val counts = tri.select(explode(array(col("tu"), col("tx"), col("ty"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("c"))
    allNodes
      .join(counts, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("c"), lit(0L)).as("n_triangles"))
  }

  /**
   * Deterministic fixed-iteration PageRank in SCALED-INTEGER arithmetic:
   * pr0 = `scale` per node; each iteration
   *
   *   contrib(n) = pr(n) DIV out_deg(n)            (BIGINT floor division)
   *   pr'(v)     = teleport + (85 * sum contrib(in-neighbors)) DIV 100
   *
   * with teleport = 15 * scale / 100 (damping 0.85). All arithmetic is
   * BIGINT, so ranks are EXACT, independent of aggregation order, and
   * bit-identical in any engine (a float PageRank depends on partial-sum
   * order and can't be hash-compared cross-engine). Dangling-node mass is
   * dropped — the standard simplification; ranks remain a deterministic
   * relative ordering. Per iteration: one join shuffle keyed on src and
   * one aggregate keyed on dst, lineage cut per round — the same shape at
   * 10^12 edges. Overflow bound: sum(contrib) <= n_nodes * scale, so pick
   * scale <= 9.2e18 / (100 * n_nodes); the default 1e12 is safe to ~90M
   * nodes (auto-shrink if you have more).
   *
   * Output: (node_id, pr_scaled).
   */
  def pagerankScaled(edges: DataFrame, src: String, dst: String,
                     iters: Int = 3, scale: Long = 1000000000000L): DataFrame = {
    val teleport = scale * 15L / 100L
    // e, nodes and outDeg are each shared by every iteration
    val e = Share(edges.select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst")))
    val nodes = Share(e.select(col("src").as("node_id"))
      .union(e.select(col("dst").as("node_id"))).distinct())
    val outDeg = Share(e.groupBy(col("src").as("node_id")).agg(count(lit(1)).as("out_deg")))
    var pr = nodes.withColumn("pr", lit(scale))
    var i = 0
    while (i < iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node_id", "src"), Seq("src"))
        .join(outDeg.withColumnRenamed("node_id", "src").withColumnRenamed("out_deg", "odg"), Seq("src"))
        .select(col("dst").as("node_id"), expr("pr DIV odg").as("c"))
      val sums = contrib.groupBy("node_id").agg(sum(col("c")).as("s"))
      // cut per round, so the plan stays one round deep; the fixed
      // iteration count needs no convergence probe
      pr = Share(nodes.join(sums, Seq("node_id"), "left")
        .select(col("node_id"),
          (lit(teleport) + expr("(coalesce(s, 0L) * 85) DIV 100")).as("pr")))
      i += 1
    }
    pr.select(col("node_id"), col("pr").as("pr_scaled"))
  }

  /**
   * Transitive closure of a directed relation by ITERATIVE DOUBLING:
   * paths' = paths UNION (paths JOIN paths), so path length covered
   * doubles each round and a diameter-D hierarchy closes in O(log D)
   * joins — the property that matters for deep ontology chains, where
   * naive one-hop expansion (frontier semi-naive) costs D shuffle
   * rounds. Each round is one equi-join + distinct, run as a [[fixpoint]]
   * step. Output: distinct pairs reachable in >= 1 step (src <> dst),
   * under the CALLER'S `src`/`dst` column names.
   *
   * Closure SIZE is inherently O(n*reach) — at web scale you close
   * curated hierarchy predicates (subClassOf over a vocabulary), never
   * the instance graph; `maxIter` doubling rounds (paths up to 2^maxIter
   * hops) bound runaway inputs, and running out of them is an error.
   *
   * CONVENTION (documented deviation, ADVICE r6): the closure is
   * IRREFLEXIVE — `a =!= b` is filtered every round, so `x p+ x` pairs
   * arising from cycles are NOT emitted, where SPARQL 1.1
   * arbitrary-length-path semantics would include them. Every consumer
   * (the closure lowering in Bgp, the DuckDB oracle mirrors, and
   * GraphQueryDifferentialSpec's brute force) shares this convention;
   * the driver corpora are acyclic, so the engines agree. Changing it
   * means changing ALL of those together — a build-round item, not an
   * optimization.
   */
  def transitiveClosure(edges: DataFrame, src: String, dst: String,
                        maxIter: Int = 20): DataFrame = {
    val seed = edges.select(col(src).as("a"), col(dst).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val paths = converged("transitiveClosure", maxIter)(fixpoint(seed, maxIter) { (paths, _) =>
      val hop = paths.as("l").join(paths.as("r"), col("l.b") === col("r.a"))
        .select(col("l.a").as("a"), col("r.b").as("b"))
        .filter(col("a") =!= col("b"))
      paths.union(hop).distinct()
    })
    paths.select(col("a").as(src), col("b").as(dst))
  }

  /**
   * k-core: the maximal subgraph where every node has degree >= k, by
   * the standard ITERATIVE PEELING fixpoint — drop nodes of degree < k,
   * recompute, repeat. Peeling a layer is one degree aggregate + two
   * anti-joins on the (uniformly hashed) node id; rounds are bounded by
   * the graph's degeneracy layering, and each round's cost shrinks with
   * the surviving edge set. The k-core is where KG curation looks for
   * the "dense nucleus" (well-connected entities) vs peelable fringe.
   * A peeled edge set is a subset of the one before, so the driver's
   * fingerprint repeats exactly when no node was weak.
   *
   * Input treated as undirected, self-loops dropped. Output: (node_id)
   * rows — the members of the k-core (empty frame if none).
   */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
            maxIter: Int = 100): DataFrame = {
    val seed = edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val e = converged("kCore", maxIter)(fixpoint(seed, maxIter) { (e, _) =>
      val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      // shared by both anti-joins
      val weak = Share(deg.filter(col("dg") < k).select("n"))
      e.join(weak.withColumnRenamed("n", "a"), Seq("a"), "left_anti")
        .join(weak.withColumnRenamed("n", "b"), Seq("b"), "left_anti")
    })
    e.select(col("a").as("node_id")).union(e.select(col("b").as("node_id"))).distinct()
  }

  /**
   * Connected components by alternating large-star / small-star
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14 — the published O(log n)-round algorithm): edges are kept
   * normalized pointing large->small; large-star hangs every node's
   * larger neighbors off its minimum neighbor, small-star flattens the
   * smaller neighbors onto the minimum, and the alternation contracts
   * any component onto its minimum id in O(log n) rounds REGARDLESS of
   * diameter — the property that matters at 10^12-edge scale, where a
   * long path would cost min-label propagation O(diameter) shuffles.
   * Each round is two window+distinct shuffles, run as a [[fixpoint]]
   * step; running out of `maxIter` rounds is an error, since partly
   * contracted labels would split a component.
   *
   * Input edges (src, dst) are treated as undirected; self-loops are
   * dropped but their nodes kept. Output: (node_id, component) where
   * component == min node id in the component.
   */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col(src).as("node_id"))
      .union(edges.select(col(dst).as("node_id"))).distinct()
    val seed = edges
      .select(greatest(col(src), col(dst)).as("u"), least(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // per-star min attached via a WINDOW over the star root instead of a
    // groupBy + self-join (r7, guide §2.4): the aggregate+join spelling
    // paid an exchange for the aggregate AND an exchange for the join
    // probe side; min-over-partition computes the same value in the one
    // exchange that clusters the star, and the following distinct reuses
    // that clustering (HashPartitioning(u) satisfies the (u, v) dedup's
    // distribution), so a round costs 2 exchanges instead of 6. Same
    // math, same rows — OpsSpec and OptimizationEquivalenceSpec pin it.
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val e = converged("connectedComponents", maxIter)(fixpoint(seed, maxIter) { (e, _) =>
      // large-star: for each u, m = min(N(u) + {u}); emit (v, m) for v > u
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val ls = nbrs
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m: stays large->small
        .distinct()
      // small-star: edges already point large->small, so for each u,
      // m = min of its smaller neighbors; re-hang them (and u) onto m
      ls.withColumn("m", min(col("v")).over(wU))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    })
    // the fixpoint is a star forest (child -> component root); roots and
    // isolated / self-loop-only nodes label themselves
    nodes.join(
        e.groupBy(col("u").as("node_id")).agg(min(col("v")).as("root")),
        Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("root"), col("node_id")).as("component"))
  }

  /**
   * The one loop behind the iterative operators: state 0 is `init`, and
   * round r = 1..maxIter computes state r = step(state r-1, r). It stops
   * at the first state whose (count, bit_xor(xxhash64(all columns)))
   * fingerprint equals the previous state's, or that is empty, and
   * returns the last state with whether it stopped before the bound.
   *
   * Each state goes through [[graft.Share]], which cuts the lineage; the
   * round's one fingerprint action is the state's first action, so it
   * also stores the shared blocks. A round costs its step's shuffle-map
   * stages plus one action.
   *
   * Sound only under two preconditions, which every step here keeps:
   *  - a state's rows are distinct, so xor cancellation cannot hide a
   *    change;
   *  - a step maps an empty state to an empty state, so an empty state
   *    is a fixpoint.
   */
  private def fixpoint(init: DataFrame, maxIter: Int)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(d.columns.toSeq.map(col): _*)))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var state = Share(init)
    var fp = fingerprint(state)
    var round = 0
    var done = fp._1 == 0L
    while (!done && round < maxIter) {
      round += 1
      state = Share(step(state, round))
      val next = fingerprint(state)
      done = next == fp || next._1 == 0L
      fp = next
    }
    (state, done)
  }

  /** A fixpoint's final state, or an error naming the operator and bound. */
  private def converged(op: String, maxIter: Int)(r: (DataFrame, Boolean)): DataFrame = {
    require(r._2, s"$op: no fixpoint within maxIter = $maxIter rounds")
    r._1
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftPlanBridge.rebase
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, RoundState}
import graft.functions.Fns

/** Link-graph analytics over crawl-scale edge lists — the rank side of a
  * web-corpus pipeline (page importance feeds crawl scheduling and
  * training-data quality weights).
  */
object GraphOps {

  /** Initial rank mass per node, in micro-units (fixed point). */
  val RankScale: Long = 1000000L
  /** Damping factor as an exact integer percentage (85 / 100 = 0.85). */
  val DampingPct: Long = 85L

  /** PageRank with FIXED-POINT integer arithmetic: every node starts at
    * [[RankScale]] micro-units; each iteration a node keeps
    * `(1-d)·RankScale + d·Σ contrib` where an out-degree-`g` node
    * contributes `rank / g` (floor division) along each out-edge and
    * d = [[DampingPct]]/100 (dangling mass is dropped — the documented
    * variant; re-injecting it needs a global agg per round for no ranking
    * benefit at this use). All arithmetic is int64, so the result is
    * bit-identical in any engine — float PageRank can NOT be
    * oracle-compared because distributed sum order is nondeterministic.
    *
    * Scale posture: per iteration exactly one shuffle join of the edge
    * list with the rank frame on `src` plus one aggregation shuffle on
    * `dst` — the canonical distributed PageRank shape. The degree-joined
    * edge list is computed once and persisted; the rank frame steps
    * through a [[graft.core.RoundState]], so the analyzer never walks a
    * depth-`iterations` join chain (the pointer-jumping lesson from
    * [[DedupOps.duplicateClusters]]). Overflow headroom: total mass
    * is n·RankScale ≤ 2^63 for n up to ~9·10^12 nodes; the damping
    * product multiplies a per-node in-sum by 85, ANSI mode fails loudly
    * (not silently wraps) if a single node ever concentrates > 2^63/85
    * micro-units.
    *
    * Input: (src, dst) long edge ids (parallel edges collapse — the rank
    * contract is over the simple graph). Output: (node_id, rank_e6).
    */
  def pageRank(edges: DataFrame, iterations: Int,
               scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (simple.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      prLocal(simple, None, iterations, edges.schema("src").dataType)
    else pageRankLoop(simple, iterations, scope)
  }

  /** The distributed power-iteration loop of [[pageRank]]
    * (spec-reachable; `simple` must be the distinct (src, dst) list).
    */
  private[graft] def pageRankLoop(simple: DataFrame, iterations: Int,
      scope: CacheScope): DataFrame = {
    val nodes = scope.persist(
      simple.select(col("src").as("node_id"))
        .unionByName(simple.select(col("dst").as("node_id"))).distinct())
    val deg = simple.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // degree-annotated edges: the loop's only join input, persisted once
    val e = scope.persist(simple.join(deg, "src"))

    val ranks = RoundState(nodes.withColumn("rank", lit(RankScale)))
    val base = (100L - DampingPct) * (RankScale / 100L)
    for (_ <- 1 to iterations) {
      // `div` = IntegralDivide: exact long division at full int64 range
      // (Column./ on longs routes through doubles, inexact past 2^53)
      val contrib = e.join(ranks.current, col("src") === col("node_id"))
        .groupBy(col("dst"))
        .agg(sum(expr("rank div outdeg")).cast("long").as("in_sum"))
      ranks.step(nodes.join(contrib, col("node_id") === col("dst"), "left")
        .select(col("node_id"), coalesce(col("in_sum"), lit(0L)).as("in_sum"))
        .selectExpr("node_id",
          s"$base + ($DampingPct * in_sum) div 100 AS rank"))
    }
    ranks.survivor(scope).select(col("node_id"), col("rank").as("rank_e6"))
  }

  /** PERSONALIZED PageRank: the restart mass teleports to a SEED set
    * instead of uniformly — rank_0 = S on seeds and 0 elsewhere, each
    * round a node keeps `(seed ? (1−d)·S : 0) + d·Σ_in ⌊rank/outdeg⌋`.
    * This is the topic-/site-conditioned relevance primitive (crawl
    * frontier prioritization from trusted seeds, related-page discovery):
    * mass diffuses outward from the seeds along links and decays with
    * the damping factor per hop.
    *
    * Same exact-int64 arithmetic and scale posture as [[pageRank]]: one
    * degree-annotated-edge join + one agg shuffle per iteration, the
    * seed flag rides the persisted node frame, rounds step through a
    * [[graft.core.RoundState]]. Seeds outside the edge set are ignored
    * (they have no links to diffuse over). Input: edges(src, dst),
    * seeds(node_id). Output: (node_id, rank_e6) over all linked nodes —
    * nodes unreachable from any seed report 0.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int,
                           scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (simple.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          seeds.schema("node_id").dataType))
      prLocal(simple, Some(seeds), iterations, edges.schema("src").dataType)
    else personalizedPageRankLoop(simple, seeds, iterations, scope)
  }

  /** The distributed loop of [[personalizedPageRank]] (spec-reachable). */
  private[graft] def personalizedPageRankLoop(simple: DataFrame,
      seeds: DataFrame, iterations: Int, scope: CacheScope): DataFrame = {
    val nodes = scope.persist(
      simple.select(col("src").as("node_id"))
        .unionByName(simple.select(col("dst").as("node_id"))).distinct()
        .join(seeds.select(col("node_id"), lit(1L).as("__s")).distinct(),
          Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("__s"), lit(0L)).as("seed")))
    val deg = simple.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = scope.persist(simple.join(deg, "src"))
    val ranks = RoundState(
      nodes.select(col("node_id"), (col("seed") * RankScale).as("rank")))
    val base = (100L - DampingPct) * (RankScale / 100L)
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks.current, col("src") === col("node_id"))
        .groupBy(col("dst"))
        .agg(sum(expr("rank div outdeg")).cast("long").as("in_sum"))
      ranks.step(nodes.join(contrib, col("node_id") === col("dst"), "left")
        .select(col("node_id"), col("seed"),
          coalesce(col("in_sum"), lit(0L)).as("in_sum"))
        .selectExpr("node_id",
          s"seed * $base + ($DampingPct * in_sum) div 100 AS rank"))
    }
    ranks.survivor(scope).select(col("node_id"), col("rank").as("rank_e6"))
  }

  /** WEIGHTED PageRank, same fixed-point integer contract as
    * [[pageRank]]: a node keeps (1−d)·S + d·Σ_in ⌊rank_src·w / sw_src⌋
    * where sw_src is the source's total out-weight — the walk follows an
    * edge with probability proportional to its weight (anchor counts,
    * co-occurrence counts), which is the actual TextRank/weighted-graph
    * formulation. All arithmetic int64 (bit-identical in any engine);
    * overflow headroom: rank·w must stay < 2⁶³ — fine for count-scale
    * weights, and ANSI mode fails loudly, not wraps.
    *
    * Scale posture identical to [[pageRank]] (one join + one agg shuffle
    * per iteration, persisted weighted-degree frame, rounds stepped
    * through a [[graft.core.RoundState]]). Input: (src, dst, w) with
    * w ≥ 1, one row per directed edge. Output: (node_id, rank_e6).
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst"), col("w")))
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      pageRankWeightedLocal(e, iterations, edges.schema("src").dataType)
    else pageRankWeightedLoop(e, iterations, scope)
  }

  /** The distributed loop of [[pageRankWeighted]] (spec-reachable). */
  private[graft] def pageRankWeightedLoop(e: DataFrame, iterations: Int,
      scope: CacheScope): DataFrame = {
    val sw = e.groupBy("src").agg(sum(col("w")).as("sw"))
    val ew = scope.persist(e.join(sw, "src"))
    // persisted (scope-released): re-joined every round for dangling nodes
    val nodes = scope.persist(ew.select(col("src").as("node_id"))
      .unionByName(ew.select(col("dst").as("node_id"))).distinct())
    val ranks = RoundState(nodes.withColumn("rank", lit(RankScale)))
    val base = (100L - DampingPct) * (RankScale / 100L)
    for (_ <- 1 to iterations) {
      val inSum = ew
        .join(ranks.current.withColumnRenamed("node_id", "src"), "src")
        .select(col("dst").as("node_id"),
          expr("(rank * w) div sw").as("c"))
        .groupBy("node_id").agg(sum(col("c")).as("in_sum"))
      ranks.step(nodes.join(inSum, Seq("node_id"), "left")
        .select(col("node_id"),
          (lit(base) + expr(
            s"($DampingPct * coalesce(in_sum, 0L)) div 100")).as("rank")))
    }
    ranks.survivor(scope).select(col("node_id"), col("rank").as("rank_e6"))
  }

  /** Weighted multi-source shortest paths, distributed Bellman-Ford:
    * after round k every node holds the minimum total weight over
    * directed paths of ≤ k edges from the source set; rounds stop early
    * once a round improves nothing, at which point the distances are the
    * true shortest paths (non-negative integer weights). The crawl-cost
    * twin of [[hopDistance]] — hops answer "how far", weights answer
    * "how expensive" (latency, politeness budget, link quality).
    *
    * Scale posture: per round one shuffle join of the persisted edge list
    * with the IMPROVED-last-round frontier (not the whole state) plus one
    * min-aggregation — the delta-stepping-style frontier keeps late
    * rounds cheap as convergence localizes. The state row is
    * (node_id, dist, r) where r is the round that last improved the
    * node: `min(struct(dist, r))` merges candidates exactly (ties keep
    * the EARLIER round, so an equal re-derivation never re-activates a
    * node), and `r == round` recovers the next frontier without a
    * second materialization. Rounds step through a
    * [[graft.core.RoundState]] like [[pageRank]]'s.
    *
    * Input: edges (src, dst, w) with w a non-negative long; sources
    * (node_id). Output: (node_id, dist); unreached nodes are absent.
    *
    * Strategy selection: a deduplicated integral-id edge list at or
    * under [[LocalSweepEdges]] runs every relaxation round inside ONE
    * task over an in-memory adjacency map ([[weightedDistanceLocal]] —
    * sources ride a tagged union, never a driver collect); larger
    * graphs take the distributed loop verbatim. Parity spec'd.
    */
  def weightedDistance(edges: DataFrame, sources: DataFrame, maxRounds: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(
      edges.select(col("src"), col("dst"), col("w")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          edges.schema("w").dataType, sources.schema("node_id").dataType))
      weightedDistanceLocal(e, sources, maxRounds)
    else weightedDistanceLoop(e, sources, maxRounds, scope)
  }

  /** The distributed Bellman-Ford loop of [[weightedDistance]]
    * (spec-reachable directly). `e` must be the deduplicated
    * (src, dst, w) edge list.
    */
  private[graft] def weightedDistanceLoop(e: DataFrame, sources: DataFrame,
      maxRounds: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val state = RoundState(sources.select(col("node_id")).distinct()
      .withColumn("dist", lit(0L)).withColumn("r", lit(0)))
    var frontier = state.current
    var round = 0
    var drained = false
    while (round < maxRounds && !drained) {
      round += 1
      val cand = e.join(frontier, col("src") === col("node_id"))
        .select(col("dst").as("node_id"), (col("dist") + col("w")).as("dist"),
          lit(round).as("r"))
      state.step(state.current.unionByName(cand)
        .groupBy("node_id").agg(min(struct(col("dist"), col("r"))).as("m"))
        .select(col("node_id"), col("m.dist").as("dist"), col("m.r").as("r")))
      frontier = state.current.filter(col("r") === round)
      drained = frontier.count() == 0
    }
    state.survivor(scope).select(col("node_id"), col("dist"))
  }

  /** Single-shard twin of [[weightedDistance]] under the
    * [[LocalSweepEdges]] budget: the same synchronous relaxation
    * schedule (candidates drawn only from the round's improved
    * frontier, strict-improvement activation so an equal re-derivation
    * never re-activates a node — the loop's min(struct(dist, r))
    * tie rule) runs all rounds in one task. Bit-identical by
    * construction; parity spec'd against the distributed loop.
    */
  private[graft] def weightedDistanceLocal(e: DataFrame, sources: DataFrame,
                                           maxRounds: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = sources.schema("node_id").dataType
    val tagged = e
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"), lit(1).as("t"))
      .unionByName(sources.select(col("node_id").cast("long").as("src"))
        .distinct()
        .select(col("src"), lit(0L).as("dst"), lit(0L).as("w"), lit(0).as("t")))
    tagged.as[(Long, Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val adj = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
      val seeds = new java.util.LinkedHashSet[Long]()
      it.foreach { case (s, d, w, t) =>
        if (t == 1) adj.computeIfAbsent(s,
          _ => new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) +=
            ((d, w))
        else seeds.add(s)
      }
      val dist = new java.util.HashMap[Long, Long]()
      var frontier = new scala.collection.mutable.ArrayBuffer[Long]()
      val si = seeds.iterator()
      while (si.hasNext) { val n = si.next(); dist.put(n, 0L); frontier += n }
      var round = 0
      while (round < maxRounds && frontier.nonEmpty) {
        round += 1
        // min candidate per destination from the frontier's round-start
        // distances (the synchronous half of the loop's union + min agg)
        val cand = new java.util.HashMap[Long, Long]()
        frontier.foreach { n =>
          val dn = dist.get(n)
          val ns = adj.get(n)
          if (ns != null) ns.foreach { case (m, w) =>
            cand.merge(m, dn + w, (a, b) => math.min(a, b))
          }
        }
        val next = new scala.collection.mutable.ArrayBuffer[Long]()
        val ci = cand.entrySet().iterator()
        while (ci.hasNext) {
          val kv = ci.next()
          val k2 = kv.getKey
          if (!dist.containsKey(k2) || kv.getValue < dist.get(k2)) {
            dist.put(k2, kv.getValue); next += k2
          }
        }
        frontier = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](dist.size)
      val ks = dist.entrySet().iterator()
      while (ks.hasNext) { val kv = ks.next(); out += ((kv.getKey, kv.getValue)) }
      out.iterator
    }.toDF("node_id", "dist")
      .select(col("node_id").cast(idType).as("node_id"), col("dist"))
  }

  /** Per-node triangle participation counts over the undirected simple
    * graph — the local clustering signal of a link graph (spam farms and
    * boilerplate navigation rings are triangle-dense; genuine editorial
    * link neighborhoods are sparse). Direction is ignored: edges are
    * canonicalized to (a = min, b = max), self-loops and parallel edges
    * collapse.
    *
    * Scale posture: the classic degree-ordered orientation. Every edge is
    * oriented from its lower-(degree, id) endpoint to the higher, which
    * makes each triangle countable exactly once at its minimum-ranked
    * vertex and bounds every oriented out-degree by O(√m) — so the wedge
    * self-join (the only superlinear step) emits Σ C(outdeg⁺, 2) ≤ O(m^1.5)
    * rows worst-case instead of Σ C(deg, 2), which a power-law hub would
    * otherwise drive quadratic. Three shuffles total: degree agg, wedge
    * self-join on the pivot, closure join on the wedge endpoints; the
    * oriented edge frame is computed once and persisted across its three
    * uses. No per-node adjacency materialization, no driver state.
    *
    * Output: (node_id, n_tri) — nodes in no triangle are absent.
    */
  def triangleCounts(edges: DataFrame,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    orientedTriangles(ec, scope)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
  }

  /** Each triangle of a canonical (a < b, distinct) edge set, exactly
    * once, as (u, v1, v2): vertices in DEGREE-rank order. The standard
    * orientation trick — wedges form only at each triangle's
    * minimum-rank vertex, so a 10^6-degree hub explodes O(deg^{3/2})
    * wedges instead of O(deg²).
    */
  private def orientedTriangles(ec: DataFrame,
                                scope: CacheScope): DataFrame = {
    val deg = ec.select(col("a").as("v"))
      .unionByName(ec.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = ec
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // orient low-(deg, id) -> high-(deg, id); carry the head's rank so
    // wedge endpoints can be ordered without re-joining degrees
    val oriented = scope.persist(withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv")))
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    // wedges at the minimum-ranked vertex, endpoints in rank order —
    // the closing edge (if any) is oriented exactly v1 -> v2
    o1.join(o2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
  }

  /** Per canonical edge, the number of triangles through it, from
    * [[orientedTriangles]] — (a, b, sup); triangle-free edges absent.
    */
  private def edgeSupport(ec: DataFrame, scope: CacheScope): DataFrame =
    orientedTriangles(ec, scope)
      .select(explode(array(
        struct(least(col("u"), col("v1")).as("a"),
          greatest(col("u"), col("v1")).as("b")),
        struct(least(col("u"), col("v2")).as("a"),
          greatest(col("u"), col("v2")).as("b")),
        struct(least(col("v1"), col("v2")).as("a"),
          greatest(col("v1"), col("v2")).as("b")))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("sup"))

  /** K-TRUSS peeling (k ≥ 3): iteratively delete every edge supported by
    * fewer than k−2 triangles until none is — the cohesive-subgraph
    * backbone (denser than connected components, cheaper than cliques;
    * the spam-farm / link-ring detector of a web graph). Exactly
    * `rounds` peel rounds, matching the unrolled oracle — removal is
    * monotone, so once the set is stable every further round is a no-op
    * on both engines and the loop exits early on convergence.
    *
    * Scale posture: per round ONE oriented-wedge triangle enumeration
    * (O(m^{3/2}) work, hub-safe via [[orientedTriangles]]) feeding a
    * per-edge support count and a semi-join filter; the edge set only
    * shrinks, so rounds get cheaper; rounds step through a
    * [[graft.core.RoundState]], whose count detects the fixpoint.
    * Output: surviving edges (a, b, sup) with support RECOMPUTED inside
    * the surviving set.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 3, "k-truss peeling joins away support-0 edges; k >= 3")
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cec = scope.persist(ec)
    if (cec.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      kTrussLocal(cec, k, rounds)
    else kTrussLoop(cec, k, rounds, scope)
  }

  /** The distributed peel loop of [[kTruss]] (spec-reachable directly).
    * `ec0` must be the canonical (a < b, distinct) edge list.
    */
  private[graft] def kTrussLoop(ec0: DataFrame, k: Int, rounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val edges = RoundState(ec0)
    var n = edges.current.count()
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      r += 1
      val e = edges.current
      val kn = edges.step(e.join(
        edgeSupport(e, scope).filter(col("sup") >= k - 2),
        Seq("a", "b"), "left_semi"))
      stable = kn == n
      n = kn
    }
    val e = edges.survivor(scope)
    e.join(edgeSupport(e, scope), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup"))
  }

  /** Single-shard twin of [[kTruss]] under the [[LocalSweepEdges]]
    * budget: the same synchronous peel schedule (per-round support =
    * |N(a) ∩ N(b)| within the surviving set, remove sup < k−2, stop on
    * stability or the round cap, output survivors with support
    * RECOMPUTED) over in-memory adjacency sets in one task. Support is
    * algorithm-independent (triangles through an edge), so rows match
    * the oriented-wedge loop bit-for-bit; parity spec'd.
    */
  private[graft] def kTrussLocal(ec: DataFrame, k: Int,
                                 rounds: Int): DataFrame = {
    val sess = ec.sparkSession
    import sess.implicits._
    val idType = ec.schema("a").dataType
    ec.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        var es = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        it.foreach(es += _)
        def adjacency(edges: Iterable[(Long, Long)]) = {
          val adj = new java.util.HashMap[Long, java.util.HashSet[Long]]()
          edges.foreach { case (a, b) =>
            adj.computeIfAbsent(a, _ => new java.util.HashSet[Long]()).add(b)
            adj.computeIfAbsent(b, _ => new java.util.HashSet[Long]()).add(a)
          }
          adj
        }
        def support(adj: java.util.HashMap[Long, java.util.HashSet[Long]],
                    a: Long, b: Long): Long = {
          val na = adj.get(a); val nb = adj.get(b)
          if (na == null || nb == null) 0L
          else {
            val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
            var c = 0L
            val i = small.iterator()
            while (i.hasNext) if (big.contains(i.next())) c += 1
            c
          }
        }
        var r = 0
        var stable = false
        while (r < rounds && !stable) {
          r += 1
          val adj = adjacency(es)
          val keep = es.filter { case (a, b) => support(adj, a, b) >= k - 2 }
          stable = keep.length == es.length
          es = keep
        }
        val adj = adjacency(es)
        es.iterator.map { case (a, b) => (a, b, support(adj, a, b)) }
      }.toDF("a", "b", "sup")
      .select(col("a").cast(idType).as("a"), col("b").cast(idType).as("b"),
        col("sup"))
  }

  /** Synchronous label-propagation community detection, FIXED rounds:
    * every node starts labeled with its own id; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label — a fully deterministic schedule (async LPA's
    * visit-order nondeterminism would make the result un-oracle-able),
    * so after exactly `rounds` rounds the labeling is bit-identical in
    * any engine. Communities ≠ connected components
    * ([[connectedComponents]] merges everything reachable; LPA splits a
    * component along its dense cores — the content-farm / link-ring
    * detector of a crawl graph).
    *
    * Scale posture: per round ONE shuffle join of the persisted doubled
    * adjacency with the label frame plus one two-level aggregation
    * ((node, label) counts, then argmax via max(struct(cnt, −label)) —
    * both map-side combinable); rounds step through a
    * [[graft.core.RoundState]]. Fixed `rounds` is the documented contract
    * (convergence detection would add a per-round comparison job for no
    * semantic gain — oscillating bipartite cliques never converge).
    *
    * Input: (src, dst) long ids. Output: (node_id, community); isolated
    * ids absent (no edges → no votes).
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = scope.persist(ec.select(col("a").as("u"), col("b").as("v"))
      .unionByName(ec.select(col("b").as("u"), col("a").as("v"))))
    if (adj.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      labelPropagationLocal(adj, rounds)
    else labelPropagationLoop(adj, rounds, scope)
  }

  /** The distributed vote loop of [[labelPropagation]] (spec-reachable
    * directly). `adj` must be the doubled (u, v) adjacency list.
    */
  private[graft] def labelPropagationLoop(adj: DataFrame, rounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val labels = RoundState(adj.select(col("u").as("node_id"))
      .distinct().withColumn("lab", col("node_id")))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.current.withColumnRenamed("node_id", "v"), "v")
        .groupBy(col("u").as("node_id"), col("lab"))
        .agg(count(lit(1)).as("c"))
      labels.step(votes
        .groupBy("node_id")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node_id"), (-col("m.nl")).as("lab")))
    }
    labels.survivor(scope)
      .select(col("node_id"), col("lab").as("community"))
  }

  /** Single-shard twin of [[labelPropagation]] under the
    * [[LocalSweepEdges]] budget: the same synchronous schedule (every
    * node adopts its neighbors' most frequent label, ties to the
    * SMALLEST label, exactly `rounds` rounds) over an in-memory doubled
    * adjacency in one task. Deterministic by the same tie rule, so rows
    * match the vote loop bit-for-bit; parity spec'd.
    */
  private[graft] def labelPropagationLocal(adj: DataFrame,
                                           rounds: Int): DataFrame = {
    val sess = adj.sparkSession
    import sess.implicits._
    val idType = adj.schema("u").dataType
    adj.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val nbrs = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { case (u, v) =>
          nbrs.computeIfAbsent(u,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += v
        }
        var labels = new java.util.HashMap[Long, Long]()
        val ni = nbrs.keySet().iterator()
        while (ni.hasNext) { val n = ni.next(); labels.put(n, n) }
        var r = 0
        while (r < rounds) {
          r += 1
          val next = new java.util.HashMap[Long, Long](labels.size)
          val ui = nbrs.entrySet().iterator()
          while (ui.hasNext) {
            val kv = ui.next()
            val votes = new java.util.HashMap[Long, Long]()
            kv.getValue.foreach { v =>
              votes.merge(labels.get(v), 1L, (a, b) => a + b)
            }
            var bestLab = Long.MaxValue
            var bestCnt = -1L
            val vi = votes.entrySet().iterator()
            while (vi.hasNext) {
              val e = vi.next()
              if (e.getValue > bestCnt ||
                  (e.getValue == bestCnt && e.getKey < bestLab)) {
                bestCnt = e.getValue; bestLab = e.getKey
              }
            }
            next.put(kv.getKey, bestLab)
          }
          labels = next
        }
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Long)](labels.size)
        val li = labels.entrySet().iterator()
        while (li.hasNext) { val kv = li.next(); out += ((kv.getKey, kv.getValue)) }
        out.iterator
      }.toDF("node_id", "community")
      .select(col("node_id").cast(idType).as("node_id"), col("community").cast(idType).as("community"))
  }

  /** Local clustering coefficient per node, exact integer permille:
    * coeff_pm = 2000·n_tri div (deg·(deg−1)) over the simple undirected
    * graph — how tightly a page's link neighborhood closes on itself
    * (spam farms score near 1000, organic hubs near 0). Composes
    * [[triangleCounts]] (its documented oriented-wedge scale posture)
    * with one degree aggregation and a left join; nodes of degree < 2
    * are dropped (the coefficient is undefined there). All arithmetic
    * int64: deg ≤ 3·10⁹ before deg·(deg−1) overflows, far beyond any
    * real node's degree — and ANSI mode fails loudly, not wraps.
    *
    * Output: (node_id, deg, n_tri, coeff_pm).
    */
  def clusteringCoefficients(edges: DataFrame,
                             scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = ec.select(col("a").as("node_id"))
      .unionByName(ec.select(col("b").as("node_id")))
      .groupBy("node_id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    deg.join(triangleCounts(edges, scope), Seq("node_id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .selectExpr("node_id", "deg", "n_tri",
        "(2000 * n_tri) div (deg * (deg - 1)) AS coeff_pm")
  }

  /** Per-pivot wedge-fanout cap for [[linkPrediction]]: pivots with more
    * neighbors than this are dropped from the metric (the documented
    * contract — the oracle applies the same cap). Hubs carry almost no
    * link-prediction signal (their Adamic–Adar weight 1/ln(deg) vanishes)
    * AND are the quadratic hazard: a pivot of degree d emits d(d-1)/2
    * candidate pairs, so one celebrity page would otherwise dominate the
    * whole job.
    */
  val LinkPredHubCap = 64

  /** Link-prediction scores over an undirected simple graph: for every
    * non-adjacent node pair sharing ≥ `minCn` common neighbors (through
    * non-hub pivots), the common-neighbor count and the Adamic–Adar
    * score Σ_pivot 1/ln(deg(pivot)) — the classic "people you may know" /
    * related-pages primitive of a crawl graph.
    *
    * Determinism: the AA term is quantized per PIVOT before the sum —
    * `10^12 div lnE6(deg)` with [[graft.core.Hll.lnE6]]'s fixed-IEEE-op
    * ln — so the aggregate is an integer sum (associative, shuffle-order-
    * proof) and bit-identical in any engine; a float Σ 1/ln(d) could not
    * be oracle-compared.
    *
    * Scale posture: wedges are generated at the PIVOT (one self-join of
    * the degree-filtered adjacency list on the pivot id), so candidate
    * volume is Σ_pivot min(deg, cap)² — linear in edge count at fixed
    * cap, never all-pairs. Three shuffles: degree agg, wedge self-join,
    * pair agg; plus the left-anti against existing edges (prediction
    * means NEW pairs only). The capped neighbor frame is persisted across
    * its two join uses and scope-released.
    *
    * Input: (src, dst) long ids (direction and parallel edges collapse).
    * Output: (node_a, node_b, cn, aa_e6) with node_a < node_b.
    */
  def linkPrediction(edges: DataFrame, minCn: Long = 2L,
                     hubCap: Int = LinkPredHubCap,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val ec = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = ec.select(col("a").as("u"), col("b").as("v"))
      .unionByName(ec.select(col("b").as("u"), col("a").as("v")))
    // pivot contribution: 1e6/ln(deg) as exact integer floor division of
    // 1e12 by the e6-quantized deterministic ln (deg ≥ 2 ⇒ lnE6 ≥ 693147)
    val piv = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= hubCap)
      .withColumn("__ln", graft.plans.HllExpressions.lnE6(col("deg").cast("double")))
      .selectExpr("u", s"${1000000000000L}L div __ln AS c")
    val nbr = scope.persist(adj.join(piv, "u"))
    val cand = nbr.select(col("u"), col("v").as("node_a"), col("c"))
      .join(nbr.select(col("u"), col("v").as("node_b")), "u")
      .filter(col("node_a") < col("node_b"))
    cand.groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("cn"), sum(col("c")).as("aa_e6"))
      .filter(col("cn") >= minCn)
      .join(ec.withColumnRenamed("a", "node_a").withColumnRenamed("b", "node_b"),
        Seq("node_a", "node_b"), "left_anti")
  }

  /** Multi-source BFS hop distance: for every node reachable from the
    * source set within `maxHops` directed hops, the minimum hop count —
    * crawl-frontier / link-neighborhood analytics (how far is every page
    * from the seed list). Classic frontier propagation: each round is ONE
    * shuffle join of the (persisted, deduplicated) edge list with the
    * current frontier plus an anti-join against the visited set — no
    * all-pairs reachability, no per-node path enumeration; rounds stop
    * early when the frontier drains. The visited frame steps through a
    * [[graft.core.RoundState]], so the analyzer never walks a
    * depth-`maxHops` union chain; its count detects the drained frontier.
    *
    * Input: edges (src, dst), sources (node_id). Output: (node_id, hops)
    * with hops ∈ [0, maxHops]; unreached nodes are absent.
    *
    * Strategy selection: a deduplicated edge list at or under
    * [[LocalSweepEdges]] runs the whole BFS inside ONE task over an
    * in-memory adjacency map ([[hopDistanceLocal]] — memory bounded by
    * the edge budget, sources shipped executor-side via a tagged union,
    * never collected to the driver) instead of paying one blocking
    * frontier round per hop; larger graphs take the distributed loop
    * unchanged. Same small/large split as the kNN family; parity spec'd.
    */
  def hopDistance(edges: DataFrame, sources: DataFrame, maxHops: Int,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          sources.schema("node_id").dataType))
      hopDistanceLocal(e, sources, maxHops)
    else hopDistanceLoop(e, sources, maxHops, scope)
  }

  /** The distributed frontier loop of [[hopDistance]] (spec-reachable
    * directly — the dispatch's size switch would otherwise hide it at
    * test scale). `e` must be the deduplicated (src, dst) edge list.
    */
  private[graft] def hopDistanceLoop(e: DataFrame, sources: DataFrame,
      maxHops: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val visited = RoundState(sources.select(col("node_id")).distinct()
      .withColumn("hops", lit(0L)))
    var prevTotal = visited.current.count()
    var frontier = visited.current
    var h = 0L
    var drained = false
    while (h < maxHops && !drained) {
      h += 1
      val next = e.join(frontier.select(col("node_id")),
          col("src") === col("node_id"))
        .select(col("dst").as("node_id")).distinct()
        .join(visited.current.select(col("node_id")), Seq("node_id"), "left_anti")
        .withColumn("hops", lit(h))
      val total = visited.step(visited.current.unionByName(next))
      drained = total == prevTotal
      prevTotal = total
      frontier = visited.current.filter(col("hops") === h)
    }
    visited.survivor(scope)
  }

  /** Single-shard twin of the [[pageRank]] / [[personalizedPageRank]]
    * power iteration for graphs under the [[LocalSweepEdges]] budget:
    * the identical exact-int64 update (base + ⌊d·Σ⌊rank/outdeg⌋/100⌋,
    * every operand non-negative so Java `/` = Spark `div`) runs all
    * iterations inside ONE task — one job instead of two shuffles per
    * round. Seeds (PPR) ride the tagged union; bit-identical by
    * construction, parity spec'd against the distributed loop.
    */
  private def prLocal(simple: DataFrame, seeds: Option[DataFrame],
                      iterations: Int,
                      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val sess = simple.sparkSession
    import sess.implicits._
    val tagged = simple
      .select(col("src").cast("long"), col("dst").cast("long"), lit(1).as("t"))
      .unionByName(seeds.map(_.select(col("node_id").cast("long").as("src"))
          .distinct().select(col("src"), lit(0L).as("dst"), lit(0).as("t")))
        .getOrElse(sess.emptyDataset[(Long, Long, Int)].toDF("src", "dst", "t")))
    val personalized = seeds.isDefined
    tagged.as[(Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val es = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val seedSet = new java.util.HashSet[Long]()
      val outdeg = new java.util.HashMap[Long, Long]()
      val nodes = new java.util.LinkedHashSet[Long]()
      it.foreach { case (s, d, t) =>
        if (t == 1) {
          es += ((s, d)); nodes.add(s); nodes.add(d)
          outdeg.merge(s, 1L, (a, b) => a + b)
        } else seedSet.add(s)
      }
      val base = (100L - DampingPct) * (RankScale / 100L)
      val rank = new java.util.HashMap[Long, Long]()
      val ni = nodes.iterator()
      while (ni.hasNext) {
        val n = ni.next()
        rank.put(n,
          if (!personalized) RankScale
          else if (seedSet.contains(n)) RankScale else 0L)
      }
      var round = 0
      while (round < iterations) {
        round += 1
        val inSum = new java.util.HashMap[Long, Long]()
        es.foreach { case (s, d) =>
          inSum.merge(d, rank.get(s) / outdeg.get(s), (a, b) => a + b)
        }
        val n2 = nodes.iterator()
        while (n2.hasNext) {
          val n = n2.next()
          val b = if (!personalized) base
            else if (seedSet.contains(n)) base else 0L
          rank.put(n, b + DampingPct * inSum.getOrDefault(n, 0L) / 100L)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](rank.size)
      val ri = rank.entrySet().iterator()
      while (ri.hasNext) { val kv = ri.next(); out += ((kv.getKey, kv.getValue)) }
      out.iterator
    }.toDF("node_id", "rank_e6")
      .select(col("node_id").cast(idType).as("node_id"), col("rank_e6"))
  }

  /** Single-shard twin of [[pageRankWeighted]] (⌊rank·w/sw⌋ contribs,
    * same exact-int64 contract) under the [[LocalSweepEdges]] budget.
    */
  private def pageRankWeightedLocal(e: DataFrame, iterations: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    e.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
        val es = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        val sw = new java.util.HashMap[Long, Long]()
        val nodes = new java.util.LinkedHashSet[Long]()
        it.foreach { case (s, d, w) =>
          es += ((s, d, w)); nodes.add(s); nodes.add(d)
          sw.merge(s, w, (a, b) => a + b)
        }
        val base = (100L - DampingPct) * (RankScale / 100L)
        val rank = new java.util.HashMap[Long, Long]()
        val ni = nodes.iterator()
        while (ni.hasNext) rank.put(ni.next(), RankScale)
        var round = 0
        while (round < iterations) {
          round += 1
          val inSum = new java.util.HashMap[Long, Long]()
          es.foreach { case (s, d, w) =>
            inSum.merge(d, rank.get(s) * w / sw.get(s), (a, b) => a + b)
          }
          val n2 = nodes.iterator()
          while (n2.hasNext) {
            val n = n2.next()
            rank.put(n, base + DampingPct * inSum.getOrDefault(n, 0L) / 100L)
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](rank.size)
        val ri = rank.entrySet().iterator()
        while (ri.hasNext) { val kv = ri.next(); out += ((kv.getKey, kv.getValue)) }
        out.iterator
      }.toDF("node_id", "rank_e6")
      .select(col("node_id").cast(idType).as("node_id"), col("rank_e6"))
  }

  /** Single-shard twin of [[hits]] (integer max-renormalized hub/auth
    * half-steps, qa/qh = max raw ÷ RankScale floor-divided — identical
    * scalars to the loop's two global maxes) under the budget.
    */
  private def hitsLocal(simple: DataFrame, iterations: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val sess = simple.sparkSession
    import sess.implicits._
    simple.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val es = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val nodes = new java.util.LinkedHashSet[Long]()
        it.foreach { case (s, d) => es += ((s, d)); nodes.add(s); nodes.add(d) }
        val h = new java.util.HashMap[Long, Long]()
        val a = new java.util.HashMap[Long, Long]()
        val ni = nodes.iterator()
        while (ni.hasNext) { val n = ni.next(); h.put(n, RankScale); a.put(n, RankScale) }
        var round = 0
        while (round < iterations) {
          round += 1
          val araw = new java.util.HashMap[Long, Long]()
          es.foreach { case (s, d) => araw.merge(d, h.get(s), (x, y) => x + y) }
          var maxA = 0L
          val i1 = nodes.iterator()
          while (i1.hasNext) {
            val v = araw.getOrDefault(i1.next(), 0L); if (v > maxA) maxA = v
          }
          val qa = math.max(maxA / RankScale, 1L)
          val i2 = nodes.iterator()
          while (i2.hasNext) {
            val n = i2.next(); a.put(n, araw.getOrDefault(n, 0L) / qa)
          }
          val hraw = new java.util.HashMap[Long, Long]()
          es.foreach { case (s, d) => hraw.merge(s, a.get(d), (x, y) => x + y) }
          var maxH = 0L
          val i3 = nodes.iterator()
          while (i3.hasNext) {
            val v = hraw.getOrDefault(i3.next(), 0L); if (v > maxH) maxH = v
          }
          val qh = math.max(maxH / RankScale, 1L)
          val i4 = nodes.iterator()
          while (i4.hasNext) {
            val n = i4.next(); h.put(n, hraw.getOrDefault(n, 0L) / qh)
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long)](nodes.size)
        val i5 = nodes.iterator()
        while (i5.hasNext) {
          val n = i5.next(); out += ((n, h.get(n), a.get(n)))
        }
        out.iterator
      }.toDF("node_id", "hub_e6", "auth_e6")
      .select(col("node_id").cast(idType).as("node_id"),
        col("hub_e6"), col("auth_e6"))
  }

  /** Single-shard BFS for graphs under the [[LocalSweepEdges]] budget:
    * edges and sources ride one tagged union into a single partition
    * (no driver collect) and the whole multi-source sweep runs in that
    * task — identical output contract to the distributed loop (minimum
    * hops per reached node, sources at 0, unreached absent, capped at
    * maxHops).
    */
  private[graft] def hopDistanceLocal(e: DataFrame, sources: DataFrame,
                               maxHops: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = sources.schema("node_id").dataType
    val tagged = e
      .select(col("src").cast("long"), col("dst").cast("long"),
        lit(1).as("t"))
      .unionByName(sources.select(col("node_id").cast("long").as("src"))
        .distinct()
        .select(col("src"), lit(0L).as("dst"), lit(0).as("t")))
    tagged.as[(Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val adj = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[Long]]()
      val seeds = new scala.collection.mutable.ArrayBuffer[Long]()
      it.foreach { case (s, d, t) =>
        if (t == 1) adj.computeIfAbsent(s,
          _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
        else seeds += s
      }
      val dist = new java.util.HashMap[Long, Long]()
      seeds.foreach(dist.put(_, 0L))
      var frontier = seeds
      var h = 0L
      while (frontier.nonEmpty && h < maxHops) {
        h += 1
        val next = new scala.collection.mutable.ArrayBuffer[Long]()
        frontier.foreach { n =>
          val ns = adj.get(n)
          if (ns != null) ns.foreach { m =>
            if (!dist.containsKey(m)) { dist.put(m, h); next += m }
          }
        }
        frontier = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](dist.size)
      val ks = dist.entrySet().iterator()
      while (ks.hasNext) { val kv = ks.next(); out += ((kv.getKey, kv.getValue)) }
      out.iterator
    }.toDF("node_id", "hops")
      .select(col("node_id").cast(idType).as("node_id"), col("hops"))
  }

  /** Deterministic RANDOM-WALK corpus (the DeepWalk/node2vec input):
    * `walksPerNode` walks from every node, each `steps` hops, where hop
    * `t` of walk `w` picks sorted-neighbor index
    * mixId(w·(steps+1)+t) mod degree — an RNG-free choice both engines
    * reproduce bit-for-bit. This is the graph→sequence bridge of an
    * embedding pipeline: the emitted (walk, step, node) rows ARE the
    * training sentences.
    *
    * Scale posture: one groupBy builds per-node sorted adjacency ARRAYS
    * (persisted; degree capped at `maxDeg` — a 10^6-degree hub would
    * otherwise be a gigabyte row, and production walk engines cap or
    * alias-sample exactly here), then `steps` equi-join shuffles of the
    * walk frontier against it — the canonical distributed walk shape;
    * every round is persisted, counted and rebased. Walks
    * reaching a node with no out-edges stop (the join drops them).
    * Input: edges(src, dst). Output: (walk_id, step, node).
    */
  def randomWalks(edges: DataFrame, walksPerNode: Int, steps: Int,
                  maxDeg: Int = 1024,
                  scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = edges.select(col("src"), col("dst")).distinct()
    val nbrs = scope.persist(simple.groupBy("src")
      .agg(slice(sort_array(collect_list(col("dst"))), 1, maxDeg).as("ns")))
    val w = walksPerNode.toLong
    // every round's frame stays persisted until the scope releases: the
    // output UNION references all of them, so dropping one mid-loop
    // would recompute the whole join chain at evaluation time. Total
    // held state ≈ the output itself ((steps+1)·n·walksPerNode 2-long
    // rows), the natural floor for this operator.
    var frontier = scope.persist(nbrs.select(col("src").as("node"))
      .select(explode(sequence(lit(0L), lit(w - 1L))).as("wi"), col("node"))
      .select((col("node") * w + col("wi")).as("walk_id"), col("node").as("cur")))
    frontier.count()
    frontier = rebase(frontier)
    var out = frontier.select(col("walk_id"), lit(0L).as("step"),
      col("cur").as("node"))
    for (t <- 1 to steps) {
      val next = scope.persist(frontier.join(nbrs, col("cur") === col("src"))
        .select(col("walk_id"),
          element_at(col("ns"),
            (Fns.mixId(col("walk_id") * (steps + 1) + t) % size(col("ns"))
              + 1).cast("int")).as("cur")))
      next.count()
      frontier = rebase(next)
      out = out.unionByName(frontier.select(col("walk_id"),
        lit(t.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Per-node link RECIPROCITY: of a node's distinct out-links, how many
    * are returned (⟨a→b⟩ with ⟨b→a⟩ present) — the webgraph mutuality
    * signal (mirror detection, link-scheme scoring; a crawl ranker
    * discounts link farms whose reciprocity ≈ 1000‰). One semi-join of
    * the deduped edge list against its own transpose plus two key aggs —
    * no window, no loop. Output: (node_id, outdeg, mutual, recip_pm)
    * with recip_pm = ⌊1000·mutual/outdeg⌋.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("mutual"))
    e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .join(mutual, Seq("src"), "left")
      .select(col("src").as("node_id"), col("outdeg"),
        coalesce(col("mutual"), lit(0L)).as("mutual"))
      .withColumn("recip_pm", expr("(mutual * 1000) div outdeg"))
  }

  /** Double-sweep diameter estimation (the standard BFS heuristic whose
    * result is an exact LOWER bound and exact on trees): BFS from a
    * deterministic seed (the minimum node id), hop to the farthest node
    * reached (ties to the smallest id), BFS again — the second
    * eccentricity bounds the graph diameter from below, typically
    * tightly. The crawl use: "how many hops is this link island across",
    * the budget input for hop-limited frontier expansion. Edges are
    * treated as undirected (symmetrized here).
    *
    * Scale posture: two [[hopDistance]] frontier loops (each O(diameter)
    * rounds of one join + one distinct, frontier-sized state) plus three
    * driver-side single-value probes (the seed min, and each sweep's
    * argmax row) — documented eager scalars, the same contract as knn's
    * density probe. Output one row: (seed, far_node, seed_ecc,
    * peak_node, diameter_lb).
    */
  /** Edge budget for the single-shard double-sweep path: a symmetrized
    * graph at or under this many edges runs both BFS sweeps inside ONE
    * task over an in-memory adjacency map (memory O(edges), bounded by
    * this constant) instead of paying ~2·eccentricity blocking frontier
    * rounds of scheduler latency. Above the budget the distributed
    * [[hopDistance]] loop runs unchanged — the switch mirrors the kNN
    * family's small/large strategy selection.
    */
  val LocalSweepEdges: Long = 1L << 22

  /** The single-shard twins key their in-memory maps by Long, so the
    * budget dispatch additionally requires integral node ids — operators
    * called with string ids (e.g. TextRank's word graph) stay on the
    * distributed loop at any size. The id columns must also share ONE
    * type: twins cast output node ids to the first column's type, which
    * would silently truncate ids from a WIDER second column (src INT,
    * dst BIGINT), where the distributed loops widen via unionByName —
    * mixed-width inputs therefore stay distributed too.
    */
  private[graft] def integralId(dts: org.apache.spark.sql.types.DataType*): Boolean =
    dts.forall {
      case _: org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.ShortType => true
      case _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    } && dts.distinct.lengthCompare(1) <= 0

  def doubleSweepDiameter(edges: DataFrame, maxHops: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    val sym = scope.persist(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    if (sym.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType)) {
      // both sweeps in one task: BFS level h's nodes are exactly the
      // distributed loop's hops==h rows, so far-node tie-break (max hops,
      // then min node id) = min id of the last non-empty level
      sym.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val adj = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        var seed = Long.MaxValue
        it.foreach { case (s, d) =>
          adj.computeIfAbsent(s,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
          if (s < seed) seed = s
        }
        def sweep(from: Long): (Long, Long) = {
          val dist = new java.util.HashMap[Long, Long]()
          dist.put(from, 0L)
          var frontier = scala.collection.mutable.ArrayBuffer(from)
          var h = 0L; var far = from; var ecc = 0L
          while (frontier.nonEmpty && h < maxHops) {
            h += 1
            val next = new scala.collection.mutable.ArrayBuffer[Long]()
            frontier.foreach { n =>
              val ns = adj.get(n)
              if (ns != null) ns.foreach { m =>
                if (!dist.containsKey(m)) { dist.put(m, h); next += m }
              }
            }
            frontier = next
            if (next.nonEmpty) { ecc = h; far = next.min }
          }
          (far, ecc)
        }
        if (seed == Long.MaxValue) Iterator.empty
        else {
          val (far, ecc1) = sweep(seed)
          val (peak, ecc2) = sweep(far)
          Iterator((seed, far, ecc1, peak, ecc2))
        }
      }.toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")
    } else {
      val seed = sym.agg(min(col("src"))).head().getLong(0)
      val d1 = hopDistance(sym, Seq(seed).toDF("node_id"), maxHops, scope)
      val f1 = d1.orderBy(col("hops").desc, col("node_id")).limit(1).head()
      val (far, ecc1) = (f1.getLong(0), f1.getLong(1))
      val d2 = hopDistance(sym, Seq(far).toDF("node_id"), maxHops, scope)
      val f2 = d2.orderBy(col("hops").desc, col("node_id")).limit(1).head()
      Seq((seed, far, ecc1, f2.getLong(0), f2.getLong(1)))
        .toDF("seed", "far_node", "seed_ecc", "peak_node", "diameter_lb")
    }
  }

  /** Undirected connected components over an (src, dst) edge list:
    * node_id → component, where the component label is the smallest node
    * id reachable from the node. The crawl use: carving a host/link graph
    * into independent crawl universes (mirror farms, link islands) before
    * per-component scheduling or dedup.
    *
    * Delegates to the adaptive pointer-jumping min-label loop of
    * [[DedupOps.duplicateClusters]] (edges are symmetrized there), so a
    * chain-shaped component of diameter d — the adversarial case for
    * plain label propagation, and common in paginated crawl graphs —
    * converges in O(log d) rounds of two shuffles each, with the per-round
    * unpersist + plan-rebase hygiene already audited on the dedup path.
    * Nodes with no edges don't appear (components are defined over the
    * edge list; union isolated nodes in as self-labeled if needed).
    */
  def connectedComponents(edges: DataFrame,
                          scope: CacheScope = CacheScope.global): DataFrame =
    DedupOps.duplicateClusters(
        edges.select(col("src").as("doc_a"), col("dst").as("doc_b")), scope)
      .select(col("doc_id").as("node_id"), col("cluster_id").as("component"))

  /** HITS hubs/authorities with fixed-point INTEGER arithmetic — the
    * link-graph quality signal pair next to [[pageRank]] (a good hub
    * links to good authorities; a good authority is linked from good
    * hubs). Classic HITS L2-normalizes each half-step (float,
    * order-dependent — not oracle-comparable); this variant normalizes by
    * FLOOR-DIVIDING by `max div RankScale` instead: magnitudes stay in
    * [0, ~2·RankScale], every op is int64 (floor div + sum), so the
    * result is bit-identical in any engine and the RANKING equals the
    * max-normalized power iteration's.
    *
    * Per iteration: auth_raw(v) = Σ_{u→v} hub(u), renormalize; then
    * hub_raw(u) = Σ_{u→v} auth(v), renormalize. Overflow headroom: after
    * renormalization values are ≤ 2·RankScale, so a raw in-sum is ≤
    * indegree·2·RankScale — safe below ~4.6·10^12 in-links to ONE node;
    * ANSI mode fails loudly beyond. Scale posture: per iteration two
    * edge-list shuffle joins + two key aggregations (the pageRank shape
    * twice); the two global maxes are single-scalar actions (documented
    * eager contract, same as the loop's per-round materialize). Rounds
    * step through a [[graft.core.RoundState]]; each round's two
    * normalization inputs are persisted for its two max probes and
    * released once the round is materialized.
    *
    * Input: (src, dst) long edge ids (parallel edges collapse). Output:
    * (node_id, hub_e6, auth_e6).
    */
  def hits(edges: DataFrame, iterations: Int,
           scope: CacheScope = CacheScope.global): DataFrame = {
    val simple = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (simple.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      hitsLocal(simple, iterations, edges.schema("src").dataType)
    else hitsLoop(simple, iterations, scope)
  }

  /** The distributed loop of [[hits]] (spec-reachable). */
  private[graft] def hitsLoop(simple: DataFrame, iterations: Int,
      scope: CacheScope): DataFrame = {
    val nodes = scope.persist(
      simple.select(col("src").as("node_id"))
        .unionByName(simple.select(col("dst").as("node_id"))).distinct())
    val e = scope.persist(simple)

    val st = RoundState(nodes
      .withColumn("h", lit(RankScale)).withColumn("a", lit(RankScale)))
    for (_ <- 1 to iterations) {
      val aRaw = e.join(st.current.select(col("node_id"), col("h")),
          col("src") === col("node_id"))
        .groupBy(col("dst")).agg(sum(col("h")).cast("long").as("araw"))
      val aFull = nodes.join(aRaw, col("node_id") === col("dst"), "left")
        .select(col("node_id"), coalesce(col("araw"), lit(0L)).as("araw"))
        .persist()
      val qa = math.max(
        aFull.agg(max(col("araw"))).head.getLong(0) / RankScale, 1L)
      val aN = aFull.selectExpr("node_id", s"araw div $qa AS a")
      val hRaw = e.join(aN.select(col("node_id").as("__an"), col("a")),
          col("dst") === col("__an"))
        .groupBy(col("src")).agg(sum(col("a")).cast("long").as("hraw"))
      val hFull = nodes.join(hRaw, col("node_id") === col("src"), "left")
        .select(col("node_id"), coalesce(col("hraw"), lit(0L)).as("hraw"))
        .persist()
      val qh = math.max(
        hFull.agg(max(col("hraw"))).head.getLong(0) / RankScale, 1L)
      st.step(hFull.selectExpr("node_id", s"hraw div $qh AS h")
        .join(aN, "node_id"))
      // the stepped round is materialized: its per-round inputs can go
      aFull.unpersist(blocking = false)
      hFull.unpersist(blocking = false)
    }
    st.survivor(scope)
      .select(col("node_id"), col("h").as("hub_e6"), col("a").as("auth_e6"))
  }

  /** k-core: the maximal subgraph in which every node has ≥ k neighbors
    * (undirected simple graph) — the standard density skeleton for link
    * graphs (spam farms and boilerplate nav rings live OUTSIDE the core;
    * topical hubs inside). Computed by iterative peeling: drop every node
    * whose surviving degree < k until nothing changes.
    *
    * Determinism/bounding contract: the loop runs at most `maxRounds`
    * peel rounds with an early exit at the fixpoint. Peeling is monotone
    * and idempotent — once stable, further rounds are identity — so the
    * early-exited result EQUALS the fixed-`maxRounds` unroll whenever
    * convergence happens within the bound, which is what lets a plain
    * staged-SQL twin verify it. Random-ish link graphs converge in
    * O(log n) rounds; a worst-case path graph peels ~n/2, hence the
    * explicit bound rather than an unbounded loop.
    *
    * Scale posture: per round the edge list is semi-joined against the
    * alive set on BOTH endpoints (two hash shuffles) and degree-counted
    * (one agg); edges only shrink. Rounds step through a
    * [[graft.core.RoundState]], whose count detects the fixpoint.
    * Input: (src, dst). Output: (node_id, core_deg) for core members,
    * core_deg = degree within the core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
            scope: CacheScope = CacheScope.global): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val ue = scope.persist(
      und.unionByName(und.select(col("b").as("a"), col("a").as("b"))))
    if (ue.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      kCoreLocal(ue, k, maxRounds)
    else kCoreLoop(ue, k, maxRounds, scope)
  }

  /** The distributed peel loop of [[kCore]] (spec-reachable directly).
    * `ue` must be the symmetrized deduplicated (a, b) edge list.
    */
  private[graft] def kCoreLoop(ue: DataFrame, k: Int, maxRounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    def degrees(alive: DataFrame): DataFrame =
      ue.join(alive.select(col("node_id").as("__s")), col("a") === col("__s"))
        .join(alive.select(col("node_id").as("__t")), col("b") === col("__t"))
        .groupBy(col("a").as("node_id"))
        .agg(count(lit(1)).as("core_deg"))

    val alive = RoundState(ue.select(col("a").as("node_id")).distinct())
    var n = alive.current.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val m = alive.step(degrees(alive.current).filter(col("core_deg") >= k)
        .select(col("node_id")))
      converged = m == n
      n = m
    }
    degrees(alive.survivor(scope))
  }

  /** Single-shard twin of [[kCore]] under the [[LocalSweepEdges]]
    * budget: the same synchronous peel schedule (per round recompute
    * every live node's degree within the live set, keep ≥ k, stop on
    * convergence or the round cap, emit final live degrees — nodes with
    * no surviving edge are absent, matching the loop's degrees-frame
    * filter) over an in-memory symmetric adjacency in one task; parity
    * spec'd.
    */
  private[graft] def kCoreLocal(ue: DataFrame, k: Int,
                                maxRounds: Int): DataFrame = {
    val sess = ue.sparkSession
    import sess.implicits._
    val idType = ue.schema("a").dataType
    ue.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val nbrs = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        it.foreach { case (a, b) =>
          nbrs.computeIfAbsent(a,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += b
        }
        var alive = new java.util.HashSet[Long](nbrs.keySet())
        def liveDeg(n: Long): Long = {
          var c = 0L
          val ns = nbrs.get(n)
          if (ns != null) ns.foreach { m => if (alive.contains(m)) c += 1 }
          c
        }
        var n = alive.size.toLong
        var round = 0
        var converged = false
        while (round < maxRounds && !converged) {
          round += 1
          val next = new java.util.HashSet[Long]()
          val ai = alive.iterator()
          while (ai.hasNext) {
            val v = ai.next()
            val d = liveDeg(v)
            // the loop's degrees frame only carries nodes with >= 1 live
            // edge, so deg-0 nodes drop regardless of k
            if (d >= 1 && d >= k) next.add(v)
          }
          converged = next.size.toLong == n
          n = next.size.toLong
          alive = next
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val ai = alive.iterator()
        while (ai.hasNext) {
          val v = ai.next()
          val d = liveDeg(v)
          if (d >= 1) out += ((v, d))
        }
        out.iterator
      }.toDF("node_id", "core_deg")
      .select(col("node_id").cast(idType).as("node_id"), col("core_deg"))
  }

  /** Strongly connected components of a DIRECTED edge list — the crawl
    * "core" detector (mutual-link cliques, ring farms) that undirected
    * WCC cannot see. Published distributed shape (ColorSCC / FW-BW):
    * each round (1) forward-propagates min node ids to a fixpoint — the
    * color F(v) = smallest id that reaches v in the remaining graph;
    * (2) runs a backward BFS from every color root SIMULTANEOUSLY,
    * restricted to same-color edges — the nodes that reach their root
    * within its class are exactly SCC(root), because root→v (coloring)
    * and v→root (backward) are mutual; (3) removes the resolved SCCs
    * and repeats on the remainder. The label c assigned to v is the
    * minimum id of SCC(v) (c ∈ SCC(v) and c = F(v) ≤ min SCC(v)).
    *
    * Scale posture: state is one label per live node plus a tagged BFS
    * frontier — never pairwise reachability; every step is an edge-list
    * equi-join + key agg. Rounds are data-dependent (every color class
    * resolves its root SCC per round; random crawl-ish graphs converge
    * in a handful), the documented trade of the coloring algorithm.
    * Loop hygiene as elsewhere: persist per round, unpersist superseded,
    * rebase through the cached RDD, convergence gates are count/isEmpty
    * actions (documented eager contract).
    *
    * Input: (src, dst). Output: (node_id, scc_id) over edge endpoints,
    * scc_id = min node id of the component.
    */
  def stronglyConnectedComponents(edges: DataFrame,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      sccLocal(e)
    else graft.core.LoopConf.withCoalescing(edges) { sccBody(e, scope) }
  }

  /** Single-shard SCC for graphs under the [[LocalSweepEdges]] budget:
    * iterative Kosaraju (forward finish order, reverse-graph peeling) in
    * ONE task. The output contract is canonical — scc_id = min node id
    * of the component over non-self-loop edge endpoints — so any correct
    * SCC algorithm produces bit-identical rows to the distributed
    * coloring loop (parity spec'd); the local path just skips the
    * loop's data-dependent rounds of join latency.
    */
  private def sccLocal(e: DataFrame): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = e.schema("src").dataType
    e.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val fwd = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        val rev = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        val nodes = new java.util.LinkedHashSet[Long]()
        def add(m: java.util.HashMap[
            Long, scala.collection.mutable.ArrayBuffer[Long]],
            x: Long, y: Long): Unit =
          m.computeIfAbsent(x,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += y
        it.foreach { case (s, d) =>
          add(fwd, s, d); add(rev, d, s); nodes.add(s); nodes.add(d)
        }
        // pass 1: forward DFS finish order (iterative, explicit stack)
        val seen = new java.util.HashSet[Long]()
        val order = new scala.collection.mutable.ArrayBuffer[Long](nodes.size)
        val stack = new scala.collection.mutable.ArrayBuffer[(Long, Int)]()
        val nit = nodes.iterator()
        while (nit.hasNext) {
          val start = nit.next()
          if (!seen.contains(start)) {
            seen.add(start); stack += ((start, 0))
            while (stack.nonEmpty) {
              val (n, i) = stack.remove(stack.length - 1)
              val ns = fwd.get(n)
              var j = i; var descended = false
              while (!descended && ns != null && j < ns.length) {
                val m = ns(j)
                if (!seen.contains(m)) {
                  seen.add(m)
                  stack += ((n, j + 1)); stack += ((m, 0))
                  descended = true
                }
                j += 1
              }
              if (!descended) order += n
            }
          }
        }
        // pass 2: peel reverse graph in reverse finish order
        val comp = new java.util.HashMap[Long, Long]()
        var k = order.length - 1
        val dfs2 = new scala.collection.mutable.ArrayBuffer[Long]()
        while (k >= 0) {
          val root = order(k)
          if (!comp.containsKey(root)) {
            var minId = root
            val members = new scala.collection.mutable.ArrayBuffer[Long]()
            dfs2 += root; comp.put(root, root)
            while (dfs2.nonEmpty) {
              val n = dfs2.remove(dfs2.length - 1)
              members += n
              if (n < minId) minId = n
              val ns = rev.get(n)
              if (ns != null) ns.foreach { m =>
                if (!comp.containsKey(m)) { comp.put(m, root); dfs2 += m }
              }
            }
            members.foreach(comp.put(_, minId))
          }
          k -= 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](comp.size)
        val ci = comp.entrySet().iterator()
        while (ci.hasNext) { val kv = ci.next(); out += ((kv.getKey, kv.getValue)) }
        out.iterator
      }.toDF("node_id", "scc_id")
      .select(col("node_id").cast(idType).as("node_id"),
        col("scc_id").cast(idType).as("scc_id"))
  }

  /** The distributed coloring loop (spec-reachable; `edges` must already
    * be the deduplicated non-self-loop (src, dst) list).
    */
  private[graft] def sccBody(edges: DataFrame, scope: CacheScope): DataFrame = {
    // Lineage control: the doubly-nested rounds would chain hundreds of
    // stages into one RDD DAG — task serialization stack-overflows around
    // a few hundred nested dependencies (observed in a full Verify run).
    // localCheckpoint(eager) TRUNCATES lineage at every loop frame (persist
    // alone does not); on a multi-executor cluster swap for reliable
    // checkpoint(dir) — same call sites, fault-tolerant blocks.
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    var rem = cp(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var nodes = cp(rem.select(col("src").as("id"))
      .unionByName(rem.select(col("dst").as("id"))).distinct())
    var nLive = nodes.count()
    var acc: DataFrame = nodes.select(col("id").as("node_id"),
      col("id").as("scc_id")).filter(lit(false))
    while (nLive > 0) {
      // (0) trim: nodes with zero out- or in-degree in the live graph are
      // singleton SCCs — resolving them in bulk spares the coloring loop
      // one full round per DAG-tail level (the dominant round count on
      // crawl-shaped graphs)
      var trimming = true
      while (trimming && nLive > 0) {
        val dead = cp(nodes
          .join(rem.select(col("src").as("id")).distinct(), Seq("id"),
            "left_anti")
          .unionByName(nodes.join(rem.select(col("dst").as("id")).distinct(),
            Seq("id"), "left_anti"))
          .distinct())
        val nDead = dead.count()
        if (nDead == 0) { trimming = false; dead.unpersist(blocking = false) }
        else {
          val accNew = cp(acc.unionByName(
            dead.select(col("id").as("node_id"), col("id").as("scc_id"))))
          acc.unpersist(blocking = false)
          acc = accNew
          val liveNew = cp(nodes.join(dead, Seq("id"), "left_anti"))
          val remNew = cp(rem
            .join(liveNew.select(col("id").as("src")), "src")
            .join(liveNew.select(col("id").as("dst")), "dst"))
          nodes.unpersist(blocking = false)
          rem.unpersist(blocking = false)
          dead.unpersist(blocking = false)
          nodes = liveNew
          rem = remNew
          nLive -= nDead
        }
      }
      if (nLive == 0) {
        scope.track(rem); scope.track(nodes); scope.track(acc)
        return acc
      }
      // (1) forward min-color to fixpoint — convergence gated on the
      // monotone label sum (each f only decreases, so an unchanged sum
      // IS a fixpoint): one cheap scan-agg instead of a diff join
      var lab = cp(nodes.select(col("id").as("node"), col("id").as("f")))
      var prevSum = lab.agg(sum(col("f"))).head().getLong(0)
      var stable = false
      while (!stable) {
        val next = cp(rem
          .join(lab.select(col("node").as("src"), col("f")), "src")
          .select(col("dst").as("node"), col("f"))
          .unionByName(lab)
          .groupBy("node").agg(min(col("f")).as("f")))
        val s = next.agg(sum(col("f"))).head().getLong(0)
        stable = s == prevSum
        prevSum = s
        lab.unpersist(blocking = false)
        lab = next
      }
      // (2) backward BFS from all color roots over same-color edges
      val eCol = cp(rem
        .join(lab.select(col("node").as("src"), col("f").as("fs")), "src")
        .join(lab.select(col("node").as("dst"), col("f").as("fd")), "dst")
        .filter(col("fs") === col("fd"))
        .select(col("src"), col("dst")))
      var vis = cp(lab.filter(col("node") === col("f"))
        .select(col("f").as("c"), col("node")))
      var frontier = vis
      var prevFrontier: DataFrame = null
      var drained = false
      while (!drained) {
        val next = cp(eCol
          .join(frontier.select(col("c"), col("node").as("dst")), "dst")
          .select(col("c"), col("src").as("node")).distinct()
          .join(vis, Seq("c", "node"), "left_anti"))
        if (next.isEmpty) { drained = true; next.unpersist(blocking = false) }
        else {
          // next stays checkpointed: it IS the following round's frontier
          // (a truncated-lineage frame cannot recompute once dropped)
          val grown = cp(vis.unionByName(next))
          vis.unpersist(blocking = false)
          if (prevFrontier != null) prevFrontier.unpersist(blocking = false)
          vis = grown
          frontier = next
          prevFrontier = next
        }
      }
      if (prevFrontier != null) prevFrontier.unpersist(blocking = false)
      // (3) emit resolved SCCs, shrink the live graph
      val accNew = cp(acc.unionByName(
        vis.select(col("node").as("node_id"), col("c").as("scc_id"))))
      acc.unpersist(blocking = false)
      acc = accNew
      val liveNew = cp(nodes.join(vis.select(col("node").as("id")), Seq("id"),
        "left_anti"))
      val nNew = liveNew.count()
      val remNew = cp(rem
        .join(liveNew.select(col("id").as("src")), "src")
        .join(liveNew.select(col("id").as("dst")), "dst"))
      lab.unpersist(blocking = false)
      eCol.unpersist(blocking = false)
      vis.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      rem.unpersist(blocking = false)
      nodes = liveNew
      rem = remNew
      nLive = nNew
    }
    scope.track(rem)
    scope.track(nodes)
    scope.track(acc)
    acc
  }

  /** Distributed Borůvka minimum spanning tree/forest over an undirected
    * weighted edge list with DISTINCT weights (caller contract — makes
    * the MST unique, every per-component argmin deterministic, and the
    * oracle's minimax characterization exact). The backbone extractor
    * for similarity graphs: a dedup/conflation pair graph's MST is its
    * cheapest connecting skeleton (single-linkage dendrogram edges).
    *
    * Classic Borůvka rounds: every component hooks its cheapest outgoing
    * edge (struct-min per component over both directions), the chosen
    * edges join the forest, touched components merge (labels via
    * [[connectedComponents]]'s pointer-jumping min-label on the
    * CONTRACTED component graph — ≤ one node per component, so the inner
    * loop runs on a frame that halves every round). Component count at
    * least halves per round ⇒ ≤ ⌈log₂ n⌉ rounds of a few hash shuffles
    * each — no sequential Kruskal sort, no quadratic step anywhere.
    * Per-round persist/unpersist + RDD plan rebase (the hopDistance loop
    * hygiene); the round gate is one isEmpty action (documented eager
    * contract).
    *
    * Input: (a, b, w) with a < b, distinct w. Output: the forest's
    * (a, b, w) edges.
    */
  def boruvkaMst(edges: DataFrame,
                 scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("a"), col("b"), col("w")))
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("a").dataType, edges.schema("b").dataType,
          edges.schema("w").dataType))
      boruvkaLocal(e)
    else graft.core.LoopConf.withCoalescing(edges) { boruvkaBody(e, scope) }
  }

  /** Single-shard twin of [[boruvkaMst]] under the [[LocalSweepEdges]]
    * budget: the identical Borůvka schedule — per round every component
    * picks its lexicographic-min (w, a, b) cross edge, the chosen set
    * dedups, components merge to the MIN member label (the
    * connectedComponents contract) — run over in-memory union-find in
    * one task. Same chosen edges per round by construction; parity
    * spec'd against the distributed rounds.
    */
  private[graft] def boruvkaLocal(e: DataFrame): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val aType = e.schema("a").dataType
    val wType = e.schema("w").dataType
    e.select(col("a").cast("long"), col("b").cast("long"),
        col("w").cast("long"))
      .as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
        val es = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        val comp = new java.util.HashMap[Long, Long]()
        it.foreach { case (a, b, w) =>
          es += ((a, b, w))
          comp.putIfAbsent(a, a); comp.putIfAbsent(b, b)
        }
        val mst = new java.util.LinkedHashSet[(Long, Long, Long)]()
        var done = false
        while (!done) {
          // per-component lexicographic-min (w, a, b) cross edge —
          // the loop's min(struct(w, a, b)) per side
          val best = new java.util.HashMap[Long, (Long, Long, Long)]()
          var any = false
          es.foreach { case (a, b, w) =>
            val ca = comp.get(a); val cb = comp.get(b)
            if (ca != cb) {
              any = true
              val cand = (w, a, b)
              def upd(c: Long): Unit = {
                val cur = best.get(c)
                if (cur == null ||
                    Ordering[(Long, Long, Long)].lt(cand, cur))
                  best.put(c, cand)
              }
              upd(ca); upd(cb)
            }
          }
          if (!any) done = true
          else {
            val chosen = new java.util.HashSet[(Long, Long, Long)](best.values())
            // merge chosen components to the min member label (union-find
            // with min-root normalization = the WCC min-label contract)
            val parent = new java.util.HashMap[Long, Long]()
            def find(x: Long): Long = {
              var r = x
              while (parent.getOrDefault(r, r) != r) r = parent.get(r)
              var c = x
              while (parent.getOrDefault(c, c) != c) {
                val n = parent.get(c); parent.put(c, r); c = n
              }
              r
            }
            val ci = chosen.iterator()
            while (ci.hasNext) {
              val (w, a, b) = ci.next()
              mst.add((a, b, w))
              val ra = find(comp.get(a)); val rb = find(comp.get(b))
              if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
            }
            // normalize every touched root to the min comp id in its group
            val minOf = new java.util.HashMap[Long, Long]()
            val keys = new java.util.HashSet[Long](parent.keySet())
            val c2 = chosen.iterator()
            while (c2.hasNext) {
              val (_, a, b) = c2.next()
              keys.add(comp.get(a)); keys.add(comp.get(b))
            }
            val ki = keys.iterator()
            while (ki.hasNext) {
              val c = ki.next()
              val r = find(c)
              minOf.merge(r, c, (x, y) => math.min(x, y))
            }
            val ni = comp.entrySet().iterator()
            while (ni.hasNext) {
              val kv = ni.next()
              if (keys.contains(kv.getValue))
                kv.setValue(minOf.get(find(kv.getValue)))
            }
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long)](mst.size)
        val mi = mst.iterator()
        while (mi.hasNext) out += mi.next()
        out.iterator
      }.toDF("a", "b", "w")
      .select(col("a").cast(aType).as("a"), col("b").cast(aType).as("b"),
        col("w").cast(wType).as("w"))
  }

  private[graft] def boruvkaBody(edges: DataFrame, scope: CacheScope): DataFrame = {
    // localCheckpoint(eager) per round: the hook-and-contract rounds nest
    // connectedComponents' own loop, so persist-only rebasing would chain
    // every round's stages into one task-serialized RDD DAG (the q_scc
    // stack-overflow class); truncation keeps the DAG round-local. Swap
    // for reliable checkpoint(dir) on a multi-executor cluster.
    def cp(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val e = cp(edges.select(col("a"), col("b"), col("w")))
    var labels = cp(e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .distinct().withColumn("comp", col("node")))
    var mst = e.filter(lit(false))
    var done = false
    while (!done) {
      val el = e
        .join(labels.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(labels.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      if (el.isEmpty) done = true
      else {
        val dir = el.select(col("ca").as("c"),
            struct(col("w"), col("a"), col("b")).as("e"))
          .unionByName(el.select(col("cb").as("c"),
            struct(col("w"), col("a"), col("b")).as("e")))
        val chosen = dir.groupBy("c").agg(min(col("e")).as("m"))
          .select(col("m.w").as("w"), col("m.a").as("a"), col("m.b").as("b"))
          .distinct()
        val mstNew = cp(mst.unionByName(chosen.select("a", "b", "w")))
        mst.unpersist(blocking = false)
        mst = mstNew
        val ce = chosen
          .join(labels.select(col("node").as("a"), col("comp").as("ca")), "a")
          .join(labels.select(col("node").as("b"), col("comp").as("cb")), "b")
          .select(col("ca").as("src"), col("cb").as("dst"))
        val merged = connectedComponents(ce, scope)
          .withColumnRenamed("node_id", "comp")
        val grown = cp(labels.join(merged, Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("component"), col("comp")).as("comp")))
        labels.unpersist(blocking = false)
        labels = grown
      }
    }
    labels.unpersist(blocking = false)
    e.unpersist(blocking = false)
    scope.track(mst)
    mst
  }

  /** Landmark-based harmonic closeness centrality: exact closeness needs
    * all-pairs shortest paths (quadratic state — impossible at crawl
    * scale), so the standard scalable estimator runs a multi-source BFS
    * from a FIXED, deterministic landmark set and scores every node by
    * the harmonic sum Σ_{lm: d>0} ⌊10^6 / d⌋ over the landmark distances
    * — integer terms, commutative sum, so shuffle order cannot perturb
    * the result. Output: (node_id, n_lm, close_e6) with n_lm the number
    * of landmarks that reach the node (landmark nodes count themselves
    * at d=0, contributing to n_lm but not to close_e6).
    *
    * Scale posture: BFS state is (landmark × visited-node) pairs —
    * bounded by |landmarks| · |V|, LINEAR in graph size at the fixed
    * landmark count, never all-pairs. The visited set steps through a
    * [[graft.core.RoundState]] as in [[hopDistance]], with an early exit
    * on a drained frontier.
    */
  def landmarkCloseness(edges: DataFrame, landmarks: DataFrame, maxHops: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          landmarks.schema("node_id").dataType))
      landmarkClosenessLocal(e, landmarks, maxHops)
    else landmarkClosenessLoop(e, landmarks, maxHops, scope)
  }

  /** The distributed (landmark × node) frontier loop of
    * [[landmarkCloseness]] (spec-reachable directly). `e` must be the
    * deduplicated (src, dst) edge list.
    */
  private[graft] def landmarkClosenessLoop(e: DataFrame, landmarks: DataFrame,
      maxHops: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val visited = RoundState(landmarks.select(col("node_id")).distinct()
      .select(col("node_id").as("lm"), col("node_id"), lit(0L).as("hops")))
    var prevTotal = visited.current.count()
    var frontier = visited.current
    var h = 0L
    var drained = false
    while (h < maxHops && !drained) {
      h += 1
      val next = e.join(frontier.select(col("lm"), col("node_id")),
          col("src") === col("node_id"))
        .select(col("lm"), col("dst").as("node_id")).distinct()
        .join(visited.current.select("lm", "node_id"), Seq("lm", "node_id"),
          "left_anti")
        .withColumn("hops", lit(h))
      val total = visited.step(visited.current.unionByName(next))
      drained = total == prevTotal
      prevTotal = total
      frontier = visited.current.filter(col("hops") === h)
    }
    visited.survivor(scope).groupBy("node_id")
      .agg(count(lit(1)).as("n_lm"),
        sum(when(col("hops") > 0, expr("1000000 div hops")).otherwise(0L))
          .as("close_e6"))
  }

  /** Single-shard twin of [[landmarkCloseness]] under the
    * [[LocalSweepEdges]] budget: one BFS per landmark over an in-memory
    * adjacency map in a single task (landmarks ride the tagged union),
    * accumulating the identical integer harmonic terms ⌊10⁶/d⌋ — the
    * per-(landmark, node) distances equal the loop's visited frame by
    * BFS minimality, so the aggregated rows match bit-for-bit; parity
    * spec'd.
    */
  private[graft] def landmarkClosenessLocal(e: DataFrame,
      landmarks: DataFrame, maxHops: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = landmarks.schema("node_id").dataType
    val tagged = e
      .select(col("src").cast("long"), col("dst").cast("long"), lit(1).as("t"))
      .unionByName(landmarks.select(col("node_id").cast("long").as("src"))
        .distinct()
        .select(col("src"), lit(0L).as("dst"), lit(0).as("t")))
    tagged.as[(Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val adj = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[Long]]()
      val lms = new scala.collection.mutable.ArrayBuffer[Long]()
      it.foreach { case (s, d, t) =>
        if (t == 1) adj.computeIfAbsent(s,
          _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
        else lms += s
      }
      val nLm = new java.util.HashMap[Long, Long]()
      val close = new java.util.HashMap[Long, Long]()
      lms.foreach { lm =>
        val seen = new java.util.HashSet[Long]()
        seen.add(lm)
        nLm.merge(lm, 1L, (a, b) => a + b)
        var frontier = scala.collection.mutable.ArrayBuffer(lm)
        var h = 0L
        while (frontier.nonEmpty && h < maxHops) {
          h += 1
          val next = new scala.collection.mutable.ArrayBuffer[Long]()
          frontier.foreach { n =>
            val ns = adj.get(n)
            if (ns != null) ns.foreach { m =>
              if (!seen.contains(m)) {
                seen.add(m); next += m
                nLm.merge(m, 1L, (a, b) => a + b)
                close.merge(m, 1000000L / h, (a, b) => a + b)
              }
            }
          }
          frontier = next
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long)](nLm.size)
      val ki = nLm.entrySet().iterator()
      while (ki.hasNext) {
        val kv = ki.next()
        out += ((kv.getKey, kv.getValue, close.getOrDefault(kv.getKey, 0L)))
      }
      out.iterator
    }.toDF("node_id", "n_lm", "close_e6")
      .select(col("node_id").cast(idType).as("node_id"), col("n_lm"),
        col("close_e6"))
  }

  /** Shortest-path COUNTING from a seed set — the σ table of Brandes
    * betweenness (how many distinct shortest paths from the seeds reach
    * each node). Level-synchronous frontier propagation: a node first
    * reached at hop `h` has σ = Σ σ(u) over frontier predecessors u at
    * hop `h-1`; later (longer) arrivals never contribute, matching the
    * textbook BFS-DAG definition. All-integer, so the result is
    * bit-identical in any engine and any shuffle order.
    *
    * Scale posture: per round ONE shuffle join of the persisted edge
    * list with the current frontier plus one `dst` aggregation and an
    * anti-join against the visited set — [[hopDistance]]'s shape with a
    * summed payload instead of DISTINCT; same [[graft.core.RoundState]]
    * rounds, early exit when the frontier drains. σ grows at most by the
    * max out-degree factor per hop, so int64 holds for any realistic
    * (maxHops, degree) envelope; ANSI mode fails loudly on overflow rather
    * than wrapping.
    *
    * Input: edges (src, dst), sources (node_id). Output
    * (node_id, hops, sigma) for every node within `maxHops`; seeds carry
    * (0, 1). Reference capability: SURVEY §2.3 multi-pass relation
    * traversal (relations/assembler.hpp two-pass member resolution);
    * path counting is the same frontier-join family the crawl analytics
    * need for centrality estimates.
    */
  def shortestPathCounts(edges: DataFrame, sources: DataFrame, maxHops: Int,
                         scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          sources.schema("node_id").dataType))
      shortestPathCountsLocal(e, sources, maxHops)
    else shortestPathCountsLoop(e, sources, maxHops, scope)
  }

  /** The distributed σ frontier loop of [[shortestPathCounts]]
    * (spec-reachable directly). `e` must be the deduplicated (src, dst)
    * edge list.
    */
  private[graft] def shortestPathCountsLoop(e: DataFrame, sources: DataFrame,
      maxHops: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val visited = RoundState(sources.select(col("node_id")).distinct()
      .withColumn("hops", lit(0L)).withColumn("sigma", lit(1L)))
    var prevTotal = visited.current.count()
    var frontier = visited.current
    var h = 0L
    var drained = false
    while (h < maxHops && !drained) {
      h += 1
      val next = e.join(frontier.select(col("node_id"), col("sigma")),
          col("src") === col("node_id"))
        .groupBy(col("dst")).agg(sum(col("sigma")).as("sigma"))
        .withColumnRenamed("dst", "node_id")
        .join(visited.current.select(col("node_id")), Seq("node_id"), "left_anti")
        .select(col("node_id"), lit(h).as("hops"), col("sigma"))
      val total = visited.step(visited.current.unionByName(next))
      drained = total == prevTotal
      prevTotal = total
      frontier = visited.current.filter(col("hops") === h)
    }
    visited.survivor(scope)
  }

  /** Single-shard twin of [[shortestPathCounts]] under the
    * [[LocalSweepEdges]] budget: the level-synchronous BFS-DAG σ
    * recurrence (first-arrival level, σ(v) = Σ σ(u) over hop-(h−1)
    * predecessors) over an in-memory adjacency map in one task, sources
    * on the tagged union. The σ table is algorithm-independent (the
    * textbook definition), so rows match the loop bit-for-bit; parity
    * spec'd.
    */
  private[graft] def shortestPathCountsLocal(e: DataFrame,
      sources: DataFrame, maxHops: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = sources.schema("node_id").dataType
    val tagged = e
      .select(col("src").cast("long"), col("dst").cast("long"), lit(1).as("t"))
      .unionByName(sources.select(col("node_id").cast("long").as("src"))
        .distinct()
        .select(col("src"), lit(0L).as("dst"), lit(0).as("t")))
    tagged.as[(Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val adj = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[Long]]()
      val seeds = new java.util.LinkedHashSet[Long]()
      it.foreach { case (s, d, t) =>
        if (t == 1) adj.computeIfAbsent(s,
          _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
        else seeds.add(s)
      }
      val hops = new java.util.HashMap[Long, Long]()
      val sigma = new java.util.HashMap[Long, Long]()
      var frontier = new scala.collection.mutable.ArrayBuffer[Long]()
      val si = seeds.iterator()
      while (si.hasNext) {
        val n = si.next(); hops.put(n, 0L); sigma.put(n, 1L); frontier += n
      }
      var h = 0L
      while (frontier.nonEmpty && h < maxHops) {
        h += 1
        val acc = new java.util.HashMap[Long, Long]()
        frontier.foreach { n =>
          val sn = sigma.get(n)
          val ns = adj.get(n)
          if (ns != null) ns.foreach { m =>
            if (!hops.containsKey(m)) acc.merge(m, sn, (a, b) => a + b)
          }
        }
        val next = new scala.collection.mutable.ArrayBuffer[Long](acc.size)
        val ai = acc.entrySet().iterator()
        while (ai.hasNext) {
          val kv = ai.next()
          hops.put(kv.getKey, h); sigma.put(kv.getKey, kv.getValue)
          next += kv.getKey
        }
        frontier = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long)](hops.size)
      val ki = hops.entrySet().iterator()
      while (ki.hasNext) {
        val kv = ki.next()
        out += ((kv.getKey, kv.getValue, sigma.get(kv.getKey)))
      }
      out.iterator
    }.toDF("node_id", "hops", "sigma")
      .select(col("node_id").cast(idType).as("node_id"), col("hops"),
        col("sigma"))
  }

  /** Landmark BETWEENNESS (Brandes): the σ forward pass of
    * [[shortestPathCounts]] plus the level-synchronous BACKWARD
    * dependency accumulation δ(v) = Σ_{w : d(w)=d(v)+1, (v,w)∈E}
    * ⌊σ_v · (10⁶ + δ_w) / σ_w⌋ — each edge's term is ONE integer floor
    * division, so the per-node sum is shuffle-order-proof and the whole
    * table bit-identical cross-engine (float Brandes is not). δ is in e6
    * micro-units of the textbook dependency; paths are truncated at
    * `maxHops` in BOTH passes (the landmark approximation's documented
    * horizon).
    *
    * Scale posture: the forward pass is the audited frontier loop; the
    * backward pass is exactly `maxHops` rounds (level-bounded, not
    * data-dependent), each ONE edge-list join against two level slices
    * of the persisted forward frame plus a map-side-combined sum.
    * Output: (node_id, hops, sigma, delta_e6) for every reached node.
    */
  def landmarkBetweenness(edges: DataFrame, sources: DataFrame, maxHops: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    // maxHops == 0 would make the backward-level Seq empty and the
    // levels.reduce below throw UnsupportedOperationException
    require(maxHops >= 1, s"landmarkBetweenness needs maxHops >= 1, got $maxHops")
    val e = scope.persist(edges.select(col("src"), col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType,
          sources.schema("node_id").dataType))
      landmarkBetweennessLocal(e, sources, maxHops)
    else landmarkBetweennessLoop(e, sources, maxHops, scope)
  }

  /** The distributed Brandes passes of [[landmarkBetweenness]]
    * (spec-reachable directly). `e` must be the deduplicated (src, dst)
    * edge list.
    */
  private[graft] def landmarkBetweennessLoop(e: DataFrame, sources: DataFrame,
      maxHops: Int, scope: CacheScope = CacheScope.global): DataFrame = {
    val fwd = scope.persist(shortestPathCountsLoop(e, sources, maxHops, scope))
    var deeper: Option[DataFrame] = None
    val levels = (maxHops - 1 to 0 by -1).map { h =>
      val v = fwd.filter(col("hops") === h)
        .select(col("node_id").as("src"), col("sigma").as("sv"))
      val w = fwd.filter(col("hops") === h + 1)
        .select(col("node_id").as("dst"), col("sigma").as("sw"))
      val withDeep = deeper match {
        case Some(d) => e.join(v, "src").join(w, "dst")
          .join(d.select(col("node_id").as("dst"), col("delta").as("dw")),
            Seq("dst"), "left")
        case None => e.join(v, "src").join(w, "dst")
          .withColumn("dw", lit(null).cast("long"))
      }
      val delta = scope.persist(withDeep
        .select(col("src"),
          Fns.idiv2(col("sv") * (lit(1000000L) + coalesce(col("dw"), lit(0L))),
            col("sw")).as("c"))
        .groupBy(col("src")).agg(sum(col("c")).as("delta"))
        .select(col("src").as("node_id"), col("delta")))
      deeper = Some(delta)
      delta
    }
    val allDelta = levels.reduce(_ unionByName _)
      .groupBy("node_id").agg(max(col("delta")).as("delta")) // levels disjoint
    fwd.join(allDelta, Seq("node_id"), "left")
      .select(col("node_id"), col("hops"), col("sigma"),
        coalesce(col("delta"), lit(0L)).as("delta_e6"))
  }

  /** Single-shard twin of [[landmarkBetweenness]] under the
    * [[LocalSweepEdges]] budget: the σ forward BFS and the
    * level-descending backward accumulation
    * δ(v) = Σ ⌊σ_v·(10⁶+δ_w)/σ_w⌋ run in ONE task — identical integer
    * terms (all operands non-negative, so Java `/` = the loop's floor
    * division), identical level slices, so the table matches
    * bit-for-bit; parity spec'd.
    */
  private[graft] def landmarkBetweennessLocal(e: DataFrame,
      sources: DataFrame, maxHops: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = sources.schema("node_id").dataType
    val tagged = e
      .select(col("src").cast("long"), col("dst").cast("long"), lit(1).as("t"))
      .unionByName(sources.select(col("node_id").cast("long").as("src"))
        .distinct()
        .select(col("src"), lit(0L).as("dst"), lit(0).as("t")))
    tagged.as[(Long, Long, Int)].coalesce(1).mapPartitions { it =>
      val es = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val adj = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[Long]]()
      val seeds = new java.util.LinkedHashSet[Long]()
      it.foreach { case (s, d, t) =>
        if (t == 1) {
          es += ((s, d))
          adj.computeIfAbsent(s,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
        } else seeds.add(s)
      }
      // forward: first-arrival level + sigma (the shortestPathCounts twin)
      val hops = new java.util.HashMap[Long, Long]()
      val sigma = new java.util.HashMap[Long, Long]()
      var frontier = new scala.collection.mutable.ArrayBuffer[Long]()
      val si = seeds.iterator()
      while (si.hasNext) {
        val n = si.next(); hops.put(n, 0L); sigma.put(n, 1L); frontier += n
      }
      var h = 0L
      while (frontier.nonEmpty && h < maxHops) {
        h += 1
        val acc = new java.util.HashMap[Long, Long]()
        frontier.foreach { n =>
          val sn = sigma.get(n)
          val ns = adj.get(n)
          if (ns != null) ns.foreach { m =>
            if (!hops.containsKey(m)) acc.merge(m, sn, (a, b) => a + b)
          }
        }
        val next = new scala.collection.mutable.ArrayBuffer[Long](acc.size)
        val ai = acc.entrySet().iterator()
        while (ai.hasNext) {
          val kv = ai.next()
          hops.put(kv.getKey, h); sigma.put(kv.getKey, kv.getValue)
          next += kv.getKey
        }
        frontier = next
      }
      // backward: DAG edges bucketed by the tail's level, accumulated
      // level-descending — δ terms identical to the loop's idiv2 floor
      val byLevel = new java.util.HashMap[
        Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
      es.foreach { case (v, w) =>
        if (hops.containsKey(v) && hops.containsKey(w) &&
            hops.get(w) == hops.get(v) + 1L)
          byLevel.computeIfAbsent(hops.get(v),
            _ => new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) +=
              ((v, w))
      }
      val delta = new java.util.HashMap[Long, Long]()
      var lvl = maxHops - 1L
      while (lvl >= 0L) {
        val le = byLevel.get(lvl)
        if (le != null) {
          val levelDelta = new java.util.HashMap[Long, Long]()
          le.foreach { case (v, w) =>
            val term = sigma.get(v) *
              (1000000L + delta.getOrDefault(w, 0L)) / sigma.get(w)
            levelDelta.merge(v, term, (a, b) => a + b)
          }
          val li = levelDelta.entrySet().iterator()
          while (li.hasNext) {
            val kv = li.next(); delta.put(kv.getKey, kv.getValue)
          }
        }
        lvl -= 1L
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long)](hops.size)
      val ki = hops.entrySet().iterator()
      while (ki.hasNext) {
        val kv = ki.next()
        out += ((kv.getKey, kv.getValue, sigma.get(kv.getKey),
          delta.getOrDefault(kv.getKey, 0L)))
      }
      out.iterator
    }.toDF("node_id", "hops", "sigma", "delta_e6")
      .select(col("node_id").cast(idType).as("node_id"), col("hops"),
        col("sigma"), col("delta_e6"))
  }

  /** Odd-cycle witness edges: BFS-parity conflicts on the SYMMETRIZED
    * graph. Runs [[hopDistance]] from the seed set over undirected
    * edges; any surviving edge whose endpoints sit at the same hop
    * parity closes an odd cycle (a bipartite component has none — the
    * classic 2-coloring test). Emitted per undirected edge (a < b) with
    * both hop counts, so the caller can rank witnesses by depth or count
    * them per component.
    *
    * Scale posture: the BFS rounds dominate (see [[hopDistance]]);
    * the parity check is two broadcast-eligible hash joins of the edge
    * list against the (nodes-sized) distance frame — no new loop, no
    * all-pairs stage.
    */
  def oddParityEdges(edges: DataFrame, sources: DataFrame, maxHops: Int,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dist = hopDistance(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst"))),
      sources, maxHops, scope)
    und
      .join(dist.select(col("node_id").as("a"), col("hops").as("da")), Seq("a"))
      .join(dist.select(col("node_id").as("b"), col("hops").as("db")), Seq("b"))
      .filter((col("da") + col("db")) % 2 === 0)
      .select(col("a"), col("b"), col("da"), col("db"))
  }

  /** TOPOLOGICAL LAYERING (level-synchronous Kahn): layer r = the nodes
    * whose remaining in-degree reaches zero once layers < r are removed
    * — the dependency schedule of a DAG (redirect/canonical chains,
    * category hierarchies, pipeline stage graphs), with every node
    * still blocked after `maxRounds` rounds — cycle cores and their
    * downstream — emitted with layer = −1 (the cycle DETECTOR: a DAG
    * within the round horizon flags nothing). The layering is
    * algorithm-independent (layer(n) = longest predecessor chain
    * length), so engines agree bit-for-bit.
    *
    * Scale posture: per round one distinct on the remaining edge list's
    * dst side, one anti-join for the zero-in-degree slice, and one
    * anti-join shrinking the edge list — all keyed, no global sort; the
    * loop exits early when a round peels nothing (pure-cycle residue
    * reaches a fixpoint, which the unrolled oracle replays). The node
    * and edge sets each step through a [[graft.core.RoundState]]; the
    * input edge list is the caller's and is never released here.
    * Strategy selection: under [[LocalSweepEdges]] with integral ids
    * the whole ladder runs in one task over in-degree counters
    * ([[topologicalLayersLocal]]); parity spec'd.
    *
    * Input: (src, dst). Output: (node_id, layer), layer ∈ [0, maxRounds)
    * or −1.
    */
  def topologicalLayers(edges: DataFrame, maxRounds: Int,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    require(maxRounds >= 1, s"topologicalLayers needs maxRounds >= 1")
    val e = scope.persist(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    if (e.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      topologicalLayersLocal(e, maxRounds)
    else topologicalLayersLoop(e, maxRounds, scope)
  }

  /** The distributed Kahn rounds of [[topologicalLayers]]
    * (spec-reachable directly). `e` must be the deduplicated,
    * self-loop-free (src, dst) edge list.
    */
  private[graft] def topologicalLayersLoop(e: DataFrame, maxRounds: Int,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val nodes = RoundState(e.select(col("src").as("node_id"))
      .unionByName(e.select(col("dst").as("node_id"))).distinct())
    val alive = RoundState.borrowed(e)
    val layers = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var r = 0
    var stuck = false
    while (r < maxRounds && !stuck) {
      val blocked = alive.current.select(col("dst").as("node_id")).distinct()
      val zero = nodes.current.join(blocked, Seq("node_id"), "left_anti")
        .persist()
      if (zero.count() == 0) {
        zero.unpersist(blocking = false)
        stuck = true
      } else {
        scope.track(zero)
        layers += zero.withColumn("layer", lit(r.toLong))
        nodes.step(blocked)
        alive.step(alive.current.join(zero.select(col("node_id").as("src")),
          Seq("src"), "left_anti"))
        r += 1
      }
    }
    alive.survivor(scope)
    val leftover = nodes.survivor(scope).withColumn("layer", lit(-1L))
    (layers :+ leftover).reduce(_ unionByName _)
  }

  /** Single-shard twin of [[topologicalLayers]] under the
    * [[LocalSweepEdges]] budget: level-synchronous Kahn over in-memory
    * in-degree counters in one task — identical layer assignment by the
    * longest-predecessor-chain argument; parity spec'd.
    */
  private[graft] def topologicalLayersLocal(e: DataFrame,
                                            maxRounds: Int): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val idType = e.schema("src").dataType
    e.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val adj = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        val inDeg = new java.util.HashMap[Long, Long]()
        it.foreach { case (s, d) =>
          adj.computeIfAbsent(s,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += d
          inDeg.merge(d, 1L, (a, b) => a + b)
          inDeg.putIfAbsent(s, 0L)
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
          inDeg.size)
        var frontier = new scala.collection.mutable.ArrayBuffer[Long]()
        val ni = inDeg.entrySet().iterator()
        while (ni.hasNext) {
          val kv = ni.next(); if (kv.getValue == 0L) frontier += kv.getKey
        }
        val peeled = new java.util.HashSet[Long]()
        var r = 0L
        while (r < maxRounds && frontier.nonEmpty) {
          val next = new scala.collection.mutable.ArrayBuffer[Long]()
          frontier.foreach { n =>
            out += ((n, r)); peeled.add(n)
            val ns = adj.get(n)
            if (ns != null) ns.foreach { m =>
              val d2 = inDeg.merge(m, -1L, (a, b) => a + b)
              if (d2 == 0L) next += m
            }
          }
          frontier = next
          r += 1
        }
        val li = inDeg.keySet().iterator()
        while (li.hasNext) {
          val n = li.next()
          if (!peeled.contains(n)) out += ((n, -1L))
        }
        out.iterator
      }.toDF("node_id", "layer")
      .select(col("node_id").cast(idType).as("node_id"), col("layer"))
  }

  /** Deterministic LUBY maximal-independent-set rounds: each round every
    * remaining node draws priority mixId(node_id·mul + round) and joins
    * the MIS iff its (priority, id) beats every remaining neighbor's —
    * local minima form an independent set by construction — then winners
    * and their neighborhoods leave the graph. The RNG-free priority makes
    * the result bit-identical in any engine (the oracle unrolls the same
    * rounds), while keeping Luby's O(log n) expected-round behavior
    * because mixId decorrelates adjacent ids.
    *
    * Scale posture: per round two hash joins of the remaining edge list
    * against the (node-sized) priority frame, one anti-join for winners,
    * and two semi-joins shrinking the edge list — every step keyed, no
    * global sort; the remaining graph shrinks geometrically (each edge's
    * lower-priority endpoint either wins or has a neighbor that does).
    * Round loop capped at `rounds` (the oracle unrolls exactly that many;
    * extra rounds after the graph drains are no-ops on both sides); the
    * node and edge sets each step through a [[graft.core.RoundState]].
    * Output (node_id, round) for every MIS member.
    */
  def lubyMis(edges: DataFrame, rounds: Int, prioMul: Long,
              scope: CacheScope = CacheScope.global): DataFrame =
    lubyRounds(edges, rounds, prioMul, removeNeighbors = true, scope)

  /** GRAPH COLORING by iterated MIS rounds (Jones–Plassmann shape): the
    * same deterministic priority race as [[lubyMis]], but each round
    * removes ONLY the winners — the round index becomes the node's
    * color. Within a round winners form an independent set, and a node's
    * neighbors that won earlier carry smaller colors, so the coloring is
    * proper. Colors are not minimal (that would need per-neighbor color
    * sets); this is the conflict-free-scheduling primitive, not an
    * optimizer. Output (node_id, round) — round IS the color.
    */
  def lubyColoring(edges: DataFrame, rounds: Int, prioMul: Long,
                   scope: CacheScope = CacheScope.global): DataFrame =
    lubyRounds(edges, rounds, prioMul, removeNeighbors = false, scope)

  private def lubyRounds(edges: DataFrame, rounds: Int, prioMul: Long,
                         removeNeighbors: Boolean,
                         scope: CacheScope): DataFrame = {
    val spark = edges.sparkSession
    val und = scope.persist(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    if (und.count() <= LocalSweepEdges &&
        integralId(edges.schema("src").dataType, edges.schema("dst").dataType))
      lubyRoundsLocal(und, rounds, prioMul, removeNeighbors,
        edges.schema("src").dataType)
    else lubyRoundsLoop(und, rounds, prioMul, removeNeighbors, scope)
  }

  /** Single-shard twin of [[lubyRoundsLoop]] for graphs under the
    * [[LocalSweepEdges]] budget: the same deterministic priority race
    * (p = mixId(node·prioMul + round), lose to a (p, id)-smaller
    * neighbor), simulated over an in-memory adjacency map in ONE task —
    * one job instead of ~5 shuffling stages per round. Bit-identical by
    * construction: [[graft.core.TextHash.mixId]] is the spec'd scalar
    * kernel of the Column mixId, and the win/removal rules are the
    * loop's, so the oracle's unrolled rounds see the same rows.
    */
  private def lubyRoundsLocal(und: DataFrame, rounds: Int, prioMul: Long,
                              removeNeighbors: Boolean,
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val sess = und.sparkSession
    import sess.implicits._
    und.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val adj = new java.util.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        def add(x: Long, y: Long): Unit =
          adj.computeIfAbsent(x,
            _ => new scala.collection.mutable.ArrayBuffer[Long]()) += y
        it.foreach { case (a, b) => add(a, b); add(b, a) }
        val active = new java.util.HashSet[Long](adj.keySet())
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var r = 0L
        while (r < rounds && !active.isEmpty) {
          r += 1
          def prio(n: Long): Long =
            graft.core.TextHash.mixId(n * prioMul + r)
          val win = new scala.collection.mutable.ArrayBuffer[Long]()
          val ai = active.iterator()
          while (ai.hasNext) {
            val n = ai.next(); val pa = prio(n)
            var lost = false
            val ns = adj.get(n); var i = 0
            while (!lost && i < ns.length) {
              val m = ns(i)
              if (active.contains(m)) {
                val pb = prio(m)
                if (pb < pa || (pb == pa && m < n)) lost = true
              }
              i += 1
            }
            if (!lost) { win += n; out += ((n, r)) }
          }
          win.foreach { n =>
            active.remove(n)
            if (removeNeighbors) adj.get(n).foreach(active.remove(_))
          }
        }
        out.iterator
      }.toDF("node_id", "round")
      .select(col("node_id").cast(idType).as("node_id"), col("round"))
  }

  /** The distributed round loop of [[lubyMis]]/[[lubyColoring]]
    * (spec-reachable directly; `und` must be the distinct undirected
    * a<b edge list).
    */
  private[graft] def lubyRoundsLoop(und: DataFrame, rounds: Int, prioMul: Long,
                                    removeNeighbors: Boolean,
                                    scope: CacheScope): DataFrame = {
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val remN = RoundState(sym.select(col("src").as("node_id")).distinct())
    val remE = RoundState(sym)
    var empty = remN.current.isEmpty
    // schema-typed empty seed so an edgeless input still returns a frame
    var out = List(
      remN.current.select(col("node_id"), lit(0L).as("round")).limit(0))
    var r = 0L
    while (r < rounds && !empty) {
      r += 1
      val prio = remN.current.withColumn("p",
        Fns.mixId(col("node_id") * lit(prioMul) + lit(r)))
      val lose = remE.current
        .join(prio.select(col("node_id").as("src"), col("p").as("pa")), "src")
        .join(prio.select(col("node_id").as("dst"), col("p").as("pb")), "dst")
        .filter(col("pb") < col("pa") ||
          (col("pb") === col("pa") && col("dst") < col("src")))
        .select(col("src").as("node_id")).distinct()
      val win = remN.current.join(lose, Seq("node_id"), "left_anti")
        .select(col("node_id"), lit(r).as("round")).persist()
      scope.track(win)
      out ::= rebase(win)
      val del =
        if (removeNeighbors) win.select("node_id").unionByName(
            remE.current.join(win.select(col("node_id").as("src")), "src")
              .select(col("dst").as("node_id"))).distinct()
        else win.select("node_id")
      // the node round steps first: the edge round reads the new node set
      empty = remN.step(remN.current.join(del, Seq("node_id"), "left_anti")) == 0
      val newN = remN.current
      remE.step(remE.current
        .join(newN.select(col("node_id").as("src")), "src")
        .join(newN.select(col("node_id").as("dst")), "dst")
        .select("src", "dst"))
    }
    remN.survivor(scope); remE.survivor(scope)
    out.reduce(_ unionByName _)
  }
}

package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.{
  backingRdd, fromInternalRows, localCheckpointHashPartitioned, sizedPartitionsFor}
import org.apache.spark.sql.types._

/** Connected components over an undirected edge list, by iterative
  * min-label propagation: every node's label converges to the minimum node
  * id reachable from it, which identifies its component.
  *
  * This is the cluster-resolution step behind document deduplication at
  * scale: near-dup PAIRS (from MinHash-LSH / SimHash / n-gram Jaccard,
  * `operators/Dedup`) must be folded into CLUSTERS so one canonical
  * document per cluster survives. The reference only ever drops exact
  * duplicates (ops/data_ingestion_ops.py:197); pair→cluster resolution is
  * a beyond-reference training-data operator.
  *
  * Execution shape: each round is one aggregation shuffle (min label over
  * neighbors) + one join; rounds needed = eccentricity of the min-id node
  * (≤ component diameter). Near-dup clusters are small and shallow, so
  * this converges in a handful of rounds even on 100 TB corpora. Lineage
  * is truncated per round with `localCheckpoint` so plans don't grow
  * exponentially (on a cluster, prefer `checkpoint` to HDFS for fault
  * tolerance across long chains).
  *
  * One-task path (all four recurrences: [[connectedComponents]],
  * [[labelPropagation]], [[pageRankInt]], [[hitsInt]]). Each operator
  * first checkpoints its deduplicated edge list and sizes it against the
  * session's advisory partition size (`sizedPartitionsFor`). When that
  * comes out at ONE partition, the distributed loop would run nothing but
  * one-task stages, each still a Spark job with its driver round trip, so
  * the operator instead replays the same synchronous rounds inside a
  * single task over that checkpoint and checkpoints the result once
  * ([[solveInOneTask]]). The replay is row for row the distributed result
  * on every input, converged or not: the same round bounds and
  * tie-breaks, the same handling of null endpoints (SQL equality never
  * matches null), and exact 64-bit arithmetic (`Math.*Exact`, as the
  * engine's ANSI SQL evaluates it, so an overflow fails both paths). The
  * gate reads the size the loop already measures, so nothing parallel is
  * lost and there is no option to set; each time it is taken the calling
  * scope's `graph_local_solves` counter ([[graft.core.QueryMetrics]])
  * adds 1. A graph measured at more than one partition runs the
  * distributed loop, the only path that scales past one task.
  */
object Graph {

  /** @param nodes  one column `idCol` — every node, including isolated ones
    * @param edges  undirected pairs (srcCol, dstCol); direction ignored
    * @return (id, comp) — comp = min node id in the component
    */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25
  ): DataFrame = {
    // materialize the (possibly expensive) edge source ONCE; its size
    // picks the path
    val s0 = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .localCheckpoint(true)
    val p = sizedPartitionsFor(s0)
    val idType = s0.schema("a").dataType
    val labels =
      if (p == 1 && solvableKey(idType)) {
        // schema of the distributed loop's labels, read off one lazy round
        val first = initialLabels(s0)
        val schema = (if (maxIter == 0) first else minLabelRound(s0, first).drop("_changed")).schema
        val out = solveInOneTask(s0, schema)(minLabelRounds(idType, maxIter))
        backingRdd(s0).foreach(_.unpersist(false))
        out
      } else {
        // keyed by its per-round join column b (round 16, guide §2.4 —
        // the pageRankInt device): the checkpoint would otherwise forget
        // its layout and every min-label round re-exchanged the same edge
        // bytes
        val sym = localCheckpointHashPartitioned(s0, p, "b")
        backingRdd(s0).foreach(_.unpersist(false))
        minLabelLoop(sym, maxIter)
      }

    val isolated = nodes
      .select(col(idCol).as("id"))
      .distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    labels.unionByName(isolated)
  }

  /** Every edge-touched node labelled with its own id. Iterate ONLY over
    * edge-touched nodes: in a dedup workload the overwhelming majority of
    * documents have no near-dup edge at all — they are their own
    * component by definition and never need to enter the loop. This keeps
    * every round's shuffle proportional to the edge subgraph, not the
    * corpus. */
  private def initialLabels(sym: DataFrame): DataFrame =
    sym.select(col("a").as("id")).distinct().withColumn("comp", col("id"))

  /** One min-label round: each node takes the least label over itself
    * and its neighbors; `_changed` marks the nodes whose label fell. */
  private def minLabelRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = sym
      .join(labels, sym("b") === labels("id"))
      .groupBy(col("a"))
      .agg(min("comp").as("ncomp"))
    labels
      .join(neighborMin, labels("id") === neighborMin("a"), "left")
      .select(
        col("id"),
        least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
        (col("ncomp") < col("comp")).as("_changed")
      )
  }

  /** The distributed min-label loop over the keyed symmetric edge frame:
    * one eager checkpoint job per round, until a round changes no label
    * or `maxIter` rounds ran. */
  private def minLabelLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = initialLabels(sym).localCheckpoint(true)
    // each round's eager checkpoint supersedes the previous round's blocks;
    // release them deterministically rather than waiting for the
    // ContextCleaner to notice the GC'd Dataset (a long bench/driver
    // session would otherwise accumulate one block set per round per run)
    // prevCp is always the checkpointed frame whose blocks back `labels`
    // (labels itself may be a projection over it); the final round's
    // checkpoint must stay persisted — the returned frame reads from it
    // and a local checkpoint cannot be recomputed.
    var prevCp: DataFrame = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // the round's checkpoint job also counts its changed rows (an
      // observed metric: Spark's accumulator-backed CollectMetrics), where
      // a separate filter(_changed).limit(1).count() cost two more jobs a
      // round; the loop needs only "did any label change", which a
      // retried task's double count cannot flip
      val changed = Observation()
      val updated = minLabelRound(sym, labels)
        .observe(changed, count_if(col("_changed")).as("n"))
        .localCheckpoint(true)
      converged = changed.get("n") == 0L
      backingRdd(prevCp).foreach(_.unpersist(false))
      prevCp = updated
      labels = updated.drop("_changed")
      iter += 1
    }
    backingRdd(sym).foreach(_.unpersist(false))
    labels
  }

  /** Edge-list-only connected components — API symmetry with
    * [[labelPropagation]]'s optional `isolated`: without it the result
    * covers exactly the edge-touched nodes (a node that appears in no
    * pair can't appear in an edge list, so callers who need the full
    * universe must say so); with it, nodes present in `isolated` but
    * absent from the edge list are unioned back as their own singleton
    * components, so downstream joins see the whole corpus instead of a
    * silently shrunken one. */
  def connectedComponentsFromEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      isolated: Option[DataFrame] = None,
      isolatedCol: String = "id"
  ): DataFrame = {
    // the nodes-frame variant unions back (nodes ∖ edge-touched); an empty
    // universe makes that union a no-op, and Some(n) reproduces it exactly
    val universe = isolated.getOrElse(
      edges.select(col(srcCol).as(isolatedCol)).limit(0))
    connectedComponents(universe, edges, isolatedCol, srcCol, dstCol, maxIter)
  }

  /** PageRank with INTEGER arithmetic — damping 0.85, fixed iteration
    * count, every quantity a BIGINT in units of `scale` (= 1.0). Using
    * floor division (`div`) for both the per-edge contribution
    * (rank div outdeg) and the damping step keeps every intermediate
    * exactly representable and ORDER-INDEPENDENT: integer sums commute,
    * so any engine, any partitioning, any merge order produces the
    * bit-identical rank vector — a float PageRank cannot be
    * hash-compared across engines, an integer one can.
    *
    * Execution shape per iteration: one equi-join of the edge list with
    * the current ranks on src (shuffle on node id), one groupBy(dst)
    * aggregation, one left join back onto the node set — all
    * key-partitioned, nothing proportional to |V|², lineage truncated
    * per round exactly like [[connectedComponents]]. Dangling nodes
    * (no out-edges) simply stop contributing by default — the standard
    * simplification; `redistributeDangling = true` instead spreads their
    * rank mass uniformly each round (the canonical teleport-to-all
    * treatment): one extra 1-row aggregate per round — the dangling-rank
    * sum, floor-divided by |V| into an integer per-node share that joins
    * the damped term — broadcast back over the node set. The share is
    * identical for every node and integer sums commute, so the variant
    * stays order-independent and hash-exact. Because each round then
    * reads the previous ranks TWICE (contributions + dangling sum), the
    * rank frame is checkpointed per round (the [[connectedComponents]]
    * device) instead of composing lazily — redistribution trades the
    * single-job plan for mass conservation: total rank stays within
    * 2·|V| floor-loss units of |V|·scale per round instead of bleeding
    * the full dangling mass (Wave9Spec pins both properties). Either mode
    * takes the one-task path (see [[Graph]]) when the distinct edge
    * checkpoint sizes to one partition: all rounds in one task, one
    * checkpoint of the ranks.
    *
    * Overflow headroom: the largest intermediate is 85 × Σ contributions
    * into one node, bounded by 85 · |V| · scale (total rank mass never
    * grows — damping only shrinks it). With the default scale = 1e9 that
    * stays inside Long up to |V| ≈ 1e8 nodes; for larger graphs pass a
    * smaller `scale` (1e6 keeps exactness to a millionth of a rank unit
    * and headroom to |V| ≈ 1e11).
    *
    * @param edges directed (srcCol, dstCol); duplicates collapsed
    * @return (node, rank) — rank in units of `scale` after `iterations`
    *         rounds from a uniform start of 1.0·scale per node
    */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      scale: Long = 1000000000L,
      redistributeDangling: Boolean = false
  ): DataFrame = {
    // Loop-static frames carry a DECLARED hash partitioning on their join
    // key (round 16, guide §2.4): a plain localCheckpoint forgets its
    // layout (UnknownPartitioning), so every one of the `iterations`
    // rounds re-exchanged the SAME edge and node bytes — 3 exchanges per
    // round in the r15 plan. With ed keyed by src and nodes by node, the
    // per-round join reads both sides in place and each round's only
    // exchange is the contribution aggregate (the irreducible shuffle of
    // the recurrence). The SHARED partition count is sized from the
    // materialized edge bytes against the session's advisory partition
    // size (the target AQE coalesces toward) — a bench-scale graph runs
    // single-wave stages, a 100 TB graph saturates the configured
    // parallelism; a conf constant would be wrong at one end or the other.
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val p = sizedPartitionsFor(e)
    val nodesRaw = nodesOf(e)
    // out-degree attached to each edge ONCE, eagerly: inside the lazy
    // iteration plan the deg aggregate and its join would otherwise be
    // REPLAYED per round (5 redundant shuffles of the edge list) — the
    // degree never changes, so it rides the checkpointed edge frame.
    // Declared-layout checkpoints only pay off on the dangling path,
    // whose per-round materialization re-reads both frames; the lazy
    // path's joins align to the aggregate exchange's partition count
    // anyway (probed round 16: declaring there ADDED jobs, 23 → 30).
    val edRaw = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val base = 15L * scale / 100L
    def danglingOf(nodes: DataFrame, ed: DataFrame): DataFrame =
      nodes.join(ed.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")

    // One round: contributions summed per dst, damped onto every node;
    // with `dangling` = (dangling node set, |V|) the dangling-rank sum,
    // floor-shared over |V|, joins the damped term as a 1-row broadcast.
    def round(ed: DataFrame, nodes: DataFrame, dangling: Option[(DataFrame, Long)])(
        ranks: DataFrame): DataFrame = {
      val contrib = ed
        .join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("contrib"))
      val joined = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
      dangling match {
        case None =>
          joined.select(
            col("node"),
            expr(s"${base}L + (85 * coalesce(contrib, 0L)) div 100").as("rank"))
        case Some((dang, nV)) =>
          val dShare = ranks
            .join(dang, Seq("node"))
            .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
            .select(expr(s"dsum div ${nV}L").as("dshare"))
          joined.crossJoin(broadcast(dShare)).select(
            col("node"),
            expr(s"${base}L + (85 * (coalesce(contrib, 0L) + dshare)) div 100").as("rank"))
      }
    }

    if (p == 1) {
      // schema of the distributed ranks, read off one lazy round
      val first = nodesRaw.withColumn("rank", lit(scale))
      val schema = (if (iterations == 0) first else round(edRaw, nodesRaw,
        if (redistributeDangling) Some((danglingOf(nodesRaw, edRaw), 1L)) else None)(first)).schema
      val out = solveInOneTask(e, schema)(
        rankRounds(iterations, scale, base, redistributeDangling))
      backingRdd(e).foreach(_.unpersist(false))
      out
    } else {
      val (nodes, ed) =
        if (redistributeDangling)
          (localCheckpointHashPartitioned(nodesRaw, p, "node"),
            localCheckpointHashPartitioned(edRaw, p, "src"))
        else (nodesRaw.localCheckpoint(true), edRaw.localCheckpoint(true))
      // both readers of `e` (nodes, ed) are now eagerly materialized — its
      // |E|-row blocks would otherwise stay pinned for the session,
      // doubling the operator's resident footprint for no reader
      backingRdd(e).foreach(_.unpersist(false))

      // Unlike connectedComponents (unbounded rounds, convergence check per
      // round), the iteration count here is FIXED and small, so the rounds
      // compose into ONE lazy plan with no per-round materialization
      // barrier: the only checkpoints are the shared edge/node frames above,
      // and Catalyst plans all `iterations` shuffle rounds in a single job.
      // For large iteration counts (>~10) a periodic checkpoint would bound
      // plan growth; at the analytic 5-20 range this is measurably faster
      // (no 5x blocking materialization of the |V|-row rank frame).
      if (!redistributeDangling) {
        var ranks = nodes.withColumn("rank", lit(scale))
        for (_ <- 1 to iterations) ranks = round(ed, nodes, None)(ranks)
        // ed/nodes checkpoint blocks MUST stay persisted: the returned lazy
        // plan re-reads both on every action (they are the loop's shared
        // inputs).
        ranks
      } else {
        // dangling node set (no out-edges) is static: checkpoint once,
        // keyed like nodes so the per-round dangling-mass join reads it
        // in place
        val dangling = localCheckpointHashPartitioned(danglingOf(nodes, ed), p, "node")
        // |V| as a plain long: nodes is already materialized, the count is a
        // cheap cached-block job; max(,1) keeps the share's floor division
        // defined on a degenerate empty edge list (every frame is empty then)
        val nV = math.max(nodes.count(), 1L)
        // each round reads the previous ranks twice (contrib + dangling
        // sum): without a per-round checkpoint the lazy plan would double
        // per iteration (2^rounds subplan executions)
        var ranks = nodes.withColumn("rank", lit(scale)).localCheckpoint(true)
        var prevCp = ranks
        for (_ <- 1 to iterations) {
          ranks = round(ed, nodes, Some((dangling, nV)))(ranks).localCheckpoint(true)
          backingRdd(prevCp).foreach(_.unpersist(false))
          prevCp = ranks
        }
        // unlike the lazy path, every round was materialized, so the shared
        // inputs are no longer read by the returned frame — release them;
        // the final round's checkpoint backs the result and stays persisted
        Seq(nodes, ed, dangling).foreach(backingRdd(_).foreach(_.unpersist(false)))
        ranks
      }
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection — each round every node adopts the MOST FREQUENT label
    * among its in-neighbors, ties to the smallest label. Unlike
    * [[connectedComponents]] (which converges to one label per connected
    * component), LP stops after a fixed round count and the surviving
    * labels partition dense regions into communities.
    *
    * Determinism: synchronous rounds (all updates read the previous
    * round's labels) + the (count DESC, label ASC) tie-break make the
    * result a pure function of the graph — integer labels, no RNG, no
    * arrival-order sensitivity — so an oracle can replay the rounds
    * exactly. The classic asynchronous LP is order-dependent by design;
    * this is the reproducible variant a data pipeline needs.
    *
    * Per round: one edge⋈labels equi join, ONE per-dst aggregate —
    * Spark's `mode(label, deterministic = true)`, whose tie-break
    * (greatest count, then SMALLEST value) is exactly this operator's
    * (count DESC, label ASC); its ObjectHashAggregate state is a
    * per-partition label→count map, so the per-label count reduce that
    * used to be a separate exchange now happens inside the aggregate's
    * partial step and each round pays one agg exchange instead of two
    * (round 8: g2's plan dropped 14 → 11 exchanges, results
    * hash-identical) — then one union with
    * the static no-in-edge label frame — all key-partitioned. Labels seed from
    * src ∪ dst and every edge-touched node keeps a row (and keeps
    * VOTING) in every round — canonical synchronous LP on non-symmetric
    * graphs: a node with out-edges but no in-edges never receives a
    * vote, so its label provably stays its own id forever; the carry-
    * forward is therefore a STATIC checkpointed frame unioned into each
    * round, not a per-round left join — `labels` stays single-referenced
    * and the fixed small round count composes lazily into one
    * linear-size plan (the [[pageRankInt]] pattern; a per-round
    * carry-forward join would reference `labels` twice and double the
    * plan each round). On a symmetric edge list the static frame is
    * empty and the result is unchanged. Nodes with no edges at all
    * can't appear in an edge list; pass them via `isolated` to union
    * them back as their own singleton communities. When the distinct edge
    * checkpoint sizes to one partition, all rounds run in one task
    * instead (the one-task path, see [[Graph]]).
    *
    * @param isolated optional node set (column `isolatedCol`); nodes in
    *                 it but absent from the edge list are appended with
    *                 community = own id, so downstream joins see the
    *                 full node universe instead of a silently shrunken
    *                 one
    * @return (node, community) after `iterations` rounds from
    *         community(v) = v
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4,
      isolated: Option[DataFrame] = None,
      isolatedCol: String = "node"
  ): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val p = sizedPartitionsFor(e0)
    // nodes with no in-edges: never voted on, label pinned to own id
    def noInOf(e: DataFrame, allNodes: DataFrame): DataFrame = allNodes
      .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_anti")
      .withColumn("label", col("node"))
    // top-1 label per dst in ONE aggregate: mode(deterministic = true)
    // returns the most frequent label, ties to the SMALLEST — the same
    // (count DESC, label ASC) winner the two-stage count+argmax picked,
    // with the per-label counting folded into the aggregate's map-side
    // partial state instead of its own exchange
    def round(e: DataFrame, noIn: DataFrame)(labels: DataFrame): DataFrame = e
      .join(labels, e("src") === labels("node"))
      .groupBy(col("dst"))
      .agg(mode(col("label"), deterministic = true).as("label"))
      .select(col("dst").as("node"), col("label"))
      .unionByName(noIn)
    def named(labels: DataFrame) = labels.select(col("node"), col("label").as("community"))

    val (communities, allNodes) =
      if (p == 1) {
        // the node set stays a lazy read of e0 — only the isolated
        // anti-join below probes it, and then e0 stays persisted for it
        val allNodes = nodesOf(e0)
        val first = allNodes.withColumn("label", col("node"))
        val schema = named(if (iterations == 0) first else round(e0, noInOf(e0, allNodes))(first)).schema
        val out = solveInOneTask(e0, schema)(majorityRounds(iterations))
        if (isolated.isEmpty) backingRdd(e0).foreach(_.unpersist(false))
        (out, allNodes)
      } else {
        // edge frame keyed by src, its per-round join key (round 16, guide
        // §2.4 — the pageRankInt device): the plain checkpoint's forgotten
        // layout re-exchanged the same edges every round. The labels side
        // is a per-round union (agg output ∪ noIn) with no stable layout —
        // its exchange is the recurrence's irreducible shuffle.
        val e = localCheckpointHashPartitioned(e0, p, "src")
        backingRdd(e0).foreach(_.unpersist(false))
        val allNodes = nodesOf(e).localCheckpoint(true)
        val noIn = noInOf(e, allNodes).localCheckpoint(true)
        var labels = allNodes.withColumn("label", col("node"))
        for (_ <- 1 to iterations) labels = round(e, noIn)(labels)
        (named(labels), allNodes)
      }
    isolated match {
      case None => communities
      case Some(n) =>
        // every round's output node set equals allNodes by construction
        // (dst-grouped rows ∪ the noIn carry-forward), so the anti-join
        // probes the CHECKPOINTED node frame — probing `communities`
        // would embed the n-round LP plan twice and execute every
        // shuffle round a second time per action
        val extra = n.select(col(isolatedCol).cast("long").as("node")).distinct()
          .join(allNodes, Seq("node"), "left_anti")
          .withColumn("community", col("node"))
        communities.unionByName(extra)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) in INTEGER arithmetic — the
    * link-analysis complement to [[pageRankInt]]: PageRank scores global
    * importance under a random surfer, HITS separates POINTING well
    * (hubs) from BEING POINTED AT well (authorities) — on a bipartite
    * buyer→supplier graph that is "who buys broadly" vs "who is bought
    * from broadly", two different questions one rank cannot answer.
    *
    * Recurrence per round, all in 64-bit integers so an ANSI oracle can
    * replay it bit-for-bit (the [[pageRankInt]] exactness argument):
    *   a'(v) = Σ_{(u,v)∈E} h(u);  a(v) = a'(v)·scale div max(Σa' div |V|, 1)
    *   h'(u) = Σ_{(u,v)∈E} a(v);  h(u) = h'(u)·scale div max(Σh' div |V|, 1)
    * The normalization (mean-to-scale, floor division) replaces the
    * real-valued L2 step: it keeps total mass ≈ |V|·scale each
    * half-round, which both bounds the integers and preserves the
    * RANKING (HITS scores are ratio-scale; any positive normalizer
    * yields the same order). Overflow headroom: a'(v) ≤ Σh ≈ |V|·scale,
    * so the normalize multiply is bounded by |V|·scale² — with the
    * default scale 10⁶ that stays inside a signed 64-bit long up to
    * |V| ≈ 9·10⁶; for bigger graphs shrink `scale` (the ranking is
    * scale-invariant down to rounding).
    *
    * Plan shape: per round two edge⋈scores equi joins + two per-node
    * aggregates + two 1-row broadcast normalizers. Score frames stay
    * SPARSE through the rounds (only nodes that received mass carry a
    * row — an absent row is exactly a zero row, and zero mass
    * normalizes to zero), so each half-round checkpoints ONE aggregated
    * frame, read twice (its normalizer and its successor); the
    * previous half-round's blocks are explicitly released — the
    * [[pageRankInt]] redistributeDangling pattern. The full node spine
    * joins back once in the epilogue (coalesce 0). Unlike
    * [[pageRankInt]], sparsity is exact here because the recurrence has
    * no additive base term — PageRank's `base + damped·contrib` needs
    * every node's row each round (floor division does not distribute
    * over the sum), HITS's pure `Σ then normalize` does not. When the
    * distinct edge checkpoint sizes to one partition, all half-rounds run
    * in one task instead (the one-task path, see [[Graph]]).
    *
    * @return (node, hub, auth) after `iterations` rounds from
    *         h₀(v) = scale
    */
  def hitsInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      scale: Long = 1000000L
  ): DataFrame = {
    // iterations=0 would return the initial (never-checkpointed) auth
    // frame while the epilogue releases checkpoints it still
    // references — any later action would fail on missing blocks
    require(iterations >= 1, s"hitsInt needs iterations >= 1, got $iterations")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val p = sizedPartitionsFor(e)
    if (p == 1) {
      // the epilogue's (node, coalesce(hub, 0), coalesce(auth, 0))
      val schema = nodesOf(e).schema
        .add("hub", LongType, nullable = false).add("auth", LongType, nullable = false)
      val out = solveInOneTask(e, schema)(hubAuthRounds(iterations, scale))
      backingRdd(e).foreach(_.unpersist(false))
      out
    } else {
      // Edge list checkpointed TWICE with a declared layout (round 16,
      // guide §2.4): the auth half joins on src, the hub half on dst, and
      // the plain checkpoint's UnknownPartitioning made every half-round
      // re-exchange the same edges — 2 edge exchanges per round. Keyed
      // copies cost two exchanges once; every half-round join then reads
      // its edge side in place. nodes keyed likewise: it seeds the dense
      // initial hub frame (so round 1's src join needs no exchange at all)
      // and the epilogue spine joins. Shared partition count sized from
      // the materialized edge bytes (see pageRankInt).
      val eBySrc = localCheckpointHashPartitioned(e, p, "src")
      val eByDst = localCheckpointHashPartitioned(e, p, "dst")
      val nodes = localCheckpointHashPartitioned(nodesOf(e), p, "node")
      // both keyed copies and nodes are materialized; the raw edge blocks
      // have no reader left
      backingRdd(e).foreach(_.unpersist(false))
      val nV = math.max(nodes.count(), 1L)

      // SPARSE half-round (round 15 — the attribution in BASELINE.md "Round
      // 15: graph family" put the old per-iteration 1.08 s, 1.7× pageRank's
      // on half the edges, on the dense normalize: a node-spine left join + TWO checkpoints + a
      // separate 1-row agg job per half-round). A node absent from the
      // aggregated raw frame has mass exactly 0, and 0·scale div norm = 0,
      // so the zero rows the spine used to add are value-free: carry only
      // the contributed rows, checkpoint ONCE, and let the mean-to-scale
      // normalizer ride the consumer's plan as a broadcast 1-row subquery.
      // The spine joins back ONCE in the epilogue (coalesce 0), restoring
      // the dense frame bit-for-bit — the g3 oracle replay is unchanged.
      // The normalizer itself is spine-free too: the spine's zeros never
      // moved the sum, so Σ over sparse == Σ over dense.
      def half(raw: DataFrame, massCol: String, outCol: String): (DataFrame, DataFrame) = {
        val cp = raw.localCheckpoint(true)
        val norm = cp
          .agg(greatest(expr(s"coalesce(sum($massCol), 0L) div ${nV}L"), lit(1L)).as("norm"))
        val out = cp
          .crossJoin(broadcast(norm))
          .select(col("node"), expr(s"($massCol * ${scale}L) div norm").as(outCol))
        (out, cp)
      }

      // initial hub: every node at `scale` — dense by definition, rides
      // the already-checkpointed node spine lazily (single reader below)
      var hub = nodes.withColumn("hub", lit(scale))
      var auth: DataFrame = null
      var hubCp: DataFrame = null
      var authCp: DataFrame = null
      for (i <- 1 to iterations) {
        val (a, aCp) = half(
          eBySrc.join(hub, eBySrc("src") === hub("node"))
            .groupBy(col("dst").as("node")).agg(sum("hub").as("am")),
          "am", "auth")
        // aCp just materialized, so hub_{i-1}'s backing has no reader left
        if (hubCp != null) backingRdd(hubCp).foreach(_.unpersist(false))
        auth = a
        val (h, hCp) = half(
          eByDst.join(auth, eByDst("dst") === auth("node"))
            .groupBy(col("src").as("node")).agg(sum("auth").as("hm")),
          "hm", "hub")
        // auth_i's last reader was the hub half — except the final round's
        // auth, which the epilogue join still reads
        if (i < iterations) backingRdd(aCp).foreach(_.unpersist(false))
        else authCp = aCp
        hub = h
        hubCp = hCp
      }
      // restore the node spine once: absent == 0 for both scores. The
      // final raw checkpoints (hubCp/authCp) and `nodes` back the returned
      // plan and stay persisted; both keyed edge copies are fully consumed.
      val out = nodes
        .join(hub, Seq("node"), "left")
        .join(auth, Seq("node"), "left")
        .select(
          col("node"),
          coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))
      Seq(eBySrc, eByDst).foreach(backingRdd(_).foreach(_.unpersist(false)))
      out
    }
  }

  /** Canonical-document selection: one keeper per component, largest
    * `weightCol` first, ties broken by smallest id — the "keep the longest
    * document in each near-dup cluster" policy. */
  def keepersByWeight(
      components: DataFrame, // (id, comp)
      docs: DataFrame,
      idCol: String,
      weightCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = components.join(docs.select(col(idCol).as("id"), col(weightCol)), Seq("id"))
    val w = Window.partitionBy("comp").orderBy(col(weightCol).desc, col("id"))
    joined
      .select(
        col("comp").as("cluster_id"),
        col("id"),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(Window.partitionBy("comp")).as("cluster_size")
      )
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col("id").as("keep_doc_id"), col("cluster_size"))
  }

  /** Distinct endpoints of a (src, dst) frame as one `node` column. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node"))).distinct()

  /** Runs `solve` over every row of the checkpoint `cp` inside ONE task
    * (`coalesce(1)` without a shuffle when `cp` has more than one
    * partition) and checkpoints its rows eagerly under `schema`: one
    * Spark job for all of a recurrence's rounds. Counted as one
    * `graph_local_solves` in the calling scope. */
  private def solveInOneTask(cp: DataFrame, schema: StructType)(
      solve: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val spark = cp.sparkSession
    graft.core.QueryMetrics.count(spark.sparkContext, "graph_local_solves")
    // the scan reuses one row buffer; the solvers keep what they read
    val rows = cp.queryExecution.toRdd.coalesce(1).mapPartitions(it => solve(it.map(_.copy())))
    fromInternalRows(spark, rows, schema).localCheckpoint(true)
  }

  /** Id types whose Catalyst values hash, compare equal and order in the
    * solver exactly as Spark's join keys and `min` do; connected
    * components over any other id type keeps the distributed loop. */
  private def solvableKey(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
        TimestampNTZType => true
    case s: StringType => s.collationId == StringType.collationId // UTF8_BINARY: byte order
    case _ => false
  }

  /** A solver's view of a checkpointed (src, dst) edge list: endpoint
    * values indexed densely in first-seen order, index `n` standing for a
    * null endpoint. SQL equality never matches null, so a null endpoint
    * joins nothing, yet it forms its own group and its own node row. */
  private final class EdgeIndex(rows: Iterator[InternalRow], dt: DataType) {
    private val index = mutable.HashMap.empty[Any, Int]
    private val values = mutable.ArrayBuffer.empty[Any]
    var hasNull = false
    private def id(r: InternalRow, i: Int): Int =
      if (r.isNullAt(i)) { hasNull = true; -1 }
      else {
        val v = r.get(i, dt)
        index.getOrElseUpdate(v, { values += v; values.size - 1 })
      }
    private val ends = {
      val (s, d) = (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
      rows.foreach { r => s += id(r, 0); d += id(r, 1) }
      (s.result(), d.result())
    }
    val n: Int = values.size
    val src: Array[Int] = ends._1.map(i => if (i < 0) n else i)
    val dst: Array[Int] = ends._2.map(i => if (i < 0) n else i)
    def value(i: Int): Any = values(i)
    def long(i: Int): Long = values(i).asInstanceOf[Long]
    /** Distinct node rows, the null node included: `count()` of the
      * distributed node frame. */
    def nodeRows: Long = n + (if (hasNull) 1L else 0L)
  }

  /** [[connectedComponents]]' rounds over the symmetric (a, b) rows:
    * labels are ranks of the ids under Spark's ordering, so the least rank
    * is the least id; rounds stop when none changes or after `maxIter`. */
  private def minLabelRounds(dt: DataType, maxIter: Int)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val g = new EdgeIndex(rows, dt)
    val n = g.n
    val byRank = (0 until n).sortBy(g.value)(TypeUtils.getInterpretedOrdering(dt)).toArray
    var comp = new Array[Int](n)
    byRank.indices.foreach(r => comp(byRank(r)) = r)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val next = comp.clone()
      for (k <- g.src.indices) {
        val (a, b) = (g.src(k), g.dst(k))
        if (a < n && b < n && comp(b) < next(a)) next(a) = comp(b)
      }
      changed = !java.util.Arrays.equals(comp, next)
      comp = next
      iter += 1
    }
    Iterator.tabulate(n)(v => InternalRow(g.value(v), g.value(byRank(comp(v))))) ++
      Iterator.fill(if (g.hasNull) 1 else 0)(InternalRow(null, null))
  }

  /** [[labelPropagation]]'s rounds. A node keeps a row in a round when it
    * received a vote or has no in-edge at all (pinned to its own id);
    * the null dst group votes like any other and the null node carries its
    * own row, so the null id can hold two rows, as in the distributed
    * union. */
  private def majorityRounds(iterations: Int)(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val g = new EdgeIndex(rows, LongType)
    val n = g.n
    val id = Array.tabulate(n)(g.long)
    val hasIn = new Array[Boolean](n + 1)
    g.dst.foreach(hasIn(_) = true)
    // voters per dst (index n: the null group); a null source joins no label
    val voters = g.src.indices.filter(g.src(_) < n).groupBy(g.dst(_)).map {
      case (d, ks) => d -> ks.map(g.src(_)).toArray }
    var label = id.clone()
    var present = Array.fill(n)(true)
    val nullNode: List[Any] = if (g.hasNull) List(null) else Nil
    var nullLabels = nullNode
    for (_ <- 1 to iterations) {
      val next = new Array[Long](n)
      val nextPresent = new Array[Boolean](n)
      var nullGroup: List[Any] = Nil
      for ((d, srcs) <- voters) {
        val votes = srcs.filter(present(_)).map(label(_)).sorted
        if (votes.nonEmpty) {
          val m = modeOfSorted(votes)
          if (d < n) { next(d) = m; nextPresent(d) = true } else nullGroup = List(m)
        }
      }
      for (v <- 0 until n if !hasIn(v)) { next(v) = id(v); nextPresent(v) = true }
      label = next
      present = nextPresent
      nullLabels = nullGroup ++ nullNode
    }
    (0 until n).iterator.filter(present(_)).map(v => InternalRow(id(v), label(v))) ++
      nullLabels.iterator.map(l => InternalRow(null, l))
  }

  /** The most frequent value of an ascending array, ties to the smallest:
    * Spark's `mode(x, deterministic = true)`. */
  private def modeOfSorted(xs: Array[Long]): Long = {
    var (best, bestN, i) = (xs(0), 0, 0)
    while (i < xs.length) {
      var j = i
      while (j < xs.length && xs(j) == xs(i)) j += 1
      if (j - i > bestN) { best = xs(i); bestN = j - i }
      i = j
    }
    best
  }

  /** [[pageRankInt]]'s rounds. Out-degree counts every distinct edge of a
    * source, a null dst included; the dangling share sums the non-null
    * dangling nodes over |V| node rows (the null node included). */
  private def rankRounds(iterations: Int, scale: Long, base: Long, redistribute: Boolean)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    import Math.{addExact => add, multiplyExact => mul}
    val g = new EdgeIndex(rows, LongType)
    val n = g.n
    val outdeg = new Array[Long](n)
    g.src.foreach(s => if (s < n) outdeg(s) += 1)
    val nV = math.max(g.nodeRows, 1L)
    var rank = Array.fill(n)(scale)
    var nullRank = scale
    for (_ <- 1 to iterations) {
      val contrib = new Array[Long](n)
      for (k <- g.src.indices) {
        val (s, d) = (g.src(k), g.dst(k))
        if (s < n && d < n) contrib(d) = add(contrib(d), rank(s) / outdeg(s))
      }
      val dshare =
        if (!redistribute) 0L
        else (0 until n).filter(outdeg(_) == 0).foldLeft(0L)((acc, v) => add(acc, rank(v))) / nV
      rank = Array.tabulate(n)(v => add(base, mul(85L, add(contrib(v), dshare)) / 100L))
      nullRank = add(base, mul(85L, dshare) / 100L)
    }
    Iterator.tabulate(n)(v => InternalRow(g.long(v), rank(v))) ++
      Iterator.fill(if (g.hasNull) 1 else 0)(InternalRow(null, nullRank))
  }

  /** [[hitsInt]]'s rounds on dense score arrays (an absent row is a zero
    * row). A null endpoint's group still adds its mass to the half-round's
    * normalizer, while its own score is never read. */
  private def hubAuthRounds(iterations: Int, scale: Long)(
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    import Math.{addExact => add, multiplyExact => mul}
    val g = new EdgeIndex(rows, LongType)
    val n = g.n
    val nV = math.max(g.nodeRows, 1L)
    // mass summed into `to` over the edges whose `from` end joins a score
    def half(from: Array[Int], to: Array[Int], score: Array[Long]): Array[Long] = {
      val mass = new Array[Long](n + 1)
      for (k <- from.indices if from(k) < n) mass(to(k)) = add(mass(to(k)), score(from(k)))
      val norm = math.max(mass.foldLeft(0L)(add) / nV, 1L)
      Array.tabulate(n)(v => mul(mass(v), scale) / norm)
    }
    var hub = Array.fill(n)(scale)
    var auth = new Array[Long](n)
    for (_ <- 1 to iterations) {
      auth = half(g.src, g.dst, hub)
      hub = half(g.dst, g.src, auth)
    }
    Iterator.tabulate(n)(v => InternalRow(g.long(v), hub(v), auth(v))) ++
      Iterator.fill(if (g.hasNull) 1 else 0)(InternalRow(null, 0L, 0L))
  }
}

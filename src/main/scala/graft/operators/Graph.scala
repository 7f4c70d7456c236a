package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
    // materialize the (possibly expensive) edge source ONCE, keyed by its
    // per-round join column b (round 16, guide §2.4 — the pageRankInt
    // device): the checkpoint would otherwise forget its layout and every
    // min-label round re-exchanged the same edge bytes. Partition count
    // sized from the materialized bytes (see pageRankInt).
    val sym = {
      import org.apache.spark.sql.graftbridge.CheckpointBridge._
      val s0 = edges
        .select(col(srcCol).as("a"), col(dstCol).as("b"))
        .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .distinct()
        .localCheckpoint(true)
      val s = localCheckpointHashPartitioned(s0, sizedPartitionsFor(s0), "b")
      backingRdd(s0).foreach(_.unpersist(false))
      s
    }

    // Iterate ONLY over edge-touched nodes: in a dedup workload the
    // overwhelming majority of documents have no near-dup edge at all —
    // they are their own component by definition and never need to enter
    // the loop. This keeps every round's shuffle proportional to the edge
    // subgraph, not the corpus.
    var labels = sym
      .select(col("a").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)

    import org.apache.spark.sql.graftbridge.CheckpointBridge.backingRdd
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
      // min label over each node's neighborhood
      val neighborMin = sym
        .join(labels, sym("b") === labels("id"))
        .groupBy(col("a"))
        .agg(min("comp").as("ncomp"))
      val updated = labels
        .join(neighborMin, labels("id") === neighborMin("a"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (col("ncomp") < col("comp")).as("_changed")
        )
        .localCheckpoint(true)
      converged = updated.filter(col("_changed")).limit(1).count() == 0
      backingRdd(prevCp).foreach(_.unpersist(false))
      prevCp = updated
      labels = updated.drop("_changed")
      iter += 1
    }
    backingRdd(sym).foreach(_.unpersist(false))

    val isolated = nodes
      .select(col(idCol).as("id"))
      .distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    labels.unionByName(isolated)
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
    * the full dangling mass (Wave9Spec pins both properties).
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
    import org.apache.spark.sql.graftbridge.CheckpointBridge.{
      localCheckpointHashPartitioned, sizedPartitionsFor}
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val p = sizedPartitionsFor(e)
    val nodesRaw = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    // out-degree attached to each edge ONCE, eagerly: inside the lazy
    // iteration plan the deg aggregate and its join would otherwise be
    // REPLAYED per round (5 redundant shuffles of the edge list) — the
    // degree never changes, so it rides the checkpointed edge frame.
    // Declared-layout checkpoints only pay off on the dangling path,
    // whose per-round materialization re-reads both frames; the lazy
    // path's joins align to the aggregate exchange's partition count
    // anyway (probed round 16: declaring there ADDED jobs, 23 → 30).
    val edRaw = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    val (nodes, ed) =
      if (redistributeDangling)
        (localCheckpointHashPartitioned(nodesRaw, p, "node"),
          localCheckpointHashPartitioned(edRaw, p, "src"))
      else (nodesRaw.localCheckpoint(true), edRaw.localCheckpoint(true))
    // both readers of `e` (nodes, ed) are now eagerly materialized — its
    // |E|-row blocks would otherwise stay pinned for the session,
    // doubling the operator's resident footprint for no reader
    import org.apache.spark.sql.graftbridge.CheckpointBridge.backingRdd
    backingRdd(e).foreach(_.unpersist(false))
    val base = 15L * scale / 100L

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
      for (_ <- 1 to iterations) {
        val contrib = ed
          .join(ranks, ed("src") === ranks("node"))
          .select(col("dst"), expr("rank div outdeg").as("c"))
          .groupBy("dst")
          .agg(sum(col("c")).as("contrib"))
        ranks = nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .select(
            col("node"),
            expr(s"${base}L + (85 * coalesce(contrib, 0L)) div 100").as("rank"))
      }
      // ed/nodes checkpoint blocks MUST stay persisted: the returned lazy
      // plan re-reads both on every action (they are the loop's shared
      // inputs).
      ranks
    } else {
      // dangling node set (no out-edges) is static: checkpoint once,
      // keyed like nodes so the per-round dangling-mass join reads it
      // in place
      val dangling = localCheckpointHashPartitioned(
        nodes.join(ed.select(col("src").as("node")).distinct(), Seq("node"), "left_anti"),
        p, "node")
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
        // total dangling mass this round -> identical integer share per
        // node; 1-row frame, broadcast into the rank update
        val dShare = ranks
          .join(dangling, Seq("node"))
          .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
          .select(expr(s"dsum div ${nV}L").as("dshare"))
        val contrib = ed
          .join(ranks, ed("src") === ranks("node"))
          .select(col("dst"), expr("rank div outdeg").as("c"))
          .groupBy("dst")
          .agg(sum(col("c")).as("contrib"))
        ranks = nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .crossJoin(broadcast(dShare))
          .select(
            col("node"),
            expr(s"${base}L + (85 * (coalesce(contrib, 0L) + dshare)) div 100").as("rank"))
          .localCheckpoint(true)
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
    * them back as their own singleton communities.
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
    // edge frame keyed by src, its per-round join key (round 16, guide
    // §2.4 — the pageRankInt device): the plain checkpoint's forgotten
    // layout re-exchanged the same edges every round. The labels side
    // is a per-round union (agg output ∪ noIn) with no stable layout —
    // its exchange is the recurrence's irreducible shuffle.
    import org.apache.spark.sql.graftbridge.CheckpointBridge.{
      backingRdd, localCheckpointHashPartitioned, sizedPartitionsFor}
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val e = localCheckpointHashPartitioned(e0, sizedPartitionsFor(e0), "src")
    backingRdd(e0).foreach(_.unpersist(false))
    val allNodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    // nodes with no in-edges: never voted on, label pinned to own id
    val noIn = allNodes
      .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_anti")
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var labels = allNodes.withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      // top-1 label per dst in ONE aggregate: mode(deterministic = true)
      // returns the most frequent label, ties to the SMALLEST — the same
      // (count DESC, label ASC) winner the two-stage count+argmax picked,
      // with the per-label counting folded into the aggregate's map-side
      // partial state instead of its own exchange
      labels = e
        .join(labels, e("src") === labels("node"))
        .groupBy(col("dst"))
        .agg(mode(col("label"), deterministic = true).as("label"))
        .select(col("dst").as("node"), col("label"))
        .unionByName(noIn)
    }
    val communities = labels.select(col("node"), col("label").as("community"))
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
    * over the sum), HITS's pure `Σ then normalize` does not.
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
    import org.apache.spark.sql.graftbridge.CheckpointBridge.backingRdd
    // iterations=0 would return the initial (never-checkpointed) auth
    // frame while the epilogue releases checkpoints it still
    // references — any later action would fail on missing blocks
    require(iterations >= 1, s"hitsInt needs iterations >= 1, got $iterations")
    import org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointHashPartitioned
    // Edge list checkpointed TWICE with a declared layout (round 16,
    // guide §2.4): the auth half joins on src, the hub half on dst, and
    // the plain checkpoint's UnknownPartitioning made every half-round
    // re-exchange the same edges — 2 edge exchanges per round. Keyed
    // copies cost two exchanges once; every half-round join then reads
    // its edge side in place. nodes keyed likewise: it seeds the dense
    // initial hub frame (so round 1's src join needs no exchange at all)
    // and the epilogue spine joins. Shared partition count sized from
    // the materialized edge bytes (see pageRankInt).
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val p = org.apache.spark.sql.graftbridge.CheckpointBridge.sizedPartitionsFor(e)
    val eBySrc = localCheckpointHashPartitioned(e, p, "src")
    val eByDst = localCheckpointHashPartitioned(e, p, "dst")
    val nodes = localCheckpointHashPartitioned(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct(),
      p, "node")
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
}

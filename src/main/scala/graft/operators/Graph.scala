package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.LineageCut

/**
 * Graph centrality over edge frames (mission extension): RefinedWeb /
 * Common-Crawl-style pipelines weight documents by the link authority of
 * their host, and PageRank over the host graph is the canonical form
 * (Page et al. 1999, public literature).
 *
 * Implementation is the classic damped power iteration expressed as
 * DataFrame joins — the textbook iterative-Spark workload. Per
 * iteration: one equi-join (contribution edges × current ranks, on
 * `src`) and one aggregation (sum contributions per `dst`). Both are
 * key-partitioned shuffles of (id, double) pairs — never payloads — and
 * the contribution-edge frame (src, dst, 1/outdeg) is computed once and
 * reused every round from a checkpoint, so iteration N's lineage does
 * not replay rounds 1..N-1. Lineage is additionally truncated every few
 * rounds (iterative plans otherwise grow until analysis itself is the
 * cost). At cluster scale the same loop holds: ranks and edges are both
 * hash-partitioned by the join key, and AQE coalesces the per-round
 * exchanges.
 *
 * CHECKPOINT RELIABILITY: truncating lineage means the truncated blocks
 * are the ONLY copy of the iteration state. `localCheckpoint` stores
 * them executor-local and non-replicated — free and fine on local[n],
 * but on a real cluster one lost executor after truncation fails the
 * job unrecoverably (the lineage that could recompute the blocks is
 * gone by design). Pass `checkpointDir` to switch THIS call's
 * truncations to RELIABLE `checkpoint()` on the cluster FS — the mode
 * a 100 TB run must use; local mode keeps the zero-IO default.
 * Reliable mode is per-call (or session-wide via
 * `spark.graft.lineageCut.reliable`) — a checkpoint dir merely being
 * configured on the context does NOT flip it, so one call's param
 * cannot silently change other operators' IO behavior (see
 * [[graft.core.LineageCut]] for the persist-before-checkpoint cost
 * contract and checkpoint-file cleanup notes).
 *
 * Dangling nodes (no out-edges) leak their damped mass by default —
 * the simple formulation `r' = (1-d)/N + d·Σ_in r/deg`, identical in
 * the SQL oracle, so cross-engine results agree term for term. Set
 * `redistributeDangling` for the mass-conserving form
 * `r' = (1-d)/N + d·(Σ_in r/deg + m_dangling/N)` (m_dangling = total
 * rank on dangling nodes), under which ranks sum to 1 every round —
 * the convention real host-authority weighting usually wants.
 */
object Graph {

  /**
   * Damped PageRank by `iters` power-iteration rounds. Returns one row
   * per node: (`node`, `pr`).
   *
   * Edge rows with a null `src` or `dst` (after the cast to long) name
   * no edge and are dropped: kept, they would add a null node to `N` and
   * give their source an out-edge whose share of rank reaches no node.
   *
   * Unweighted (`weightCol = None`): duplicate `(src, dst)` edges
   * collapse to one, contribution weight is `1/outdeg`. Weighted:
   * duplicate edges SUM their weights (so a link-count column expresses
   * link frequency naturally) and contribution weight is
   * `w / Σ_out w` — weights must be NON-NULL, strictly positive and
   * non-NaN (checked, fail-loud: aggregates silently skip nulls, a
   * zero/negative weight corrupts every rank downstream of its source,
   * and a NaN poisons them outright — so nulls coerce to -Infinity
   * pre-sum for the min-check, and NaNs are counted explicitly because
   * `min` sorts NaN ABOVE all real values and would otherwise let a
   * NaN mixed with positive weights slip through).
   *
   * `checkpointDir`: when set, THIS call's lineage truncation uses
   * reliable `checkpoint()` there instead of executor-local
   * `localCheckpoint` — survives
   * executor loss; required at cluster scale (see object doc).
   *
   * `redistributeDangling`: when true, each round adds the dangling
   * nodes' pooled rank, divided evenly, to every node's contribution —
   * ranks then sum to 1 (mass-conserving PageRank). The pooled mass
   * rides the SAME per-round contribution aggregate under a null
   * sentinel key (a left join fans a dangling rank row into one
   * null-dst row — r18), so the extra cost per round is one one-row
   * scalar extract, not an extra pass over the rank frame; the
   * per-round lineage cut lands on the contribution frame.
   *
   * `teleportTo`: PERSONALIZED PageRank (Haveliwala 2002) — the
   * teleport mass lands uniformly on the given seed set instead of all
   * nodes, and iteration starts from the seed-uniform vector; the
   * result ranks nodes by authority RELATIVE to the seeds (topic- or
   * trust-biased authority, the TrustRank shape). The seed set is a
   * driver-side `Seq` by design: seeds are curated lists (trusted
   * hosts, topic exemplars), orders of magnitude below data scale, and
   * ride into the plan as an `isin` literal — no extra join. Seeds
   * must all exist in the graph (checked, fail-loud: a silently absent
   * seed would redistribute its teleport share to the REMAINING seeds
   * and skew every rank). Mutually exclusive with
   * `redistributeDangling` (dangling mass in the personalized setting
   * would need to return to the seeds, a different — also
   * leak-free — formulation; rejected loudly rather than guessed).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85,
               weightCol: Option[String] = None,
               checkpointDir: Option[String] = None,
               redistributeDangling: Boolean = false,
               teleportTo: Option[Seq[Long]] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val seeds = teleportTo.map(_.distinct)
    seeds.foreach { s =>
      require(s.nonEmpty, "teleportTo must name at least one seed")
      require(!redistributeDangling,
        "teleportTo and redistributeDangling are mutually exclusive " +
          "(personalized dangling handling returns mass to the seeds — " +
          "not implemented; pick one)")
    }
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val bothEnds = col("src").isNotNull && col("dst").isNotNull
    val e = cut(weightCol match {
      case Some(wc) => edges
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"),
          // null → -Inf: survives the sum (aggregates skip real nulls)
          // and trips the min > 0 check below instead of silently
          // dropping the edge's weight
          coalesce(col(wc).cast("double"), lit(Double.NegativeInfinity))
            .as("w0"))
        .filter(bothEnds)
        .groupBy("src", "dst").agg(sum("w0").as("w0"))
      case None => edges
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .filter(bothEnds)
        .distinct()
        .withColumn("w0", lit(1.0))
    })
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    val nNodes = nodes.count()
    require(nNodes > 0, "pageRank on an empty edge frame")
    if (weightCol.isDefined) {
      // min() alone cannot catch a NaN mixed with real weights (Spark
      // orders NaN greater than every value), so count NaNs explicitly
      val row = e.agg(min("w0").as("mn"),
        sum(when(isnan(col("w0")), 1L).otherwise(0L)).as("nans")).head()
      val minW = row.getDouble(0)
      val nans = row.getLong(1)
      require(nans == 0 && minW > 0 && !minW.isNaN,
        s"pageRank edge weights must be non-null, non-NaN and strictly " +
          s"positive; min aggregated weight = $minW, NaN weights = $nans")
    }

    // contribution weight w/Σ_out w (1/outdeg unweighted), attached
    // once — reused every round
    val outW = e.groupBy("src").agg(sum("w0").as("ow"))
    val contribEdges = cut(e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w0") / col("ow")).as("w")))

    seeds.foreach { s =>
      val present = nodes.filter(col("node").isin(s: _*)).count()
      require(present == s.size,
        s"teleportTo: ${s.size - present} seed(s) absent from the graph — " +
          s"an absent seed would silently skew the teleport distribution")
    }

    // teleport base: uniform over all nodes, or over the seed set
    val base = (1.0 - damping) / seeds.map(_.size.toDouble)
      .getOrElse(nNodes.toDouble)
    def baseExpr = seeds match {
      case Some(s) =>
        when(col("node").isin(s: _*), lit(base)).otherwise(lit(0.0))
      case None => lit(base)
    }
    var ranks = seeds match {
      case Some(s) => nodes.select(col("node"),
        when(col("node").isin(s: _*), lit(1.0 / s.size))
          .otherwise(lit(0.0)).as("rank"))
      case None => nodes.select(col("node"), lit(1.0 / nNodes).as("rank"))
    }
    var i = 1
    while (i <= iters) {
      ranks =
        if (redistributeDangling) {
          // SINGLE READ of ranks per round (r18): a LEFT join against
          // the contribution edges fans each rank row into its
          // out-edge contributions, and a dangling node (no out-edges
          // ⇒ no contribEdges.src match, by construction) into ONE
          // null-dst row carrying its rank — so the SAME aggregate
          // yields every node's in-contribution AND (under the
          // collision-free null key) the pooled dangling mass. The old
          // shape read ranks twice per round (a dangling semi-join +
          // scalar aggregate broadcast subtree next to the main flow),
          // which is why it had to cut ranks every round; now the one
          // per-round cut lands on `contribs` (read twice: the dm
          // extract + the node join) and the semi-join pass, the
          // per-round ranks cut, and the precomputed dangling frame
          // are all gone. The summed values are the identical
          // multisets (rank·w per in-edge; rank per dangling node).
          val ce = contribEdges.select(col("src").as("__csrc"),
            col("dst").as("__cdst"), col("w").as("__cw"))
          val contribs = cut(ranks
            .join(ce, col("node") === col("__csrc"), "left")
            .groupBy(col("__cdst").as("dst"))
            .agg(sum(when(col("__csrc").isNull, col("rank"))
              .otherwise(col("rank") * col("__cw"))).as("contrib")))
          // ≤ 1 null-keyed row → aggregate to exactly one row (0.0
          // when the graph happens to have no dangling node)
          val dm = contribs.filter(col("dst").isNull)
            .agg(coalesce(sum("contrib"), lit(0.0)).as("dm"))
          nodes.join(contribs, nodes("node") === contribs("dst"), "left")
            .crossJoin(dm)
            .select(nodes("node"),
              (lit(base) + lit(damping) *
                (coalesce(col("contrib"), lit(0.0)) +
                  col("dm") / nNodes)).as("rank"))
        } else {
          val contribs = contribEdges
            .join(ranks, contribEdges("src") === ranks("node"))
            .groupBy("dst").agg(sum(col("rank") * col("w")).as("contrib"))
          nodes.join(contribs, nodes("node") === contribs("dst"), "left")
            .select(nodes("node"),
              (baseExpr + lit(damping) *
                coalesce(col("contrib"), lit(0.0))).as("rank"))
        }
      // truncate lineage every 3 rounds; otherwise the plan for round N
      // contains all prior rounds and planning cost compounds (the
      // dangling branch needs no ranks cut at all — its per-round
      // contribs cut already truncates everything upstream)
      if (!redistributeDangling && i % 3 == 0 && i < iters)
        ranks = cut(ranks)
      i += 1
    }
    ranks.select(col("node"), col("rank").as("pr"))
  }

  /**
   * Connected components by iterative min-label propagation WITH
   * pointer-jumping — every node ends labeled by the smallest node id
   * in its component (the same canonical-min convention
   * [[graft.operators.Dedup.assignCanonical]] uses for dup clusters,
   * here as a first-class operator over ANY edge frame: co-purchase
   * clusters, host-graph islands, session stitching).
   *
   * Per round: (1) neighbor-min — one equi-join of the undirected edge
   * frame against current labels plus a per-node min aggregate, and
   * (2) pointer-jump — labels join THEMSELVES (`lbl := label(lbl)`),
   * which contracts label chains geometrically, so convergence is
   * O(log diameter) rounds, not O(diameter) (the classic
   * shortcut-propagation hybrid; a bare neighbor-min walk would pay a
   * round per hop on path graphs). All per-round frames are (id, id)
   * pairs keyed by the join column — payloads never enter the loop.
   *
   * Convergence is DETECTED, not assumed: labels only ever decrease,
   * so the label sum (exact, decimal — long ids may overflow a long
   * sum) is a strictly-decreasing fixpoint witness; an unchanged sum
   * ⇔ converged. Fails loudly if `maxIter` rounds pass without
   * convergence — a truncated run would silently mislabel whole
   * components, the one failure mode an exactness gate cannot admit.
   *
   * Same `checkpointDir` reliability contract as [[pageRank]]: every
   * round cuts lineage (each round reads the label frame twice, so
   * the plan otherwise doubles per round), executor-local by default,
   * reliable `checkpoint()` when a cluster FS dir is configured.
   *
   * Graphs at or under `maxDriverEdges` canonical edges (default
   * ≈32 MB of edge rows) skip the loop for a driver union-find — the
   * same size-gated escape hatch as `Dedup.assignCanonical`, because
   * on a small graph the per-round job overhead IS the cost; 0 forces
   * the distributed loop.
   *
   * Returns one row per node: (`node`, `component`).
   */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 30,
                          checkpointDir: Option[String] = None,
                          maxDriverEdges: Long = 2L << 20): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")) // self-loops never move a label
    // Driver union-find below the size gate (same escape hatch and
    // default as Dedup.assignCanonical, ≈32 MB of edge rows): the
    // iterative loop pays ~4 jobs per ROUND — on a small graph the
    // rounds, not the data, are the whole cost. Union-by-min-root
    // yields exactly the component-min labels the converged loop
    // produces. Pass 0 to force the distributed loop.
    if (maxDriverEdges > 0) {
      val canon = dir0
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().cache()
      val n = canon.count()
      if (n == 0) {
        canon.unpersist()
        throw new IllegalArgumentException(
          "connectedComponents on an empty edge frame")
      }
      if (n <= maxDriverEdges) {
        import spark.implicits._
        val es = canon.as[(Long, Long)].collect()
        canon.unpersist()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val nx = parent(c); parent(c) = r; c = nx
          }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
        return verts.iterator.map(v => (v, find(v))).toSeq
          .toDF("node", "component")
      }
      canon.unpersist()
    }
    // both directions once, up front: neighbor-min then needs ONE join
    // per round instead of two
    val und = cut(dir0
      .unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val nodes = cut(und.select(col("src").as("node")).distinct())
    require(!nodes.isEmpty, "connectedComponents on an empty edge frame")

    var labels = nodes.select(col("node"), col("node").as("lbl"))
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val nmin = und.join(labels, und("dst") === labels("node"))
        .groupBy(und("src").as("n2")).agg(min("lbl").as("nmin"))
      val stepped = labels.join(nmin, labels("node") === col("n2"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer-jump: every label is a live node id (the min of node
      // ids), so the self-join matches exactly one row; label(lbl) ≤
      // lbl by monotonicity, least() makes that explicit
      val jump = stepped.select(col("node").as("__jn"), col("lbl").as("__jl"))
      labels = cut(stepped.join(jump, stepped("lbl") === col("__jn"))
        .select(stepped("node"),
          least(stepped("lbl"), col("__jl")).as("lbl")))
      // cast BEFORE the sum: a long-typed sum could overflow and alias
      // two different label states into one witness value
      val s = labels.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        s"raise maxIter (pointer-jumping needs ~log2(diameter) rounds); " +
        s"a truncated run would silently mislabel components")
    labels.select(col("node"), col("lbl").as("component"))
  }

  /**
   * Exact per-node triangle counts (Cohen 2009 MapReduce formulation /
   * Suri-Vassilvitskii 2011 "Counting triangles and the curse of the
   * last reducer") — the local clustering signal that separates
   * organically-linked hosts (high triangle density) from link farms
   * and spam rings (star-shaped, triangle-free), and co-purchase
   * cliques from coincidental pairs.
   *
   * The graph is canonicalized first (undirected, self-loops dropped,
   * duplicates collapsed). Enumeration then orients every edge from
   * its lower-(degree, id) endpoint to the higher — each triangle is
   * generated EXACTLY once, from its lowest-order corner — and the
   * per-node out-degree under this orientation is O(√E), which bounds
   * the wedge join (the "curse of the last reducer" fix: a
   * 10⁸-follower hub generates wedges from its √E oriented out-edges,
   * not its full fan-in). Plan shape: degree agg → two broadcast-or-
   * shuffle equi-joins (wedge build on the shared low corner, closure
   * probe on the (v,w) pair) → explode the three corners → count.
   * Everything that moves is (long, long) pairs.
   *
   * The wedge set (Σ orientedOutDeg² rows — easily 50× the edge count
   * on dense graphs) is the operator's real volume, and it exists only
   * BETWEEN two joins: the wedge fan-out and the closure probe. At or
   * under `maxBroadcastEdges` oriented edges (default 4M ≈ tens of MB
   * serialized) BOTH join sides broadcast, so the whole enumeration
   * fuses into one map-side pipeline — scan → wedge fan-out → closure
   * probe → explode → partial agg — and the wedge stream never touches
   * an exchange (the difference between seconds and shuffling 10⁷–10⁸
   * rows). When ids fit 31 bits the closure key packs into a single
   * long for the specialized dense hash relation. Above the gate it
   * falls back to shuffled hash joins — the honest distributed form.
   * Pass 0 to force the shuffle path.
   *
   * Returns (`node`, `triangles`) for EVERY node of the canonical
   * graph, zeros included (the zero IS the spam signal).
   */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     maxBroadcastEdges: Long = 4L << 20): DataFrame = {
    val canon = edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct()
    val deg = canon.select(col("a").as("n"))
      .unionAll(canon.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    // orient low-(deg, id) → high; canon already has a < b, so the id
    // tiebreak keeps a → b
    val fwd = col("da") < col("db") || (col("da") === col("db"))
    val oriented0 = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv"))
    // the canonical frame is read three times (degree agg, orientation
    // join, closure) — persist it across the branches; stays persisted
    // for the returned plan's lifetime (caller releases, same contract
    // as Sketches.frequentItems' cache). The same stats job decides the
    // broadcast gate AND whether ids fit 31 bits (packable pair keys).
    canon.persist()
    val st = canon.agg(count(lit(1)).as("n"),
      min(col("a")).as("mn"), max(col("b")).as("mx")).head()
    // the ORIENTED frame is read three times too (wedge stream side o1,
    // wedge broadcast side o2, closure probe side) — without a cut the
    // degree joins that build it re-run once per consumer (measured:
    // three concurrent copies of the same 2-join subtree dominated the
    // enumeration's wall clock at bench scale; at 100 TB the same
    // duplication triples the pre-enumeration join work)
    val oriented = LineageCut.cut(oriented0)
    val nEdges = st.getLong(0)
    val packable = nEdges > 0 && st.getLong(1) >= 0 &&
      st.getLong(2) < (1L << 31)
    val useBroadcast = maxBroadcastEdges > 0 && nEdges <= maxBroadcastEdges
    def bc(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df

    // wedges from each low corner u: unordered endpoint pairs, ordered
    // by the SAME (deg, id) total order so the closing edge — if it
    // exists — is oriented exactly v1 → v2. Under the broadcast gate
    // BOTH hash sides broadcast, so the whole enumeration is ONE
    // map-side pipeline — scan → wedge fan-out → closure probe →
    // explode → partial agg — with no exchange until the final
    // per-node aggregate (the DuckDB-equivalent fused plan; the wedge
    // stream, easily 50× the edge count, never materializes anywhere).
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = o1.join(bc(o2), Seq("u"))
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
    // pack the (v, w) pair into ONE long when ids fit 31 bits: a
    // single-long equi-join key gets Spark's specialized dense
    // LongHashedRelation instead of the generic row-key map — a
    // constant-factor win on the probe that runs once per wedge
    val tris =
      if (packable) {
        val closure = bc(oriented.select(
          (shiftleft(col("u"), 32) + col("v")).as("ck")))
        wedges.join(closure,
          shiftleft(col("v1"), 32) + col("v2") === col("ck"))
      } else {
        val closure = bc(oriented.select(col("u").as("cu"), col("v").as("cv")))
        wedges.join(closure,
          col("v1") === col("cu") && col("v2") === col("cv"))
      }
    val perNode = tris
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /**
   * k-core decomposition membership (Seidman 1983 "Network structure
   * and minimum degree"): the maximal subgraph in which every node has
   * degree ≥ k, computed by the classic peel — repeatedly delete nodes
   * of degree < k until none remain. The k-core is a UNIQUE fixpoint,
   * independent of peel order, so the result is exactly oracle-able
   * and deterministic under any partitioning. Corpus-curation use: the
   * dense co-citation / co-purchase core is the trusted seed set;
   * nodes peeled early are the periphery and the spam tails.
   *
   * Per peel round: one degree aggregate over the surviving canonical
   * edge frame + two left-anti joins dropping edges that touch a
   * deleted node — (long, long) pairs only, and each round's frame
   * SHRINKS (usually geometrically; peels converge in tens of rounds
   * on power-law graphs). Lineage is cut every round (the anti-join
   * chain otherwise nests one plan per round). Fails loudly if
   * `maxIter` rounds don't reach the fixpoint — a truncated peel
   * returns a SUPERSET of the core, silently.
   *
   * Returns the surviving nodes with their in-core degree:
   * (`node`, `deg`) — empty when the graph has no k-core.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxIter >= 1, "maxIter must be >= 1")
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    var cur = cut(edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct())
    var i = 0
    while (i < maxIter) {
      val deg = cur.select(col("a").as("n"))
        .unionAll(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      // r18: cut the under-degree frame ONCE with the fixpoint witness
      // riding its materialization as an Observation (zero/nonzero
      // only) — the old shape ran a separate isEmpty action AND
      // re-executed the degree aggregate once per anti-join side
      // (three executions per round); now it executes once and both
      // anti-joins read the materialized frame
      val (bad, w) = LineageCut.cutWitnessed(
        deg.filter(col("deg") < k).select(col("n")), s"kcore_round_$i",
        checkpointDir.isDefined)(count(lit(1)).as("n_bad"))
      if (w("n_bad").asInstanceOf[Long] == 0L) {
        return deg.select(col("n").as("node"), col("deg"))
      }
      cur = cut(cur
        .join(bad.select(col("n").as("a")), Seq("a"), "left_anti")
        .join(bad.select(col("n").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b")))
      i += 1
    }
    throw new IllegalStateException(
      s"kCore(k=$k) did not reach the peel fixpoint in $maxIter rounds " +
        s"— raise maxIter; a truncated peel silently returns a superset " +
        s"of the core")
  }

  /**
   * HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
   * in a hyperlinked environment") — the second classic link-analysis
   * centrality next to [[pageRank]], and the one that separates
   * DIRECTORY pages (hubs: link to many good authorities) from CONTENT
   * pages (authorities: linked from many good hubs). For corpus
   * curation the authority score is the seed-quality signal; the hub
   * score finds the link farms to discount.
   *
   * Per round: `a(v) = Σ_{u→v} h(u)`, L2-normalized; then
   * `h(u) = Σ_{u→v} a(v)`, L2-normalized — two equi-joins + two
   * aggregations over (id, double) pairs and two one-row norm frames
   * (broadcast back; no data-sized join). Duplicate edges collapse
   * (unweighted adjacency, the classic formulation). Same lineage
   * discipline and `checkpointDir` reliability contract as
   * [[pageRank]]: the raw aRaw/hRaw frames are truncated EVERY round
   * (each is read twice — its L2-norm broadcast + the normalized
   * division — so an uncut round re-executes per consumer and the
   * duplication compounds 2^k between sparser cuts; r17). Note for
   * reliable-mode callers: with `checkpointDir` set this means TWO
   * cluster-FS checkpoint writes per iteration (one per half-round),
   * not two every other iteration as the pre-r17 every-2-rounds
   * cadence did — more checkpoint IO in exchange for the de-duplicated
   * per-round work.
   *
   * With ≥ 1 edge the norms are always strictly positive (induction:
   * the round's normalized scores have norm 1, so some score is
   * positive, and every positive authority has an in-edge whose source
   * then accrues positive hub mass), so the divisions cannot NaN.
   *
   * Returns one row per node: (`node`, `hub`, `auth`).
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 10,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val e = cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    require(!nodes.isEmpty, "hits on an empty edge frame")

    var hubs = nodes.select(col("node"), lit(1.0).as("h"))
    var auths: DataFrame = null
    var i = 1
    while (i <= iters) {
      // aRaw/hRaw are each read TWICE in their round (the L2-norm
      // aggregate's broadcast subtree + the normalized division), so
      // without a cut the round's join+agg re-executes once per
      // consumer and the duplication COMPOUNDS across rounds (2^k
      // between cuts — measured 57 jobs for 3 rounds at bench scale,
      // ~16 after; at 100 TB the same shape doubles every round's
      // join work). Cutting the raw frames also makes the old
      // every-2-rounds hubs/auths cut redundant: the normalized
      // frames are one shallow projection over a cut.
      val aRaw = cut(nodes.join(
          e.join(hubs, e("src") === hubs("node"))
            .groupBy("dst").agg(sum("h").as("v")),
          nodes("node") === col("dst"), "left")
        .select(nodes("node"), coalesce(col("v"), lit(0.0)).as("ar")))
      val aNorm = aRaw.agg(sqrt(sum(col("ar") * col("ar"))).as("nrm"))
      auths = aRaw.crossJoin(broadcast(aNorm))
        .select(col("node"), (col("ar") / col("nrm")).as("a"))
      val hRaw = cut(nodes.join(
          e.join(auths, e("dst") === auths("node"))
            .groupBy("src").agg(sum("a").as("v")),
          nodes("node") === col("src"), "left")
        .select(nodes("node"), coalesce(col("v"), lit(0.0)).as("hr")))
      val hNorm = hRaw.agg(sqrt(sum(col("hr") * col("hr"))).as("nrm"))
      hubs = hRaw.crossJoin(broadcast(hNorm))
        .select(col("node"), (col("hr") / col("nrm")).as("h"))
      i += 1
    }
    hubs.join(auths.select(col("node").as("__an"), col("a")),
        col("node") === col("__an"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /**
   * Multi-source BFS hop levels: the minimum hop count from any node in
   * `sources` to every reachable node, up to `maxHops` — reachability
   * radius around seed hosts (how far does a spam cluster's influence
   * extend?), landmark distances for graph features, and the
   * building block of k-hop neighborhood extraction.
   *
   * Classic frontier expansion as DataFrame rounds over ONE
   * (node, level) state frame: per hop, one equi-join (edge frame ×
   * current frontier — the rows at the previous level) and one
   * node-keyed min-aggregate folding the candidates into the visited
   * set — all frames are (long[, int]) keys only, and min(level) is
   * the anti-join (a standing node's level is always smaller, so new
   * candidates can never change it). The exact "anything newly
   * reached?" early-exit witness (count of nodes with no standing
   * entry) rides the hop's own lineage-cut materialization as an
   * `Observation` — ONE Spark action per hop, no separate `isEmpty`
   * job (r18; was three actions per hop). Same `checkpointDir`
   * reliability contract as [[pageRank]]: per-round lineage cuts are
   * executor-local by default, reliable `checkpoint()` when a cluster
   * FS dir is configured.
   *
   * `undirected` (default true) walks edges both ways — host-graph
   * neighborhoods are usually undirected; false follows edge direction.
   *
   * Returns one row per REACHED node: (`node`, `level`), level 0 = the
   * sources themselves (sources absent from the edge frame still
   * report level 0 — a seed is trivially at distance 0 of itself).
   * Unreached nodes are absent, maxHops caps the walk (a cap is a
   * semantic parameter here, not silent truncation — "within k hops"
   * IS the query).
   */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                sources: Seq[Long], maxHops: Int,
                undirected: Boolean = true,
                checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "bfsLevels needs at least one source")
    require(maxHops >= 0, "maxHops must be >= 0")
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = cut((if (undirected)
        dir0.unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
      else dir0).distinct())
    import spark.implicits._
    // SINGLE loop frame (r18): visited carries (node, level) and each
    // hop folds the new frontier in through ONE min-aggregate — the
    // old frontier/visited pair cost three actions per hop (cut(next),
    // next.isEmpty, cut(visited ∪ next)); this shape costs ONE (the
    // cut, with the exact "anything newly reached?" witness riding it
    // as an Observation — a node is new iff it has no standing entry,
    // an integer count valid as the zero/nonzero early-exit signal).
    // min(level) cannot change a standing node's level (BFS levels only
    // ever grow hop over hop), so rows are identical to the old shape.
    var visited = cut(sources.distinct.toDF("node")
      .select(col("node"), lit(0).as("level")))
    var level = 1
    var done = false
    while (level <= maxHops && !done) {
      val frontier = visited.filter(col("level") === level - 1)
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), lit(level).as("level"),
          lit(false).as("__old"))
      val (nextFull, w) = LineageCut.cutWitnessed(visited
        .select(col("node"), col("level"), lit(true).as("__old"))
        .unionAll(cand)
        .groupBy("node")
        .agg(min("level").as("level"),
          min(when(col("__old"), col("level"))).as("__ol")),
        s"bfs_hop_$level", checkpointDir.isDefined)(
        sum(when(col("__ol").isNull, 1L).otherwise(0L)).as("reached"))
      if (w("reached").asInstanceOf[Long] == 0) done = true
      else {
        visited = nextFull.select(col("node"), col("level"))
        level += 1
      }
    }
    visited.select(col("node"), col("level"))
  }

  /**
   * Hop-bounded harmonic centrality of curated seed nodes (Boldi &
   * Vigna 2014 "Axioms for centrality" — the closeness variant that
   * handles disconnection natively): for each seed s, Σ 1/d(s, u) over
   * every node reached within `maxHops`, unreachable nodes contributing
   * exactly 0. Corpus-curation use: scoring candidate trust seeds —
   * the seed whose harmonic mass is largest reaches the most of the
   * graph, soonest, and the hop bound IS the query ("influence within
   * k hops"), not truncation.
   *
   * Exact arithmetic: per-node terms quantize as `1e6 div level`
   * (exact integer division of the exact BFS hop count), the per-seed
   * sum is an exact long, and `harmonic` is ONE IEEE division by 1e6
   * — bit-deterministic, no float accumulation.
   *
   * Scale shape: ONE multi-seed labeled BFS over one (seed, node,
   * level) state frame — all seeds advance in the SAME per-hop join +
   * (seed, node)-keyed min-aggregate (maxHops join rounds total, not
   * seeds×maxHops: at 3 seeds that is 3× fewer rounds than per-seed
   * loops), the exact "anything newly reached?" early-exit witness
   * rides each hop's lineage-cut materialization as an `Observation`
   * (ONE Spark action per hop — r18; the old frontier/visited/harmonic
   * triple cost four), and the harmonic sums fold ONCE at the end over
   * first-reach levels (integer sums are order-free, so the fold is
   * bit-identical to the old per-hop accumulation). Seeds are curated
   * lists, orders of magnitude below data scale (personalized
   * PageRank's seed-Seq contract), so the state is ≤ seeds × reachable
   * nodes, keys only. Same `checkpointDir` reliability contract as
   * [[pageRank]].
   *
   * Returns one row per seed: (`seed`, `n_reached` — nodes at level
   * ≥ 1 within the cap, `harmonic`).
   */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: Seq[Long], maxHops: Int,
                         undirected: Boolean = true,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(seeds.nonEmpty, "harmonicCentrality needs at least one seed")
    require(seeds.distinct.size == seeds.size, "duplicate seeds")
    require(maxHops >= 1, "maxHops must be >= 1")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = cut((if (undirected)
        dir0.unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
      else dir0).distinct())
    import spark.implicits._
    // SINGLE loop frame (r18): the labeled BFS carries (seed, node,
    // level) and each hop folds the frontier expansion in through ONE
    // min-aggregate — the old frontier/visited/harmonic triple cost
    // FOUR actions per hop (cut(next), next.isEmpty, cut(harmonic),
    // cut(visited)); this shape costs ONE (the cut, with the exact
    // "anything newly reached?" count riding it as an Observation).
    // The harmonic sums move OUT of the loop entirely: Σ 1e6 div level
    // over first-reach levels is the identical multiset of exact longs
    // the per-hop accumulation summed, just folded once at the end
    // (integer sums are order-free) — bit-equal output.
    var vis = cut(seeds.distinct.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0).as("level")))
    var level = 1
    var done = false
    while (level <= maxHops && !done) {
      val frontier = vis.filter(col("level") === level - 1)
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(col("seed"), e("dst").as("node"), lit(level).as("level"),
          lit(false).as("__old"))
      val (nextFull, w) = LineageCut.cutWitnessed(vis
        .select(col("seed"), col("node"), col("level"),
          lit(true).as("__old"))
        .unionAll(cand)
        .groupBy("seed", "node")
        .agg(min("level").as("level"),
          min(when(col("__old"), col("level"))).as("__ol")),
        s"harmonic_hop_$level", checkpointDir.isDefined)(
        sum(when(col("__ol").isNull, 1L).otherwise(0L)).as("reached"))
      if (w("reached").asInstanceOf[Long] == 0) done = true
      else {
        vis = nextFull.select(col("seed"), col("node"), col("level"))
        level += 1
      }
    }
    // per-seed fold over first-reach levels (seeds' own level-0 rows
    // are not "reached"); seeds reaching nothing report (0, 0.0)
    val sums = vis.filter(col("level") >= 1)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div level")).as("__h"))
    seeds.distinct.toDF("seed")
      .join(sums, Seq("seed"), "left")
      .select(col("seed"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        (coalesce(col("__h"), lit(0L)).cast("double") / lit(1e6))
          .as("harmonic"))
  }

  /**
   * k-truss decomposition (Cohen 2008): the maximal subgraph in which
   * EVERY edge participates in at least k−2 triangles — the
   * cohesive-community extractor one notch stronger than [[kCore]]
   * (a k-core admits star centers; a k-truss demands triangle-tied
   * edges, the structure spam rings fake hardest). Computed by
   * simultaneous edge peeling to the unique fixpoint: per round,
   * per-edge triangle support via degree-oriented enumeration (each
   * triangle counted once from its lowest-(deg, id) corner — the same
   * √E wedge bound as [[triangleCounts]]), then every under-supported
   * edge drops at once.
   *
   * Convergence is detected by the surviving-edge COUNT (peeling only
   * removes; an unchanged count is the fixpoint — an exact long, no
   * float witness). Fails loudly at `maxIter`: a truncated peel
   * returns a SUPERSET of the truss, the silent failure an exactness
   * gate cannot admit. Same `checkpointDir` reliability contract as
   * [[pageRank]].
   *
   * Returns the surviving canonical edges: (`src` < `dst`). May be
   * empty (no k-truss) — that is an answer, not an error.
   */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxIter: Int = 30,
             checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 3, "k must be >= 3 (a 2-truss is every edge)")
    require(maxIter >= 1, "maxIter must be >= 1")
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val minSup = k - 2
    var e = cut(edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct())
    require(!e.isEmpty, "kTruss on an empty edge frame")
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val deg = e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      // orient each edge from its lower-(deg, id) endpoint
      val withDeg = e
        .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
      val oriented = withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"),
            col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv"))).as("o"))
        .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
      // wedges at the shared low corner; close on the oriented (v, w)
      val o2 = oriented.select(col("u").as("u2"), col("v").as("w"),
        col("dv").as("dw"))
      val wedges = oriented.join(o2, col("u") === col("u2") &&
        (col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w"))))
      val o3 = oriented.select(col("u").as("cv"), col("v").as("cw"))
      val tris = wedges.join(o3,
        col("v") === col("cv") && col("w") === col("cw"))
      val support = tris.select(explode(array(
          struct(least(col("u"), col("v")).as("ea"),
            greatest(col("u"), col("v")).as("eb")),
          struct(least(col("u"), col("w")).as("ea"),
            greatest(col("u"), col("w")).as("eb")),
          struct(least(col("v"), col("w")).as("ea"),
            greatest(col("v"), col("w")).as("eb")))).as("ed"))
        .select(col("ed.ea").as("ea"), col("ed.eb").as("eb"))
        .groupBy("ea", "eb").agg(count(lit(1)).as("sup"))
      // r18: ONE action per peel round — the survive/drop flag rides
      // the round's own cut (a LEFT join: an edge with no support row
      // drops exactly as the old inner join dropped it) and the
      // convergence witnesses are Observations over the flag, valid as
      // zero/nonzero signals: dropped == 0 ⇔ the old next.count() ==
      // nEdges fixpoint, kept == 0 ⇔ the old empty-truss exit. The
      // separate per-round count job (and the setup e.count) are gone.
      val (flagged, w) = LineageCut.cutWitnessed(e.join(support,
          col("a") === col("ea") && col("b") === col("eb"), "left")
        .select(col("a"), col("b"),
          (coalesce(col("sup"), lit(0L)) >= minSup).as("__keep")),
        s"ktruss_round_$i", checkpointDir.isDefined)(
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("dropped"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("kept"))
      if (w("dropped").asInstanceOf[Long] == 0L) converged = true
      else {
        e = flagged.filter(col("__keep")).select("a", "b")
        converged = w("kept").asInstanceOf[Long] == 0L
      }
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kTruss did not converge in $maxIter rounds — raise maxIter; " +
        s"a truncated peel silently returns a superset of the truss")
    e.select(col("a").as("src"), col("b").as("dst"))
  }

  /**
   * Degree assortativity: the Pearson correlation of endpoint degrees
   * over the undirected edge set (each edge contributes both
   * orientations — the standard symmetric form), answering "do hubs
   * link to hubs?" — positive for social/co-purchase structure,
   * negative for hub-and-spoke (and for spam farms pointing at
   * authorities). Closed-form moments like [[Profiling.correlationMatrix]]
   * (try_divide semantics: a degree-regular graph has zero variance
   * and reports NULL, not a crash).
   *
   * Scale shape: canonical edges + one keys-only degree agg; degrees
   * attach via two node-keyed joins; ONE map-side-combined moment
   * aggregate over the oriented-edge frame. Everything that moves is
   * (long, long) pairs.
   *
   * Returns one row: (`n_edges` canonical count, `assortativity` 6dp).
   */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val canon = edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct()
    val und = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("double").as("d"))
    val pairs = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val mo = pairs.agg(count(lit(1)).as("m"),
      sum("da").as("sx"), sum("db").as("sy"),
      sum(col("da") * col("db")).as("sxy"),
      sum(col("da") * col("da")).as("sxx"),
      sum(col("db") * col("db")).as("syy"))
    mo.select((col("m") / 2).cast("long").as("n_edges"),
      round(try_divide(
        col("sxy") / col("m") - (col("sx") / col("m")) * (col("sy") / col("m")),
        sqrt((col("sxx") / col("m") - (col("sx") / col("m")) * (col("sx") / col("m"))) *
          (col("syy") / col("m") - (col("sy") / col("m")) * (col("sy") / col("m"))))), 6)
        .as("assortativity"))
  }

  /**
   * Two-round neighborhood mean aggregation (the message-passing /
   * GCN-style feature build): m₁(v) = mean of x(u) over v's neighbors,
   * m₂(v) = mean of m₁(u) over v's neighbors — graph-contextual
   * features for nodes (a host surrounded by high-authority hosts is
   * itself evidence of quality) computed WITHOUT learning machinery:
   * two join+agg rounds, exactly PageRank's per-iteration shape.
   *
   * Nodes missing from `features` contribute NULL (mean skips them —
   * aggregate-null semantics, identical cross-engine); isolated
   * feature rows for non-graph nodes are ignored. NOTHING here is
   * rounded — rounding would introduce cross-engine ambiguity exactly
   * when a mean terminates on the rounding grid (a 2dp price averaged
   * over a 2^a·5^b-degree node lands ON the 6dp half-grid, where
   * decimal HALF_UP and float-multiply round() disagree — both caught
   * by sf0.1 oracle sweeps). Instead the composition is made
   * bit-deterministic: `m1` is one exact-sum/degree division (exact
   * whenever the feature is integer-valued — counts, cents); `m2`
   * averages m1 QUANTIZED to 1e-6 units via floor → exact long sum →
   * two single IEEE divisions, so it inherits m1's determinism with
   * ≤1e-6 quantization error and no fold-order sensitivity.
   *
   * Scale shape: undirected edge frame built once; per round ONE
   * equi-join (edges × current values on the far end) + a node-keyed
   * mean — (long, double) pairs keyed by node throughout.
   *
   * Returns (`node`, `degree`, `m1`, `m2`).
   */
  def neighborAgg(edges: DataFrame, srcCol: String, dstCol: String,
                  features: DataFrame, nodeCol: String,
                  valueCol: String): DataFrame = {
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val und = dir0
      .unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val x = features.select(col(nodeCol).cast("long").as("node"),
      col(valueCol).cast("double").as("x"))
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val m1 = und.join(x, und("dst") === x("node"))
      .groupBy(und("src").as("node"))
      .agg(avg(col("x")).as("m1"))
    // m2 averages m1 QUANTIZED to 1e-6 units: floor of a bit-identical
    // double is bit-identical, the long sum is fold-order-free, and the
    // two divisions are single IEEE ops — so the whole composition is
    // bit-deterministic wherever m1 is (no round() anywhere, hence no
    // half-grid hazard). avg-null semantics preserved: NULL m1 rows
    // drop from both the sum and the non-null count.
    val m2 = und.join(m1, und("dst") === m1("node"))
      .groupBy(und("src").as("node"))
      .agg(sum(floor(col("m1") * lit(1e6))).as("__s"),
        count(col("m1")).as("__c"))
      .select(col("node"),
        (col("__s").cast("double") / col("__c").cast("double") / lit(1e6))
          .as("m2"))
    deg.join(m1, Seq("node"), "left").join(m2, Seq("node"), "left")
      .select(col("node"), col("degree"), col("m1"), col("m2"))
  }

  /**
   * Local clustering coefficient per node: 2·triangles / (deg·(deg−1))
   * over the canonical undirected graph — the normalized form of
   * [[triangleCounts]]'s spam signal (a 10⁴-degree hub with 10
   * triangles is star-shaped link spam; coefficient ≈ 0 says so where
   * the raw count alone doesn't). Nodes of degree < 2 have no possible
   * triangle and report NULL (0/0 is not "zero clustering" — it is
   * undefined, and both engines must say the same thing).
   *
   * Scale shape: [[triangleCounts]]'s fused enumeration (its gate and
   * caveats apply verbatim) plus one keys-only degree aggregate and a
   * node-keyed join — both negligible next to the wedge pass.
   *
   * Same `checkpointDir` reliability contract as [[pageRank]].
   *
   * Returns (`node`, `degree`, `triangles`, `coeff` 6dp).
   */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String,
                            maxBroadcastEdges: Long = 4L << 20,
                            checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(
      edges.sparkSession.sparkContext.setCheckpointDir)
    // canonicalize ONCE and cut: both the triangle pass and the degree
    // pass consume this frame, and an expensive upstream edge
    // derivation (a co-occurrence self-join) must not run twice
    val canon = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct(), reliable = checkpointDir.isDefined)
    val tri = triangleCounts(canon, "a", "b", maxBroadcastEdges)
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    tri.join(deg, "node")
      .select(col("node"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1)), 6)).as("coeff"))
  }

  /**
   * Hop-bounded single/multi-source shortest paths (Bellman-Ford as
   * DataFrame rounds): minimum summed edge weight from any seed to
   * every node reachable within `maxHops` edges — the weighted
   * companion of [[bfsLevels]] (link-distance-to-trusted-hosts
   * features, weighted proximity scoring).
   *
   * Semantics: "shortest distance using at most `maxHops` edges" —
   * `maxHops` is a semantic parameter, not silent truncation, and the
   * relaxation is a fixpoint process (a round with zero improvements
   * proves all later rounds change nothing, so early exit never
   * alters the result; an oracle unrolling MORE rounds than the engine
   * ran agrees exactly). Weights must be non-null, non-NaN and ≥ 0
   * (checked fail-loud: Bellman-Ford tolerates negative edges but
   * "shortest" under negative cycles is undefined, and a silent NaN
   * poisons every downstream distance). Duplicate edges keep their
   * MINIMUM weight. Omitting `weightCol` makes every edge cost 1 —
   * hop counts, i.e. [[bfsLevels]] with distances as doubles.
   *
   * Per round: the candidate frame is one equi-join (edges × current
   * distances on the edge source) + a per-node min-aggregate over the
   * union with the standing distances — all (long, double) pairs,
   * keyed by node. The early-exit witness is EXACT (a count of
   * strictly-improved or newly-reached nodes, no float-sum whose
   * fold-order noise could mask a real improvement) and FREE: the
   * aggregate keeps the standing distance next to the new minimum and
   * an `Observation` sums the improvement flags inside the round's own
   * materialization job — one action per hop, no witness job. Same
   * `checkpointDir` reliability contract as [[pageRank]].
   *
   * Returns one row per REACHED node: (`node`, `dist`); seeds report
   * 0.0 (even seeds absent from the edge frame — distance 0 to
   * itself is trivially true).
   */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    sources: Seq[Long], maxHops: Int,
                    weightCol: Option[String] = None,
                    undirected: Boolean = true,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "shortestPaths needs at least one source")
    require(maxHops >= 0, "maxHops must be >= 0")
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        weightCol.map(wc =>
            // null → -Inf: survives min() and trips the ≥ 0 check
            // instead of silently dropping the edge's weight
            coalesce(col(wc).cast("double"),
              lit(Double.NegativeInfinity)))
          .getOrElse(lit(1.0)).as("w"))
      .filter(col("src") =!= col("dst"))
    val both =
      if (undirected)
        dir0.unionAll(dir0.select(col("dst").as("src"),
          col("src").as("dst"), col("w")))
      else dir0
    // duplicate edges keep the cheapest parallel link
    val e = cut(both.groupBy("src", "dst").agg(min("w").as("w")))
    if (weightCol.isDefined) {
      val row = e.agg(min("w").as("mn"),
        sum(when(isnan(col("w")), 1L).otherwise(0L)).as("nans")).head()
      require(row.getLong(1) == 0 && row.getDouble(0) >= 0,
        s"shortestPaths weights must be non-null, non-NaN and >= 0; " +
          s"min = ${row.getDouble(0)}, NaN weights = ${row.getLong(1)}")
    }
    import spark.implicits._
    var dist = cut(sources.distinct.toDF("node")
      .select(col("node"), lit(0.0).as("d")))
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val cand = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"),
          lit(false).as("__old"))
      // the min-aggregate keeps the standing distance alongside the new
      // minimum, so "did any node improve or appear" is answerable from
      // the aggregation itself; the witness rides the cut's
      // materialization job — the EXACT early-exit witness costs zero
      // extra actions (it used to be a separate keys-only join per hop),
      // and it is only ever compared to zero
      val (nextFull, w) = LineageCut.cutWitnessed(dist
        .select(col("node"), col("d"), lit(true).as("__old"))
        .unionAll(cand)
        .groupBy("node")
        .agg(min("d").as("d"), min(when(col("__old"), col("d"))).as("__od")),
        s"sssp_hop_$hop", checkpointDir.isDefined)(
        sum(when(col("__od").isNull || col("d") < col("__od"), 1L)
          .otherwise(0L)).as("improved"))
      val improved = w("improved").asInstanceOf[Long]
      if (improved == 0) done = true // fixpoint: next ≡ dist (the union
      // keeps every standing node and min never increases)
      else dist = nextFull.select(col("node"), col("d"))
      hop += 1
    }
    dist.select(col("node"), col("d").as("dist"))
  }

  /**
   * Community detection by synchronous label propagation (Raghavan,
   * Albert & Kumara 2007) — near-linear-time community structure over
   * host graphs and co-occurrence graphs, the cheap first look before
   * anything spectral. This is the DETERMINISTIC synchronous variant:
   * every node simultaneously adopts its neighbors' most frequent
   * label, breaking count ties toward the SMALLEST label, for exactly
   * `iters` rounds. (Classic LPA randomizes update order and tie
   * breaks; an exactness-gated engine can't — fixed rounds plus a
   * total-order tie break make the result reproducible and
   * SQL-replayable round for round. Synchronous LPA can oscillate on
   * bipartite structures rather than converge, which a fixed round
   * count also sidesteps: the output is "labels after k propagation
   * rounds", a well-defined quantity.)
   *
   * Per round: ONE equi-join (undirected edge frame × labels, on the
   * edge's far end) feeding ONE (node, label)-keyed count aggregate,
   * then a per-node argmin over `(−count, label)` structs — an
   * aggregate, not a window, so there is no per-node sort; everything
   * that moves is (long, long[, count]) rows keyed by node. Same
   * per-round lineage-cut + `checkpointDir` reliability contract as
   * [[pageRank]]. Isolated labels stay fixed: every node in an edge
   * frame has ≥ 1 neighbor, so the argmin is always defined.
   *
   * Returns one row per node: (`node`, `community`) — the label (a
   * node id) after `iters` rounds; nodes sharing a label share a
   * community.
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 5,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val sc = edges.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      LineageCut.cut(df, reliable = checkpointDir.isDefined)
    val dir0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val und = cut(dir0
      .unionAll(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    require(!und.isEmpty, "labelPropagation on an empty edge frame")
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var i = 1
    while (i <= iters) {
      val counted = und.join(labels, und("dst") === labels("node"))
        .groupBy(und("src").as("n2"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // most frequent neighbor label, ties to the smallest label:
      // min over (−count, label) structs — lexicographic struct order
      // gives (highest count, then lowest label) without a window sort
      labels = counted
        .groupBy(col("n2").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("mx"))
        .select(col("node"), col("mx.lbl").as("lbl"))
      if (i % 3 == 0 && i < iters) labels = cut(labels)
      i += 1
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /**
   * Global transitivity ratio (Newman 2003): 3·triangles / wedges —
   * the probability that two neighbors of a node are themselves
   * linked, the one-number companion of [[clusteringCoefficient]]'s
   * per-node report (and NOT its mean — hubs weigh in proportionally
   * here). Corpus-curation use: a co-citation graph whose transitivity
   * collapses between snapshots signals link-farm injection.
   *
   * Exact arithmetic end to end: Σ per-node triangles (= 3T) and
   * Σ deg·(deg−1)/2 are exact longs; the ratio is their single IEEE
   * division, and `n_triangles` is an exact integer div by 3.
   *
   * Scale shape: [[clusteringCoefficient]]'s fused wedge enumeration
   * (gate and caveats verbatim) plus ONE one-row aggregate. Returns
   * one row: (`n_nodes`, `n_triangles`, `n_wedges`, `transitivity` —
   * NULL on wedge-free graphs, where the ratio is undefined).
   */
  def transitivity(edges: DataFrame, srcCol: String, dstCol: String,
                   maxBroadcastEdges: Long = 4L << 20,
                   checkpointDir: Option[String] = None): DataFrame = {
    clusteringCoefficient(edges, srcCol, dstCol, maxBroadcastEdges,
        checkpointDir)
      .agg(count(lit(1)).as("n_nodes"),
        sum("triangles").as("__t3"),
        sum(expr("degree * (degree - 1) div 2")).as("n_wedges"))
      .select(col("n_nodes"),
        expr("__t3 div 3").as("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          col("__t3").cast("double") / col("n_wedges").cast("double"))
          .as("transitivity"))
  }

  /**
   * Link prediction over the canonical undirected graph: score every
   * NON-adjacent node pair that shares at least `minCommon` neighbors
   * with the three classic neighborhood indices (Liben-Nowell & Kleinberg
   * 2003; Zhou, Lü & Zhang 2009) — common-neighbor count, Jaccard
   * coefficient, and Resource Allocation. Corpus-curation use: predicted
   * co-purchase / co-citation links are retrieval-augmentation candidates
   * and hard-negative mining seeds.
   *
   * Resource Allocation (Σ 1/deg(z) over shared neighbors z) is chosen
   * over Adamic-Adar (Σ 1/ln deg) deliberately: it outperforms AA in the
   * published benchmarks AND its per-middle term `1e6 div deg` is exact
   * integer arithmetic — no transcendental whose last-ulp differences
   * cross-engine could flip a rounded digit. `jaccard` = cn/(da+db−cn)
   * and `ra` = ra_micro/1e6 are each ONE IEEE division of exact longs,
   * so every output is bit-deterministic under any partitioning.
   *
   * Scale shape: the pair candidates are exactly the wedge set — for
   * each middle node z, the unordered pairs of its neighbors — i.e.
   * Σ C(deg(z), 2) rows, the same volume [[triangleCounts]] pipes. It
   * exists only between the fan-out join and the (a, b)-keyed aggregate
   * (keys + two longs move, map-side combined). Unlike the triangle
   * pass there is no orientation trick: a pair's shared neighbors must
   * ALL be enumerated, so super-hub middles genuinely cost deg² —
   * `maxMiddleDegree` (default 10⁴ ≈ 5·10⁷ wedges per worst hub) drops
   * middles above the cap, the standard approximation (a 10⁶-degree hub
   * contributes ≤ 1e-6·1e6 = 1 unit of RA mass spread over 5·10¹¹
   * pairs — noise, priced at deg² enumeration cost). Pass 0 to disable.
   * The existing-edge anti-join and the two degree joins run on the
   * AGGREGATED pair frame (already `minCommon`-pruned), not the wedge
   * stream.
   *
   * Returns (`a`, `b`, `common`, `jaccard`, `ra`) with a < b, only for
   * pairs NOT already linked.
   *
   * `maxBroadcastEdges` is [[triangleCounts]]' gate, same default: at
   * or under it the second wedge arm broadcasts, so fan-out and the
   * pair-keyed PARTIAL aggregate fuse into one map-side pipeline and
   * the wedge stream never touches an exchange — only combined
   * (pair, count, ra) partials shuffle. Above it, shuffled joins —
   * the honest distributed form. Pass 0 to force the shuffle path.
   */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     minCommon: Int = 2,
                     maxMiddleDegree: Long = 10000L,
                     maxBroadcastEdges: Long = 4L << 20): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    val canon = edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct()
    // the canonical frame feeds FIVE consumers (two und arms, the
    // anti-join, and deg's two final joins re-derive through it) and the
    // upstream edge derivation is often an expensive co-occurrence
    // self-join — persist it once (same caller-releases contract as
    // triangleCounts); deg is node-cardinality small, persist it too so
    // the three deg consumers don't re-aggregate the edge frame
    canon.persist()
    val und = canon.unionAll(
      canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    deg.persist()
    val mids0 = und.join(deg.withColumnRenamed("node", "a"), "a")
    val midsF = if (maxMiddleDegree > 0)
      mids0.filter(col("deg") <= maxMiddleDegree) else mids0
    // r18: the middle frame feeds BOTH wedge sides (m1 fan-out + m2
    // probe) — uncut, the und⋈deg subtree executed once per side
    // (profile: two ~17 s-CPU map sides at sf0.1). Cut once; then, when
    // the materialized frame landed on fewer partitions than the
    // session's shuffle width (AQE coalesces the small deg join to ~8
    // partitions while its wedge FAN-OUT writes 200+ MB — the
    // input-sized-but-output-heavy case §2.5 warns about), hash-
    // repartition on the wedge key so BOTH join sides co-partition at
    // full width: the explicit exchange replaces the SMJ's own two
    // exchanges (no net addition) and the quadratic wedge+aggregate map
    // side runs on every core. No-op at data scale (partitions already
    // ≥ the knob), same condition as LineageCut.cutFanout.
    val mids = LineageCut.cutFanoutBy(midsF, Seq("a"))
    // one stats job decides the broadcast gate AND 31-bit packability
    // (canon is persisted, so this materializes the cache it would
    // have populated anyway)
    val st = canon.agg(count(lit(1)).as("n"),
      min(col("a")).as("mn"), max(col("b")).as("mx")).head()
    val nEdges = st.getLong(0)
    val packable = nEdges > 0 && st.getLong(1) >= 0 &&
      st.getLong(2) < (1L << 31)
    // the broadcast candidate here is the UNDIRECTED arm — 2 rows per
    // canonical edge, double what triangleCounts ships — so the gate
    // compares the frame actually broadcast (2·nEdges) against the
    // budget; measured at the 4M-canonical tier the oversized
    // broadcast build cost MORE than the shuffled join it avoided
    val useBroadcast = maxBroadcastEdges > 0 &&
      2L * nEdges <= maxBroadcastEdges
    def bcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    // wedge fan-out from each middle z: unordered neighbor pairs, each
    // carrying z's exact-integer RA term; aggregate immediately on the
    // pair key so the wedge stream collapses into (key, long, long)
    // partial aggregates before anything else touches it — and under
    // the gate the fan-out side broadcasts, so nothing BUT those
    // partials ever reaches an exchange. When ids fit 31 bits the pair
    // key packs into ONE long (same dense-hash win as triangleCounts'
    // closure probe — the aggregate runs once per wedge, so its key
    // hashing is the per-wedge constant factor).
    val m1 = mids.select(col("a").as("z"), col("b").as("v1"),
      expr("1000000L div deg").as("ra_t"))
    val m2 = mids.select(col("a").as("z"), col("b").as("v2"))
    val wedges = m1.join(bcast(m2), Seq("z"))
      .filter(col("v1") < col("v2"))
    val pairs = (if (packable) {
      wedges
        .groupBy((shiftleft(col("v1"), 32) + col("v2")).as("pk"))
        .agg(count(lit(1)).as("common"), sum("ra_t").as("ra_micro"))
        .select(shiftright(col("pk"), 32).as("a"),
          (col("pk") - shiftleft(shiftright(col("pk"), 32), 32)).as("b"),
          col("common"), col("ra_micro"))
    } else {
      wedges
        .groupBy(col("v1").as("a"), col("v2").as("b"))
        .agg(count(lit(1)).as("common"), sum("ra_t").as("ra_micro"))
    }).filter(col("common") >= minCommon)
    val predicted = pairs.join(canon, Seq("a", "b"), "left_anti")
    predicted
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("da") + col("db") - col("common")).cast("double"))
          .as("jaccard"),
        (col("ra_micro").cast("double") / lit(1e6)).as("ra"))
  }

  /**
   * Newman modularity (Newman & Girvan 2004) of a node partition over
   * the canonical undirected graph: Q = Σ_c [m_c/m − (D_c/2m)²] — how
   * much denser within-community linking is than the degree-preserving
   * random expectation. The quality gate for any community assignment
   * ([[labelPropagation]]'s output, or a metadata partition like
   * brand/domain) before it is trusted for corpus stratification.
   *
   * Computed in EXACT integer arithmetic via the equivalent form
   * Q = (4m·Σm_c − ΣD_c²) / (4m²): m (canonical edge count), m_c
   * (intra-community edges), and D_c (total degree per community) are
   * exact longs, so the single final IEEE division is bit-deterministic
   * cross-engine. Long-safe to m ≈ 1.5·10⁹ edges (4m² < 2⁶³), checked
   * fail-loud rather than silently overflowed.
   *
   * Nodes absent from `communities` would make Q ill-defined (their
   * degree belongs to no community), so the graph is first restricted
   * to edges whose BOTH endpoints are labeled, and m / degrees are
   * recomputed on that labeled subgraph — self-consistent, stated.
   *
   * Scale shape: two node-keyed joins stamp endpoint communities, one
   * keys-only degree aggregate, one community-keyed aggregate each for
   * m_c and D_c, then three one-row scalars — no wedges, no iteration;
   * everything that moves is (long, long) pairs.
   *
   * Returns one row: (`n_edges`, `n_communities`, `intra_edges`,
   * `modularity`).
   */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 communities: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    val canon = edges
      .select(col(srcCol).cast("long").as("s0"),
        col(dstCol).cast("long").as("d0"))
      .filter(col("s0") =!= col("d0"))
      .select(least(col("s0"), col("d0")).as("a"),
        greatest(col("s0"), col("d0")).as("b"))
      .distinct()
    val comm = communities
      .select(col(nodeCol).cast("long").as("node"),
        col(commCol).cast("string").as("c"))
      .groupBy("node").agg(min("c").as("c")) // deterministic if multi-labeled
    val stamped = canon
      .join(comm.select(col("node").as("a"), col("c").as("ca")), "a")
      .join(comm.select(col("node").as("b"), col("c").as("cb")), "b")
    val byComm = stamped
      .select(explode(array(col("ca"), col("cb"))).as("c"),
        (col("ca") === col("cb")).cast("long").as("intra"))
      .groupBy("c")
      // D_c counts edge ENDPOINTS per community; each intra edge was
      // exploded into both its endpoints' (identical) community, so
      // halve its double-counted intra contribution at the end
      .agg(count(lit(1)).as("dc"), sum("intra").as("i2"))
    val tot = byComm.agg(
      (sum("dc") / 2).cast("long").as("m"),
      count(lit(1)).as("n_communities"),
      (sum("i2") / 2).cast("long").as("intra_edges"),
      sum(col("dc") * col("dc")).as("sum_dc2"))
    tot.select(
      when(col("m") > 1500000000L,
        raise_error(lit("modularity: edge count exceeds exact-long range")))
        .otherwise(col("m")).as("n_edges"),
      col("n_communities"), col("intra_edges"),
      ((lit(4L) * col("m") * col("intra_edges") - col("sum_dc2"))
        .cast("double") /
        (lit(4L) * col("m") * col("m")).cast("double")).as("modularity"))
  }
}

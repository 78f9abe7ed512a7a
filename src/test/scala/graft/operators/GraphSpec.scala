package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PageRank: pinned against an in-memory replication of the same damped
  * power iteration (identical formulation — dangling nodes leak their
  * damped mass, as documented in Graph.scala and mirrored by the SQL
  * oracle), plus structural properties. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Reference power iteration, same `r' = (1-d)/N + d·Σ_in r/deg` form. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => r(s) / outDeg(s) }.sum
      }
      r = nodes.map(nd => nd -> ((1 - d) / n + d * contrib.getOrElse(nd, 0.0))).toMap
    }
    r
  }

  // 1 and 3 form a cycle; 4 is dangling (in-edges only); 2 feeds 3
  private val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))

  test("pageRank matches the in-memory power iteration") {
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 10)
      .as[(Long, Double)].collect().toMap
    val expect = refPageRank(edges, iters = 10, d = 0.85)
    assert(got.keySet === expect.keySet)
    got.foreach { case (node, pr) =>
      assert(math.abs(pr - expect(node)) < 1e-12, s"node $node: $pr vs ${expect(node)}")
    }
    // the cycle hub (3, fed by 1 and 2) must outrank the leaf (2)
    assert(got(3L) > got(2L))
  }

  test("duplicate edges collapse; ranks sum to <= 1 (dangling leak)") {
    val dup = edges ++ edges // pageRank dedups edges internally
    val got = Graph.pageRank(dup.toDF("src", "dst"), "src", "dst", iters = 10)
      .as[(Long, Double)].collect().toMap
    val expect = refPageRank(edges, iters = 10, d = 0.85)
    got.foreach { case (node, pr) =>
      assert(math.abs(pr - expect(node)) < 1e-12)
    }
    // dangling node 4 absorbs then leaks its damped mass each round, so
    // total rank decays well below 1 by iteration 10 — assert the decayed
    // total agrees with the reference, and never exceeds 1
    val total = got.values.sum
    assert(total <= 1.0 + 1e-9, s"rank mass $total exceeds 1")
    assert(math.abs(total - expect.values.sum) < 1e-9)
  }

  /** Weighted reference: contribution w/Σ_out w, duplicate edges sum. */
  private def refWeighted(edges: Seq[(Long, Long, Double)], iters: Int,
                          d: Double): Map[Long, Double] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s, t), es) => (s, t, es.map(_._3).sum) }.toSeq
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size
    val outW = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _, w) => r(s) * w / outW(s) }.sum
      }
      r = nodes.map(nd => nd -> ((1 - d) / n + d * contrib.getOrElse(nd, 0.0))).toMap
    }
    r
  }

  test("weighted pageRank: w/sum(w) contributions; duplicate edges sum") {
    // 1 sends 3x its mass share to 2 vs 3; the duplicate (1,2) rows sum
    val wEdges = Seq((1L, 2L, 2.0), (1L, 2L, 1.0), (1L, 3L, 1.0),
      (2L, 3L, 5.0), (3L, 1L, 2.0))
    val got = Graph.pageRank(wEdges.toDF("src", "dst", "w"), "src", "dst",
        iters = 10, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    val expect = refWeighted(wEdges, iters = 10, d = 0.85)
    assert(got.keySet === expect.keySet)
    got.foreach { case (node, pr) =>
      assert(math.abs(pr - expect(node)) < 1e-12, s"node $node: $pr vs ${expect(node)}")
    }
    // weighting matters: 2 gets 3/4 of 1's mass here, vs 1/2 unweighted —
    // so weighted rank(2) must exceed the unweighted run's rank(2)
    val unweighted = Graph.pageRank(
      wEdges.map(e => (e._1, e._2)).toDF("src", "dst"), "src", "dst", iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(got(2L) > unweighted(2L))
  }

  test("weighted pageRank rejects non-positive and null weights loudly") {
    val bad = Seq((1L, 2L, 1.0), (2L, 1L, 0.0)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(bad, "src", "dst", iters = 2, weightCol = Some("w"))
    }
    assert(ex.getMessage.contains("positive"))
    // a NULL weight must fail, not silently vanish from the sum
    val withNull = Seq((1L, 2L, Option(1.0)), (2L, 1L, Option.empty[Double]))
      .toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRank(withNull, "src", "dst", iters = 2, weightCol = Some("w"))
    }
  }

  test("weighted pageRank rejects a NaN weight mixed with positive weights") {
    // min() orders NaN above every real value, so a min-only guard would
    // return the positive minimum and let the NaN poison every rank —
    // the explicit NaN count must catch it
    val withNaN = Seq((1L, 2L, 1.0), (2L, 3L, Double.NaN), (3L, 1L, 2.0))
      .toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(withNaN, "src", "dst", iters = 2, weightCol = Some("w"))
    }
    assert(ex.getMessage.contains("NaN"))
  }

  test("reliable-checkpoint mode matches localCheckpoint results exactly") {
    // cluster mode truncates lineage into the checkpoint dir (survives
    // executor loss) — the numbers must be bit-identical to the
    // local-mode default
    val local = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
      iters = 7).as[(Long, Double)].collect().toMap
    try withTempDir("graft-pr-ckpt") { dir =>
      val rel = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
          iters = 7, checkpointDir = Some(dir.toString))
        .as[(Long, Double)].collect().toMap
      assert(rel === local)
      // the reliable files actually landed (the mode really switched)
      val wrote = java.nio.file.Files.walk(dir).count() > 1
      assert(wrote, "reliable checkpoint wrote nothing under the dir")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  /** Reference with dangling-mass redistribution: ranks conserve mass. */
  private def refDangling(edges: Seq[(Long, Long)], iters: Int,
                          d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size }
    val dangling = nodes.filterNot(outDeg.contains)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = dangling.map(r).sum
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => r(s) / outDeg(s) }.sum
      }
      r = nodes.map(nd =>
        nd -> ((1 - d) / n + d * (contrib.getOrElse(nd, 0.0) + dm / n))).toMap
    }
    r
  }

  test("redistributeDangling conserves rank mass (sum == 1)") {
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 10, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    val expect = refDangling(edges, iters = 10, d = 0.85)
    assert(got.keySet === expect.keySet)
    got.foreach { case (node, pr) =>
      assert(math.abs(pr - expect(node)) < 1e-12, s"node $node: $pr vs ${expect(node)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9,
      s"mass-conserving ranks must sum to 1, got ${got.values.sum}")
    // default mode on the same graph leaks mass — the option changes it
    val leaky = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
      iters = 10).as[(Long, Double)].collect().toMap
    assert(leaky.values.sum < 0.999)
  }

  test("pageRank drops edge rows with a null endpoint") {
    val clean = edges.map { case (s, d) => (Option(s), Option(d)) }
    def ranks(rows: Seq[(Option[Long], Option[Long])], weighted: Boolean): Map[Long, Double] = {
      val df = rows.toDF("src", "dst").withColumn("w", lit(1.0))
      Graph.pageRank(df, "src", "dst", iters = 10,
          weightCol = if (weighted) Some("w") else None)
        .as[(Long, Double)].collect().toMap
    }
    for (weighted <- Seq(false, true)) {
      val want = ranks(clean, weighted)
      assert(ranks(clean :+ (Some(2L), None), weighted) === want, s"null dst, weighted = $weighted")
      assert(ranks(clean :+ (None, Some(3L)), weighted) === want, s"null src, weighted = $weighted")
    }
  }

  test("pageRank validates its inputs") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    }
  }

  /** Reference HITS: same alternating L2-normalized sums. */
  private def refHits(edges: Seq[(Long, Long)], iters: Int)
  : Map[Long, (Double, Double)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var h = nodes.map(_ -> 1.0).toMap
    var a = nodes.map(_ -> 0.0).toMap
    def l2(m: Map[Long, Double]): Map[Long, Double] = {
      val n = math.sqrt(m.values.map(x => x * x).sum)
      m.map { case (k, v) => k -> v / n }
    }
    for (_ <- 1 to iters) {
      a = l2(nodes.map(nd =>
        nd -> e.filter(_._2 == nd).map(ed => h(ed._1)).sum).toMap)
      h = l2(nodes.map(nd =>
        nd -> e.filter(_._1 == nd).map(ed => a(ed._2)).sum).toMap)
    }
    nodes.map(nd => nd -> ((h(nd), a(nd)))).toMap
  }

  test("hits matches the in-memory alternating iteration; dup edges collapse") {
    val got = Graph.hits((edges ++ edges).toDF("src", "dst"), "src", "dst",
        iters = 5)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expect = refHits(edges, iters = 5)
    assert(got.keySet === expect.keySet)
    got.foreach { case (node, (hub, auth)) =>
      assert(math.abs(hub - expect(node)._1) < 1e-12, s"hub $node")
      assert(math.abs(auth - expect(node)._2) < 1e-12, s"auth $node")
    }
    // structure: 3 is the top authority (fed by 1 AND 2); 1 is a strong
    // hub (links to 2 and 3); the dangling sink 4 has hub exactly 0
    assert(got(3L)._2 > got(2L)._2)
    assert(got(4L)._1 === 0.0)
    // L2 norms are 1 after the final round
    assert(math.abs(got.values.map(v => v._1 * v._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(v => v._2 * v._2).sum - 1.0) < 1e-9)
  }

  test("hits: reliable-checkpoint mode returns identical scores") {
    val local = Graph.hits(edges.toDF("src", "dst"), "src", "dst", iters = 4)
      .as[(Long, Double, Double)].collect().toSet
    try withTempDir("graft-hits-ck") { dir =>
      val rel = Graph.hits(edges.toDF("src", "dst"), "src", "dst", iters = 4,
          checkpointDir = Some(dir.toString))
        .as[(Long, Double, Double)].collect().toSet
      assert(rel === local)
    } finally spark.sparkContext.setCheckpointDir(null) // restore shared-session state
  }

  // ── connected components ────────────────────────────────────────────

  /** Reference: flat union-find over the undirected edge set. */
  private def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  test("connectedComponents labels every node with its component min") {
    // two components (a 4-chain and a triangle), plus a self-loop and
    // duplicate/reversed edges that must all collapse
    val e = Seq((10L, 11L), (11L, 12L), (12L, 13L), // chain
      (20L, 21L), (21L, 22L), (22L, 20L), // triangle
      (13L, 13L), (11L, 10L), (10L, 11L)) // self-loop + dup + reverse
    val got = Graph.connectedComponents(e.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    val expect = refComponents(e.filter(p => p._1 != p._2))
    assert(got === expect)
    assert(got(13L) === 10L && got(20L) === 20L)
  }

  test("connectedComponents: driver union-find == distributed loop") {
    val e = Seq((10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L))
    val driver = Graph.connectedComponents(e.toDF("src", "dst"),
        "src", "dst").as[(Long, Long)].collect().toSet
    val loop = Graph.connectedComponents(e.toDF("src", "dst"),
        "src", "dst", maxDriverEdges = 0).as[(Long, Long)].collect().toSet
    assert(driver === loop)
    assert(driver === refComponents(e).toSet)
  }

  test("triangleCounts: shuffled closure == broadcast closure") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 4L)) // K4 + extra triangle
    val bc = Graph.triangleCounts(e.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toSet
    val shuffled = Graph.triangleCounts(e.toDF("src", "dst"), "src", "dst",
        maxBroadcastEdges = 0).as[(Long, Long)].collect().toSet
    assert(bc === shuffled)
    assert(bc.toMap.apply(4L) === 4L) // 4 sits in K4's three + the tail one
  }

  test("connectedComponents converges on a long path in few rounds") {
    // a 64-node path has diameter 63; pointer-jumping must close it
    // well inside the default 30-round budget (bare neighbor-min would
    // need 63)
    val e = (0L until 63L).map(i => (i, i + 1))
    val got = Graph.connectedComponents(e.toDF("src", "dst"), "src", "dst",
        maxIter = 10, maxDriverEdges = 0) // force the distributed loop
      .as[(Long, Long)].collect().toMap
    assert(got.size === 64 && got.values.forall(_ == 0L))
  }

  test("connectedComponents fails loudly when maxIter is too small") {
    val e = (0L until 63L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      Graph.connectedComponents(e.toDF("src", "dst"), "src", "dst",
        maxIter = 2, maxDriverEdges = 0).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  // ── triangle counts ─────────────────────────────────────────────────

  test("triangleCounts matches hand-enumerated triangles, zeros included") {
    // K4 on {1..4} (4 triangles, 3 per node) + pendant 5 (0 triangles)
    // + a detached star 6-(7,8,9) (0 triangles anywhere)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (6L, 7L), (6L, 8L), (6L, 9L),
      (2L, 1L), (3L, 3L)) // reversed dup + self-loop must not count
    val got = Graph.triangleCounts(e.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    val expect = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L,
      6L -> 0L, 7L -> 0L, 8L -> 0L, 9L -> 0L)
    assert(got === expect)
  }

  test("triangleCounts on a bipartite graph is all zeros") {
    val e = for (a <- 1L to 3L; b <- 10L to 13L) yield (a, b)
    val got = Graph.triangleCounts(e.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect()
    assert(got.length === 7 && got.forall(_._2 == 0L))
  }

  // ── k-core ──────────────────────────────────────────────────────────

  test("kCore peels to the unique fixpoint") {
    // K4 core {1..4} with a 2-chain tail 4-5-6: at k=3 the tail peels
    // in two rounds (6 first, then 5), leaving exactly the K4 with
    // in-core degree 3 each
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (5L, 6L))
    val got = Graph.kCore(e.toDF("src", "dst"), "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore returns empty when no core exists; fails loudly on truncation") {
    val chain = (1L to 5L).sliding(2).map(s => (s.head, s.last)).toSeq
    assert(Graph.kCore(chain.toDF("src", "dst"), "src", "dst", k = 2)
      .isEmpty) // a path has no 2-core
    // a 12-path at k=2 peels one LAYER per round (only the current
    // endpoints are below k), needing ~6 rounds to empty; cap at 2
    val path = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
    val ex = intercept[IllegalStateException] {
      Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2,
        maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  /** Reference PERSONALIZED power iteration: teleport uniform on seeds. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
                     iters: Int, d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size }
    val base = (1 - d) / seeds.size
    var r = nodes.map(nd =>
      nd -> (if (seeds.contains(nd)) 1.0 / seeds.size else 0.0)).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => r(s) / outDeg(s) }.sum
      }
      r = nodes.map(nd => nd ->
        ((if (seeds.contains(nd)) base else 0.0) +
          d * contrib.getOrElse(nd, 0.0))).toMap
    }
    r
  }

  test("personalized pageRank matches the seed-teleport reference") {
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 10, teleportTo = Some(Seq(1L)))
      .as[(Long, Double)].collect().toMap
    val expect = refPpr(edges, Seq(1L), iters = 10, d = 0.85)
    assert(got.keySet === expect.keySet)
    got.foreach { case (node, pr) =>
      assert(math.abs(pr - expect(node)) < 1e-12, s"node $node")
    }
    // seed proximity dominates: 1's direct successors outrank the
    // dangling leaf 4 two hops out
    assert(got(3L) > got(4L) && got(2L) > got(4L))
    // and the seed itself holds the teleport floor
    assert(got(1L) > 0.15 - 1e-9)
  }

  test("personalized pageRank validates seeds and mode exclusivity") {
    val df = edges.toDF("src", "dst")
    val absent = intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iters = 2,
        teleportTo = Some(Seq(1L, 99L)))
    }
    assert(absent.getMessage.contains("absent"))
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iters = 2,
        teleportTo = Some(Seq(1L)), redistributeDangling = true)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iters = 2, teleportTo = Some(Nil))
    }
  }

  test("bfsLevels: hand-traced hop levels on a path + branch") {
    import spark.implicits._
    // 1-2-3-4 path, 2-5 branch, 8-9 disconnected
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graph.bfsLevels(e, "src", "dst", sources = Seq(1L),
        maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 5L -> 2))
    // maxHops caps the walk; full walk reaches 4 at level 3
    val full = Graph.bfsLevels(e, "src", "dst", Seq(1L), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(full === Map(1L -> 0, 2L -> 1, 3L -> 2, 5L -> 2, 4L -> 3))
  }

  test("bfsLevels: directed mode follows edge direction; multi-source min") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val directed = Graph.bfsLevels(e, "src", "dst", Seq(3L), maxHops = 5,
        undirected = false)
      .as[(Long, Int)].collect().toMap
    assert(directed === Map(3L -> 0)) // no out-edges from 3
    // multi-source: a node reachable from two seeds takes the min level,
    // and a seed absent from the graph still reports level 0
    val multi = Graph.bfsLevels(e, "src", "dst", Seq(1L, 4L, 99L),
        maxHops = 5, undirected = false)
      .as[(Long, Int)].collect().toMap
    assert(multi === Map(1L -> 0, 4L -> 0, 99L -> 0, 2L -> 1, 3L -> 1))
    intercept[IllegalArgumentException] {
      Graph.bfsLevels(e, "src", "dst", Seq.empty, maxHops = 1)
    }
  }

  test("clusteringCoefficient: K4+pendant hand values, degree<2 null") {
    import spark.implicits._
    // K4 on {1,2,3,4} (coeff 1.0, 3 triangles each, deg 3) plus
    // pendant 5-1 (node 5: deg 1 → null; node 1: deg 4, still 3 tris
    // → 2·3/(4·3) = 0.5)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(e, "src", "dst")
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 3L, Some(0.5))))
    assert(got(2L) === ((2L, 3L, 3L, Some(1.0))))
    assert(got(3L)._4 === Some(1.0) && got(4L)._4 === Some(1.0))
    assert(got(5L) === ((5L, 1L, 0L, None)))
  }

  test("shortestPaths: weighted relaxation beats the direct edge; hop cap") {
    import spark.implicits._
    // 1-2 (5), 2-3 (1), 1-3 (10): two-hop route costs 6 vs direct 10
    val e = Seq((1L, 2L, 5.0), (2L, 3L, 1.0), (1L, 3L, 10.0))
      .toDF("src", "dst", "w")
    val oneHop = Graph.shortestPaths(e, "src", "dst", Seq(1L),
        maxHops = 1, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(oneHop === Map(1L -> 0.0, 2L -> 5.0, 3L -> 10.0))
    val twoHop = Graph.shortestPaths(e, "src", "dst", Seq(1L),
        maxHops = 2, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(twoHop === Map(1L -> 0.0, 2L -> 5.0, 3L -> 6.0))
  }

  test("shortestPaths: dup edges keep min weight; guards; hop-count default") {
    import spark.implicits._
    val dup = Seq((1L, 2L, 5.0), (1L, 2L, 3.0)).toDF("src", "dst", "w")
    val got = Graph.shortestPaths(dup, "src", "dst", Seq(1L), maxHops = 3,
        weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(got === Map(1L -> 0.0, 2L -> 3.0))
    // unweighted: every edge costs 1 (bfs with double distances)
    val hops = Graph.shortestPaths(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst",
        Seq(1L), maxHops = 5)
      .as[(Long, Double)].collect().toMap
    assert(hops === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
    val neg = Seq((1L, 2L, -1.0)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.shortestPaths(neg, "src", "dst", Seq(1L), maxHops = 2,
        weightCol = Some("w"))
    }
    assert(ex.getMessage.contains(">= 0"))
    val nullW = Seq((Some(1L), Some(2L), None: Option[Double]))
      .toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.shortestPaths(nullW, "src", "dst", Seq(1L), maxHops = 2,
        weightCol = Some("w"))
    }
  }

  test("shortestPaths: exactly one Spark action per hop (witness rides the cut)") {
    import spark.implicits._
    // The early-exit witness is an Observation summed inside each
    // hop's own lineage-cut materialization job — a reintroduced
    // separate witness action (the pre-r10 keys-only join per hop)
    // would add one job per hop and fail this count. AQE is disabled
    // for the measurement: it splits one action into one job per
    // shuffle stage, which would make the count plan- rather than
    // action-shaped. Listener delivery is async — poll to stability.
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var prev = -1
      var cur = counter.get()
      var waited = 0
      while (cur != prev && waited < 5000) {
        prev = cur; Thread.sleep(100); waited += 100; cur = counter.get()
      }
      cur
    }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      def jobsFor(maxHops: Int): Int = {
        val s0 = settled()
        // the frontier keeps improving on an 8-node path, so no early
        // exit: the loop runs exactly maxHops rounds
        Graph.shortestPaths(path, "src", "dst", Seq(1L), maxHops = maxHops)
        settled() - s0
      }
      // setup = 2 cut jobs (canonical edges, seed distances); each hop
      // = exactly 1 ACTION, which at this size schedules 2 jobs: the
      // broadcast-exchange build of the dist side (spawned async by
      // the join) + the cut materialization the Observation rides. A
      // reintroduced per-hop witness action would make it 3 per hop.
      val twoHops = jobsFor(2)
      val fiveHops = jobsFor(5)
      assert(twoHops === 2 + 2 * 2, s"maxHops=2 ran $twoHops jobs")
      assert(fiveHops === 2 + 5 * 2, s"maxHops=5 ran $fiveHops jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("labelPropagation: two cliques with a bridge separate; deterministic ties") {
    import spark.implicits._
    // triangle {1,2,3} + triangle {10,11,12} + bridge 3-10
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(e, "src", "dst", iters = 5)
      .as[(Long, Long)].collect().toMap
    // hand-traced: the left triangle coalesces on label 1; the right
    // one stabilizes on label 3 (node 10's min-tie adopts the bridge
    // neighbor's id in round 1, and it propagates) — two distinct
    // communities with node 3 itself on the LEFT side
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(Set(10L, 11L, 12L).map(got) === Set(3L))
  }

  test("labelPropagation: one round on a star adopts the hub's minimum rule") {
    import spark.implicits._
    // star: hub 5, leaves 1..4. Round 1: every leaf sees only the hub
    // (label 5); the hub sees {1,2,3,4}, all count 1 → tie to 1.
    val e = Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(e, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(5L -> 1L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L))
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(e, "src", "dst", iters = 0)
    }
  }

  test("neighborAgg: hand-computed two-round means; unfeatured nodes skip") {
    import spark.implicits._
    // path 1-2-3-4; features x(1)=10, x(2)=20, x(3)=40; node 4 unfeatured
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val x = Seq((1L, 10.0), (2L, 20.0), (3L, 40.0)).toDF("node", "x")
    val got = Graph.neighborAgg(e, "src", "dst", x, "node", "x")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 1L, Some(20.0), Some(25.0))))
    assert(got(2L) === ((2L, 2L, Some(25.0), Some(20.0))))
    assert(got(3L) === ((3L, 2L, Some(20.0), Some(32.5))))
    assert(got(4L) === ((4L, 1L, Some(40.0), Some(20.0))))
  }

  test("neighborAgg m2 is the 1e-6-quantized mean, not a rounded avg") {
    import spark.implicits._
    // star 2-{1,3,4}: m1(2) = 2/3 never terminates; each leaf's m2 must
    // be floor(m1(2)·1e6)/1e6 = 0.666666 EXACTLY (the deterministic
    // quantization contract) — a rounded avg would say 0.666667
    val e = Seq((2L, 1L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val x = Seq((1L, 1.0), (3L, 1.0), (4L, 0.0)).toDF("node", "x")
    val got = Graph.neighborAgg(e, "src", "dst", x, "node", "x")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val expected = 666666.0 / 1.0 / 1e6
    assert(got(1L)._4 === Some(expected))
    assert(got(3L)._4 === Some(expected))
    assert(got(4L)._4 === Some(expected))
  }

  test("assortativity: star is maximally disassortative; cycle is degree-regular null") {
    import spark.implicits._
    // star K1,3: every edge joins deg-3 hub to deg-1 leaf -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val r = Graph.assortativity(star, "src", "dst")
      .as[(Long, Option[Double])].head()
    assert(r._1 === 3L && r._2 === Some(-1.0))
    // 4-cycle: all degrees 2 -> zero variance -> NULL, not a crash
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val rc = Graph.assortativity(cyc, "src", "dst")
      .as[(Long, Option[Double])].head()
    assert(rc._1 === 4L && rc._2.isEmpty)
  }

  test("kTruss: K4 survives a 4-truss, appendages peel; fail-loud cap") {
    import spark.implicits._
    // K4 {1,2,3,4} + triangle spur {3,4,5} + pendant 1-9
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L), (1L, 9L)).toDF("src", "dst")
    val got = Graph.kTruss(e, "src", "dst", k = 4)
      .as[(Long, Long)].collect().toSet
    // spur edges have support 1 < 2 and peel; K4's six edges remain
    assert(got === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    // triangle-free graph: empty truss is an answer
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    assert(Graph.kTruss(cyc, "src", "dst", k = 3).count() === 0L)
    // truncation fails loud (this peel needs 2+ rounds to stabilize)
    intercept[IllegalStateException] {
      Graph.kTruss(e, "src", "dst", k = 4, maxIter = 1).collect()
    }
    intercept[IllegalArgumentException] {
      Graph.kTruss(e, "src", "dst", k = 2)
    }
  }

  test("harmonicCentrality: exact hop-quantized sums; isolated seed scores 0") {
    import spark.implicits._
    // path 1–2–3–4–5: from seed 1 within 3 hops reach 2@1, 3@2, 4@3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.harmonicCentrality(e, "src", "dst",
        seeds = Seq(1L, 3L, 9L), maxHops = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 1833333.0 / 1e6)))
    // seed 3 is central: 2@1, 4@1, 1@2, 5@2 → 2·1e6 + 2·5e5
    assert(got(3L) === ((3L, 4L, 3000000.0 / 1e6)))
    // seed 9 is not in the graph: trivially at distance 0 of itself,
    // reaches nothing → exactly 0, not NULL
    assert(got(9L) === ((9L, 0L, 0.0)))
    intercept[IllegalArgumentException] {
      Graph.harmonicCentrality(e, "src", "dst", Seq(1L, 1L), maxHops = 2)
    }
  }

  test("transitivity: exact 3T/W on K4+pendant; zero and undefined cases") {
    import spark.implicits._
    // K4 {1,2,3,4} + pendant 1–9: T = 4, wedges = C(4,2) + 3·C(3,2) = 15
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 9L)).toDF("src", "dst")
    val got = Graph.transitivity(e, "src", "dst")
      .as[(Long, Long, Long, Option[Double])].head()
    assert(got === ((5L, 4L, 15L, Some(12.0 / 15.0))))
    // triangle-free 5-cycle: 5 wedges, 0 triangles → exactly 0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val gc = Graph.transitivity(cyc, "src", "dst")
      .as[(Long, Long, Long, Option[Double])].head()
    assert(gc === ((5L, 0L, 5L, Some(0.0))))
    // a single edge has no wedge: ratio is undefined → NULL, not NaN
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val g1 = Graph.transitivity(one, "src", "dst")
      .as[(Long, Long, Long, Option[Double])].head()
    assert(g1 === ((2L, 0L, 0L, None)))
  }

  test("linkPrediction: exact CN/Jaccard/RA; adjacent pairs excluded; middle cap prunes") {
    import spark.implicits._
    // degrees: 1→2, 2→3, 3→3, 4→3, 5→1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val got = Graph.linkPrediction(e, "src", "dst", minCommon = 1)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // exactly the three non-adjacent pairs sharing ≥1 neighbor
    assert(got.keySet === Set((1L, 4L), (2L, 5L), (3L, 5L)))
    // (1,4): shared {2,3}; J = 2/(2+3−2); RA = ⌊1e6/3⌋·2 / 1e6
    assert(got((1L, 4L))._3 === 2L)
    assert(got((1L, 4L))._4 === 2.0 / 3.0)
    assert(got((1L, 4L))._5 === 666666.0 / 1e6)
    // (2,5) and (3,5): shared {4} (deg 3)
    Seq((2L, 5L), (3L, 5L)).foreach { p =>
      assert(got(p)._3 === 1L)
      assert(got(p)._4 === 1.0 / 3.0)
      assert(got(p)._5 === 333333.0 / 1e6)
    }
    // minCommon = 2 keeps only the two-witness pair
    val strict = Graph.linkPrediction(e, "src", "dst", minCommon = 2)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(strict.map(r => (r._1, r._2)).toSet === Set((1L, 4L)))
    // capping middles at degree ≤ 2 leaves only node 1 as a middle,
    // whose lone neighbor pair (2,3) is adjacent → nothing predicted
    assert(Graph.linkPrediction(e, "src", "dst", minCommon = 1,
      maxMiddleDegree = 2L).count() === 0L)
  }

  test("linkPrediction: unpackable ids and forced-shuffle path match the fused path") {
    import spark.implicits._
    val big = 1L << 40 // past 31 bits → the packed pair key is illegal
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val eBig = e.select((col("src") + big).as("src"),
      (col("dst") + big).as("dst"))
    val base = Graph.linkPrediction(e, "src", "dst", minCommon = 1)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    val shifted = Graph.linkPrediction(eBig, "src", "dst", minCommon = 1)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1 - big, r._2 - big, r._3, r._4, r._5)).toSet
    assert(shifted === base)
    // forcing the shuffle path (gate 0) is bit-identical too
    val shuffled = Graph.linkPrediction(e, "src", "dst", minCommon = 1,
        maxBroadcastEdges = 0L)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    assert(shuffled === base)
  }

  test("modularity: exact Q for two bridged triangles; unlabeled endpoints drop") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3–4:
    // m = 7, intra = 6, D_x = D_y = 7 → Q = (4·7·6 − 2·49)/(4·49) = 70/196
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y"), (5L, "y"), (6L, "y")).toDF("node", "c")
    val got = Graph.modularity(e, "src", "dst", comm, "node", "c")
      .as[(Long, Long, Long, Double)].head()
    assert(got === ((7L, 2L, 6L, 70.0 / 196.0)))
    // an edge to an unlabeled node is excluded, leaving Q unchanged
    val e2 = e.union(Seq((6L, 7L)).toDF("src", "dst"))
    val got2 = Graph.modularity(e2, "src", "dst", comm, "node", "c")
      .as[(Long, Long, Long, Double)].head()
    assert(got2 === got)
    // a multi-labeled node resolves to its MIN label, deterministically
    val comm2 = comm.union(Seq((1L, "z")).toDF("node", "c"))
    val got3 = Graph.modularity(e, "src", "dst", comm2, "node", "c")
      .as[(Long, Long, Long, Double)].head()
    assert(got3 === got)
    // the all-in-one-community partition scores 1 − 1/1 = ... exactly
    // (4m·m − (2m)²)/(4m²) = 0 — intra density equals expectation
    val one = Seq.tabulate(6)(i => (i + 1L, "all")).toDF("node", "c")
    val g1 = Graph.modularity(e, "src", "dst", one, "node", "c")
      .as[(Long, Long, Long, Double)].head()
    assert(g1._3 === 7L && g1._4 === 0.0)
  }
}

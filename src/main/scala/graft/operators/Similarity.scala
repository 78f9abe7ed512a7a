package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.LineageCut._

/** Reduces results that arrive in any order, indexed 0 until n, to
  * `merge(…merge(r0, r1)…, rn-1)`: result i is merged as soon as every
  * earlier one is, so only the results that arrive ahead of their turn
  * are held. Not thread-safe: the caller serializes [[add]]. */
private[operators] final class InOrderFold[U](merge: (U, U) => U) {
  private val early = scala.collection.mutable.Map.empty[Int, U]
  private var next = 0
  private var acc: Option[U] = None

  def add(i: Int, u: U): Unit = {
    early(i) = u
    while (early.contains(next)) {
      val r = early.remove(next).get
      acc = Some(acc.fold(r)(merge(_, r)))
      next += 1
    }
  }

  /** Results held until an earlier one arrives. */
  def held: Int = early.size

  def result: U = {
    require(early.isEmpty && acc.nonEmpty, s"result $next has not arrived")
    acc.get
  }
}

/**
 * Similarity search over embedding columns (mission extension, SURVEY.md
 * §7.4): brute-force cosine top-k as the exact baseline, LSH-bucketed ANN
 * as the 100 TB scale path.
 *
 * All arithmetic in double (floats widened per element) with left-to-right
 * `aggregate` folds — deterministic and engine-comparable.
 */
object Similarity {

  /** dot(a, b) over array<float/double> columns via zip_with + aggregate
    * (codegen'd higher-order functions, no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity — native codegen'd expression (the zip_with/
    * aggregate composition above is CodegenFallback: interpreted lambdas,
    * ~1000× slower per pair; keep HOF forms for ad-hoc column math only). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Vectors.cosineSim(a, b)

  /**
   * Exact top-k neighbors for each query vector, brute force, in ONE pass
   * over the corpus with map-side reduction: each partition keeps a
   * bounded heap per (broadcast) query, so the only shuffle carries
   * ≤ k·|Q| rows per partition — never the |Q|×|C| scored cross product
   * (a window rank over the cross join shuffles everything; at 10⁹ corpus
   * rows that is the difference between gigabytes and petabytes moved).
   *
   * Ties break deterministically by ascending corpus id.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qRows)

    // (cosine desc, id asc) best-first ⇒ heap root = worst kept entry
    val ord = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, cos) => (-cos, id)
    }

    val local = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].rdd
      .mapPartitions { rows =>
        val qs = qB.value
        val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord))
        rows.foreach { case (id, vec) =>
          var qi = 0
          while (qi < qs.length) {
            val qv = qs(qi)._2
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            val n = math.min(vec.length, qv.length)
            while (i < n) {
              val x = vec(i).toDouble; val y = qv(i).toDouble
              dot += x * y; na += x * x; nb += y * y; i += 1
            }
            // exactly Spark's round(_, 6): BigDecimal HALF_UP on the
            // shortest decimal form (rint/floor tricks are half-even and
            // diverge on representation boundaries)
            val cos = java.math.BigDecimal
              .valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            val h = heaps(qi)
            if (h.size < k) h.enqueue((id, cos))
            else {
              val (wid, wcos) = h.head // worst kept
              if (cos > wcos || (cos == wcos && id < wid)) {
                h.dequeue(); h.enqueue((id, cos))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (id, cos) => (qs(qi)._1, id, cos) }
        }
      }
      .toDF(queryIdCol, "nn_id", "cosine")

    // merge partition-local top-k sets: tiny (≤ k·|Q|·partitions rows)
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /** Long label key for negative mining: integral types widen
    * losslessly; strings hash via xxhash64 (equality-preserving, see
    * [[hardNegatives]]); anything else fails loudly — a silent
    * fractional cast would collapse distinct labels. */
  private def labelKey(df: DataFrame, labelCol: String): Column = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    df.schema(labelCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(labelCol).cast("long")
      case StringType => xxhash64(col(labelCol))
      case dt => throw new IllegalArgumentException(
        s"label column '$labelCol' must be an integral or string type " +
          s"for lossless negative-label comparison; got ${dt.simpleString}")
    }
  }

  /**
   * Contrastive hard-negative mining: for each query vector, the k
   * corpus vectors MOST cosine-similar among those with a DIFFERENT
   * label (the "hard" negatives an embedding/reranker trainer wants —
   * near the query but provably not its class).
   *
   * Exact form, same streamed shape as [[bruteForceTopK]]: queries are
   * collected and broadcast (the query set is the small side by
   * contract), the corpus streams once through partition-local k-heaps —
   * no shuffle of corpus vectors, merge cost ≤ k·|Q|·partitions rows.
   * Rows with a NULL label on either side are excluded: a null cannot
   * prove the labels differ, and a mined "negative" that silently shares
   * the query's class would poison the contrastive loss.
   *
   * Labels must be integral (widened losslessly to long) or string
   * (compared via xxhash64 of the bytes — equality-preserving; a 64-bit
   * collision equating two DISTINCT labels is ~2^-64 and errs on the
   * EXCLUDE side, never minting a false negative pair). Fractional or
   * other label types fail loudly — a silent cast would collapse
   * distinct labels.
   *
   * At 100 TB the same heap pass applies per corpus split; for very
   * large query sets compose [[ivfTopK]] with an oversampled k and
   * label filter instead (see [[hardNegativesIvf]]).
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label",
                    queryIdCol: String = "query_id"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Float], Long)] = queries
      .filter(col(labelCol).isNotNull)
      .select(col(queryIdCol).cast("long"), col(vecCol),
        labelKey(queries, labelCol))
      .as[(Long, Array[Float], Long)].collect()
    val qB = spark.sparkContext.broadcast(qRows)

    val ord = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, cos) => (-cos, id)
    }

    val local = corpus.filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol), labelKey(corpus, labelCol))
      .as[(Long, Array[Float], Long)].rdd
      .mapPartitions { rows =>
        val qs = qB.value
        val heaps = qs.map(_ =>
          new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord))
        rows.foreach { case (id, vec, lab) =>
          var qi = 0
          while (qi < qs.length) {
            if (qs(qi)._3 != lab) { // negatives only: label must differ
              val qv = qs(qi)._2
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              val n = math.min(vec.length, qv.length)
              while (i < n) {
                val x = vec(i).toDouble; val y = qv(i).toDouble
                dot += x * y; na += x * x; nb += y * y; i += 1
              }
              // Spark round(_, 6) semantics — see bruteForceTopK
              val cos = java.math.BigDecimal
                .valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              val h = heaps(qi)
              if (h.size < k) h.enqueue((id, cos))
              else {
                val (wid, wcos) = h.head
                if (cos > wcos || (cos == wcos && id < wid)) {
                  h.dequeue(); h.enqueue((id, cos))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (id, cos) => (qs(qi)._1, id, cos) }
        }
      }
      .toDF(queryIdCol, "nn_id", "cosine")

    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    local.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * Hard-negative mining through the IVF shortlist (scale path for
   * LARGE query sets, where broadcasting queries is off the table):
   * [[ivfTopK]] with an oversampled k' = k·`oversample`, labels joined
   * back on the 8-byte id key, same-label candidates dropped, re-ranked
   * to k. Approximate exactly where ivfTopK is (cell recall); the label
   * filter itself is exact. NULL-label rows are excluded as in
   * [[hardNegatives]].
   */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, k: Int,
                       oversample: Int = 4, numCells: Int = 64,
                       nProbe: Int = 8,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label",
                       queryIdCol: String = "query_id"): DataFrame = {
    require(oversample >= 2, "oversample must leave room for same-label hits")
    val c = corpus.filter(col(labelCol).isNotNull)
    val q = queries.filter(col(labelCol).isNotNull)
    val labels = c.select(col(idCol).cast("long").as("nn_id"),
      labelKey(c, labelCol).as("__nn_label"))
    val qLabels = q.select(col(queryIdCol).cast("long").as(queryIdCol),
      labelKey(q, labelCol).as("__q_label"))
    val shortlist = ivfTopK(c, q, k * oversample, numCells = numCells,
      nProbe = nProbe, idCol = idCol, vecCol = vecCol,
      queryIdCol = queryIdCol)
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    shortlist
      .join(labels, Seq("nn_id"))
      .join(broadcast(qLabels), Seq(queryIdCol))
      .filter(col("__nn_label") =!= col("__q_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * ANN via int8 SCALAR quantization (SQ8 — the third compression path
   * next to IVF cells and PQ codes): each float32 dimension maps
   * affinely to one unsigned byte using per-dimension corpus [min, max]
   * (4× smaller vectors ⇒ 4× less memory traffic on the scan pass); the
   * k·`rerankFactor` shortlist per query is mined from the CODES with
   * partition-local heaps (no shuffle of vectors, merge ≤
   * shortlist·|Q|·partitions rows), then an exact float rerank — an
   * 8-byte-id join back to the corpus — restores exact cosine semantics
   * on the kept k.
   *
   * Self-recovery: a query identical to a corpus vector scores
   * approx-cosine ≈ 1 on its own code, cannot miss the shortlist at any
   * sane `rerankFactor`, and the exact rerank pins it at rank 1 (the
   * ann_sq oracle invariant).
   *
   * The min/max pass is one `treeAggregate` shipping 2·dim floats per
   * partition; corpus vectors are assumed uniform-dimension (as in
   * [[trainPq]]).
   */
  /**
   * Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
   * parallel corpus mining with multilingual sentence embeddings") —
   * the parallel-pair miner behind CCMatrix-style corpora: raw cosine
   * overrates "hub" sentences that are close to EVERYTHING, so each
   * candidate (x, y) scores cos(x, y) relative to both neighborhoods,
   * margin = cos(x, y) / ((avgNN_k(x→tgt) + avgNN_k(y→src)) / 2), and
   * a source keeps its best-margin target iff margin ≥ `threshold`
   * (the ratio margin; 1.0 = "closer than your average neighbor").
   *
   * EXACTNESS: per-pair cosines come from [[bruteForceTopK]] already
   * rounded 6dp (its BigDecimal HALF_UP contract); each k-neighborhood
   * mean folds those rounded values in (cosine, id) order via a
   * RUNNING window sum — a sequential left fold in both engines, the
   * kaplanMeier convention — then one division by the kept count;
   * margin is one fixed IEEE chain rounded 6dp, and the best-per-source
   * pick orders by the ROUNDED margin with an id tiebreak. cos(x, y)
   * and cos(y, x) are the same double (the kernel's dot and the
   * norm·norm product are symmetric), so the backward pass needs no
   * re-rounding care.
   *
   * Scale shape: BOTH sides act as a query batch for one sweep each
   * ([[bruteForceTopK]] collects+broadcasts its query side — so mine
   * batch-vs-batch, each side driver-broadcast-sized); the sweeps are
   * partition-local streamed heaps (the corpus side never shuffles) +
   * id-keyed joins of the two neighborhood-mean frames (|src| and
   * |tgt| rows — AQE broadcasts the small side) + windows bounded at
   * k rows per group. At 100 TB swap the brute-force sweeps for
   * [[ivfTopKFromIndex]] probes against two persisted indexes — the
   * margin/selection stages consume (query, nn, cosine) triples and
   * are UNCHANGED (same shape as hardNegatives → hardNegativesIvf).
   *
   * Returns mined pairs: (`src_id`, `tgt_id`, `cosine`, `margin`).
   */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int,
                 threshold: Double = 1.0,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def nbrMean(topk: DataFrame, outId: String,
                outAvg: String): DataFrame = {
      val wOrd = Window.partitionBy("query_id")
        .orderBy(col("cosine"), col("nn_id"))
      topk
        .withColumn("__rs", sum("cosine").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__rn", row_number().over(wOrd))
        .withColumn("__cnt",
          count(lit(1)).over(Window.partitionBy("query_id")))
        .filter(col("__rn") === col("__cnt"))
        .select(col("query_id").as(outId),
          (col("__rs") / col("__cnt").cast("double")).as(outAvg))
    }
    val fwd = bruteForceTopK(tgt,
      src.select(col(idCol).as("query_id"), col(vecCol)), k,
      idCol = idCol, vecCol = vecCol)
    val bwd = bruteForceTopK(src,
      tgt.select(col(idCol).as("query_id"), col(vecCol)), k,
      idCol = idCol, vecCol = vecCol)
    val ax = nbrMean(fwd, "src_id", "ax")
    val ay = nbrMean(bwd, "tgt_id", "ay")
    val cand = fwd.select(col("query_id").as("src_id"),
      col("nn_id").as("tgt_id"), col("cosine"))
      .join(ax, "src_id").join(ay, "tgt_id")
      .withColumn("margin",
        round(col("cosine") / ((col("ax") + col("ay")) / lit(2.0)), 6))
    val wBest = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    cand.withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1 && col("margin") >= lit(threshold))
      .select("src_id", "tgt_id", "cosine", "margin")
  }

  /**
   * Kernel two-sample MMD² between two embedding samples (Gretton et
   * al. 2012, "A kernel two-sample test") — the distribution-shift
   * monitor that sees what [[centroidDrift]] cannot: two samples can
   * share a centroid exactly while differing in spread or cluster
   * structure, and the unbiased MMD²_u = mean k(x,x') + mean k(y,y')
   * − 2·mean k(x,y) is zero in expectation iff the DISTRIBUTIONS
   * match (for a characteristic kernel). The kernel here is the
   * cosine-RBF k = exp((cos(x,y) − 1)/h) — an RBF in chordal distance
   * on the unit sphere, riding this repo's one proven cross-engine
   * vector primitive (the 6dp-rounded cosine).
   *
   * EXACTNESS: per-pair cosines round 6dp FIRST (the bruteForceTopK
   * contract, via the native codegen'd `cosine_sim`); each kernel
   * value is one IEEE exp chain then QUANTIZES to exact micro-units
   * (round(k·10⁶) as long — the welchTTest unitScale convention), so
   * all three pair sums are EXACT integers and MMD² is one fixed IEEE
   * chain from them, rounded 6dp. No order-dependent double summation
   * anywhere.
   *
   * Scale shape: quadratic BY DEFINITION (3 pair frames) — `maxRows`
   * fails loud per side and prices the O(n²) honestly; at 100 TB you
   * MMD a SAMPLE (the test's power saturates at thousands of points —
   * Gretton's own experiments run n ≤ 10⁴). Within the gate: the
   * cross joins broadcast one side, sums are map-side-combined, and
   * both inputs are lineage-cut so the eager gate counts and the pair
   * frames share one materialization.
   *
   * Returns one row: (`n_x`, `n_y`, `k_xx`, `k_yy`, `k_xy` — the three
   * mean kernels, 6dp — and `mmd2`).
   */
  def mmdCosine(x: DataFrame, y: DataFrame, h: Double = 0.5,
                maxRows: Long = 4096L,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(h > 0.0, s"bandwidth h must be > 0: $h")
    require(maxRows >= 2L, s"maxRows must be >= 2: $maxRows")
    import graft.core.LineageCut.CutOps
    def side(df: DataFrame, tag: String): DataFrame = {
      val cutDf = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .lineageCut()
      val n = cutDf.count()
      require(n >= 2L && n <= maxRows,
        s"mmdCosine: side '$tag' has $n rows — need 2..$maxRows " +
          "(quadratic operator: sample upstream)")
      cutDf
    }
    val xs = side(x, "x")
    val ys = side(y, "y")
    val micro = (a: Column, b: Column) =>
      round(exp((round(cosine(a, b), 6) - lit(1.0)) / lit(h)) * 1e6)
        .cast("long")
    def selfSum(s: DataFrame): DataFrame = {
      val l = s.select(col("id").as("ia"), col("v").as("va"))
      val r = s.select(col("id").as("ib"), col("v").as("vb"))
      l.crossJoin(r).filter(col("ia") < col("ib"))
        .agg(sum(micro(col("va"), col("vb"))).as("s"),
          count(lit(1)).as("np"))
    }
    val sxx = selfSum(xs).select(col("s").as("sxx"), col("np").as("pxx"))
    val syy = selfSum(ys).select(col("s").as("syy"), col("np").as("pyy"))
    val sxy = xs.select(col("v").as("va"))
      .crossJoin(ys.select(col("v").as("vb")))
      .agg(sum(micro(col("va"), col("vb"))).as("sxy"),
        count(lit(1)).as("pxy"))
    val kxx = col("sxx").cast("double") / (col("pxx") * 1000000L)
      .cast("double")
    val kyy = col("syy").cast("double") / (col("pyy") * 1000000L)
      .cast("double")
    val kxy = col("sxy").cast("double") / (col("pxy") * 1000000L)
      .cast("double")
    sxx.crossJoin(syy).crossJoin(sxy)
      .crossJoin(broadcast(xs.agg(count(lit(1)).as("n_x"))))
      .crossJoin(broadcast(ys.agg(count(lit(1)).as("n_y"))))
      .select(col("n_x"), col("n_y"),
        round(kxx, 6).as("k_xx"), round(kyy, 6).as("k_yy"),
        round(kxy, 6).as("k_xy"),
        round(kxx + kyy - lit(2.0) * kxy, 6).as("mmd2"))
  }

  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             rerankFactor: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             queryIdCol: String = "query_id"): DataFrame = {
    require(k > 0 && rerankFactor >= 1, "k and rerankFactor must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]

    // per-dimension [min, max]: one treeAggregate, 2·dim floats/partition
    type MM = (Array[Float], Array[Float])
    val mm: MM = vecs.rdd.map(_._2).treeAggregate(null: MM)(
      (acc, v) =>
        if (acc == null) (v.clone(), v.clone())
        else {
          var i = 0
          while (i < v.length) {
            if (v(i) < acc._1(i)) acc._1(i) = v(i)
            if (v(i) > acc._2(i)) acc._2(i) = v(i)
            i += 1
          }
          acc
        },
      (a, b) =>
        if (a == null) b else if (b == null) a
        else {
          var i = 0
          while (i < a._1.length) {
            if (b._1(i) < a._1(i)) a._1(i) = b._1(i)
            if (b._2(i) > a._2(i)) a._2(i) = b._2(i)
            i += 1
          }
          a
        })
    require(mm != null, "sqTopK: empty corpus")
    val mins = mm._1
    val scales = Array.tabulate(mins.length) { i =>
      val r = mm._2(i) - mins(i); if (r > 0f) r / 255f else 1f
    }
    val minsB = spark.sparkContext.broadcast(mins)
    val scalesB = spark.sparkContext.broadcast(scales)

    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qRows)
    val shortlist = k * rerankFactor

    val ord = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, cos) => (-cos, id)
    }
    // codes-only scan: quantize and heap-select in one partition pass —
    // float vectors never leave their partition, only (qid, nn_id) pairs
    val cand = vecs.rdd.mapPartitions { rows =>
      val qs = qB.value
      val mn = minsB.value
      val sc = scalesB.value
      val heaps = qs.map(_ =>
        new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord))
      rows.foreach { case (id, vec) =>
        val d = math.min(vec.length, mn.length)
        val code = new Array[Int](d)
        var i = 0
        while (i < d) {
          val q = math.round((vec(i) - mn(i)) / sc(i))
          code(i) = if (q < 0) 0 else if (q > 255) 255 else q
          i += 1
        }
        var qi = 0
        while (qi < qs.length) {
          val qv = qs(qi)._2
          var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
          val n = math.min(d, qv.length)
          while (j < n) {
            val x = mn(j) + code(j) * sc(j).toDouble // dequantized
            val y = qv(j).toDouble
            dot += x * y; na += x * x; nb += y * y; j += 1
          }
          val cos = dot / (math.sqrt(na) * math.sqrt(nb))
          val h = heaps(qi)
          if (h.size < shortlist) h.enqueue((id, cos))
          else {
            val (wid, wcos) = h.head
            if (cos > wcos || (cos == wcos && id < wid)) {
              h.dequeue(); h.enqueue((id, cos))
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (id, _) => (qs(qi)._1, id) }
      }
    }.toDF(queryIdCol, "nn_id").dropDuplicates(queryIdCol, "nn_id")

    // exact rerank over the shortlist: 8-byte-id join back to the corpus
    val cvecs = corpus.select(col(idCol).cast("long").as("nn_id"),
      col(vecCol).as("cvec"))
    val qvecs = queries.select(col(queryIdCol).cast("long").as(queryIdCol),
      col(vecCol).as("qvec"))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    cand.join(cvecs, Seq("nn_id"))
      .join(broadcast(qvecs), Seq(queryIdCol))
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * ANN top-k via random-hyperplane LSH: corpus and queries are bucketed
   * by `numPlanes`-bit signatures; each query is probed in its own bucket
   * plus all 1-bit-flip neighbor buckets (multi-probe), then exact cosine
   * ranks the candidates. Recall rises with fewer planes / more probes;
   * cost falls with more planes.
   *
   * At scale: candidate join is an equi-join on the signature — shuffle
   * keys are 64-bit longs, corpus never cross-joins.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 12, seed: Long = 42,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    val sig = (v: Column) => graft.functions.Vectors.hyperplaneSig(v, numPlanes, seed)
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("cvec"),
      sig(col(vecCol)).as("bucket"))
    // multi-probe: original signature + every 1-bit flip, derived from ONE
    // signature evaluation per query row
    val probes = array((0 to numPlanes).map {
      case 0 => col("__qsig")
      case i => col("__qsig").bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    val q = queries.select(col(queryIdCol), col(vecCol).as("qvec"),
        sig(col(vecCol)).as("__qsig"))
      .select(col(queryIdCol), col("qvec"), explode(probes).as("bucket"))
    val scored = c.join(q, "bucket")
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
      .groupBy(col(queryIdCol), col("nn_id"))
      .agg(max("cosine").as("cosine")) // dedupe multi-probe hits
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * IVF (inverted-file) ANN top-k — the other classic scale path next to
   * LSH: a k-means coarse quantizer partitions the corpus into `numCells`
   * cells; each query probes its `nProbe` nearest cells and exact cosine
   * ranks only those candidates. Candidate volume ≈ corpus·nProbe/numCells
   * per query, tunable independently of the hash-family geometry LSH is
   * stuck with.
   *
   * Scale shape: the quantizer trains on a BOUNDED hash-sampled subset
   * (`trainSample` rows — IVF practice: quantizer quality needs a few
   * hundred points per cell, not the corpus), so Lloyd cost is
   * O(iters · sample) regardless of corpus size; the centroid table
   * (numCells × dim) broadcasts; full-corpus cell assignment is ONE
   * streamed pass; the candidate join is an equi-join on a small int key.
   * Self-recovery guarantee: a query that exists in the corpus always
   * probes its own cell first ⇒ finds itself at cosine 1.0.
   */
  /** Squared-L2 argmin over a centroid table — the shared kernel of the
    * k-means/IVF family below. */
  private[operators] def nearest(cs: Array[Array[Float]],
                                 vec: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val cv = cs(c); var d = 0.0; var i = 0
      val n = math.min(cv.length, vec.length)
      while (i < n) { val t = cv(i) - vec(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /**
   * Distributed k-means (Lloyd) over a BOUNDED deterministic sample —
   * the coarse quantizer of [[ivfTopK]], exposed as a first-class
   * operator because corpus clustering is its own pipeline step (domain/
   * topic bucketing for mixture weighting, dedup-within-cluster, stratified
   * eval splits). Returns the `numCells` centroid table.
   *
   * Scale shape: the sample is a hash-filtered scan capped at
   * `trainSample` rows, so Lloyd costs O(iters · sample) regardless of
   * corpus size; each iteration is one stage whose tasks return only
   * numCells·dim doubles each, or no job at all for a sample under 1024
   * rows ([[foldSample]]); init is the seeded hash-rank prefix of the
   * driver-held sample (no extra job).
   */
  def trainKMeans(corpus: DataFrame, numCells: Int, iters: Int = 5,
                  seed: Long = 42, trainSample: Int = 50000,
                  idCol: String = "vec_id", vecCol: String = "embedding")
  : Array[Array[Float]] = {
    val sample = boundedSample(corpus, trainSample, seed, idCol, vecCol)
    lloyd(corpus.sparkSession, sample, initCentroids(sample, numCells), iters)
  }

  /** Bounded deterministic training set: the `trainSample` globally
    * smallest hash ranks in ONE scan, ascending by (rank, id). Each
    * partition keeps at most `trainSample` survivors in a bounded
    * max-heap; the per-partition partials are merged in a SINGLE EXECUTOR
    * TASK (one extra narrow shuffle of ≤ numPartitions·trainSample
    * already-pruned rows), so the driver receives exactly ONE k-bounded
    * sample — O(trainSample), not the former `takeOrdered` merge that
    * transiently held ~2× the sample in boxed tuples driver-side (0.5-1 GB
    * at trainSample=50k × dim 1024). At extreme partition counts an
    * intermediate merge level could bound the single merge task's fan-in;
    * at ≤ O(100) partitions the streamed iterator merge (live set ≈ heap +
    * one incoming partial) is the simpler shape. Ranking uses the same
    * seeded hash as Lloyd's init, so init centroids are the sample's
    * prefix ([[initCentroids]]). */
  private def boundedSample(corpus: DataFrame, trainSample: Int, seed: Long,
                            idCol: String, vecCol: String)
  : Array[(Long, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val typed = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    // max-heap on (rankHash, id): root = largest kept rank; k smallest survive
    val heapOrd: Ordering[(Long, Long, Array[Float])] =
      Ordering.by(e => (e._1, e._2))
    def bounded(it: Iterator[(Long, Long, Array[Float])])
    : Array[(Long, Long, Array[Float])] = {
      val pq = scala.collection.mutable.PriorityQueue.empty(heapOrd)
      it.foreach { e =>
        if (pq.size < trainSample) pq += e
        else {
          val top = pq.head
          if (e._1 < top._1 || (e._1 == top._1 && e._2 < top._2)) {
            pq.dequeue(); pq += e
          }
        }
      }
      pq.dequeueAll.reverseIterator.toArray // ascending (rank, id)
    }
    val partials = typed.rdd
      .map { case (id, vec) =>
        (graft.core.EsMurmur3.hash(id.toString + seed).toLong, id, vec) }
      .mapPartitions(it => Iterator.single(bounded(it)))
    // repartition(1) (NOT coalesce): the scan/prune stays parallel and
    // only pruned partials flow to the one merge task
    partials.repartition(1)
      .mapPartitions(heaps => Iterator.single(bounded(heaps.flatMap(_.iterator))))
      .collect() match {
        case Array(merged) => merged.map(e => (e._2, e._3))
        case _ => Array.empty[(Long, Array[Float])] // empty corpus: no partials
      }
  }

  /** Slices of the driver-held sample: one per 1024 rows, at most
    * `defaultParallelism`. */
  private def sampleParts(spark: SparkSession, rows: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, rows / 1024 + 1))

  /** The driver-held sample as an RDD of [[sampleParts]] slices. Not
    * cached: a `ParallelCollectionRDD` ships its rows inside every task
    * anyway. */
  private def sampleRdd(spark: SparkSession, sample: Array[(Long, Array[Float])])
  : org.apache.spark.rdd.RDD[(Long, Array[Float])] =
    spark.sparkContext.parallelize(sample.toSeq, sampleParts(spark, sample.length))

  /** One pass over the driver-held sample: `partial(v, slice)` for each
    * [[sampleRdd]] slice, reduced with `merge` in slice order
    * ([[InOrderFold]]), so the result does not depend on the order in
    * which task results arrive. A one-slice sample (under 1024 rows) is
    * folded on the driver, where its rows already are, with no job.
    * Otherwise one job runs with `v` broadcast. */
  private def foldSample[V: ClassTag, U: ClassTag](
      spark: SparkSession, sample: Array[(Long, Array[Float])], v: V)(
      partial: (V, Iterator[(Long, Array[Float])]) => U)(merge: (U, U) => U): U = {
    val parts = sampleParts(spark, sample.length)
    if (parts == 1) return partial(v, sample.iterator)
    val sc = spark.sparkContext
    val vB = sc.broadcast(v)
    val fold = new InOrderFold(merge)
    // JobWaiter calls the handler under its own lock, one result at a time
    try sc.runJob(sc.parallelize(sample.toSeq, parts),
      (rows: Iterator[(Long, Array[Float])]) => partial(vB.value, rows), fold.add _)
    finally vB.destroy()
    fold.result
  }

  /** Deterministic seeded hash-rank init: the first `k` rows of the
    * (rank, id)-sorted sample. */
  private def initCentroids(sample: Array[(Long, Array[Float])],
                            k: Int): Array[Array[Float]] =
    sample.take(k).map(_._2)

  /** Lloyd over the (bounded) driver-held sample from `init`: each round
    * is one [[foldSample]] of the per-slice (sum, count) per cell. Only
    * numCells·dim doubles per slice ever move. */
  private def lloyd(spark: SparkSession, sample: Array[(Long, Array[Float])],
                    init: Array[Array[Float]], iters: Int)
  : Array[Array[Float]] = {
    var centroids = init
    for (_ <- 1 to iters) {
      val (sums, cnt) = foldSample(spark, sample, centroids) { (cs, rows) =>
        val acc = Array.fill(cs.length)(null: Array[Double])
        val cnt = new Array[Long](cs.length)
        rows.foreach { case (_, vec) =>
          val c = nearest(cs, vec)
          if (acc(c) == null) acc(c) = new Array[Double](vec.length)
          var i = 0
          while (i < vec.length && i < acc(c).length) { acc(c)(i) += vec(i); i += 1 }
          cnt(c) += 1
        }
        (acc, cnt)
      } { case ((sums, cnt), (acc, n)) =>
        var c = 0
        while (c < acc.length) {
          if (acc(c) != null) {
            if (sums(c) == null) sums(c) = acc(c)
            else {
              var i = 0
              while (i < sums(c).length) { sums(c)(i) += acc(c)(i); i += 1 }
            }
            cnt(c) += n(c)
          }
          c += 1
        }
        (sums, cnt)
      }
      centroids = centroids.indices.map { c =>
        if (cnt(c) > 0) sums(c).map(v => (v / cnt(c)).toFloat)
        else centroids(c) // empty cell keeps its centroid
      }.toArray
    }
    centroids
  }

  /** Plain-Scala Lloyd over one (bounded) in-memory group — the fine
    * re-clustering step of [[trainKMeansHier]], run inside an executor
    * task. Same deterministic init and empty-cell rule as [[lloyd]]. */
  private def localLloyd(rows: Array[(Long, Array[Float])], k: Int,
                         iters: Int, seed: Long): Array[Array[Float]] = {
    if (rows.isEmpty) return Array.empty
    var cents = rows
      .sortBy { case (id, _) =>
        (graft.core.EsMurmur3.hash(id.toString + seed).toLong, id) }
      .take(k).map(_._2.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(null: Array[Double])
      val cnt = new Array[Long](cents.length)
      rows.foreach { case (_, vec) =>
        val c = nearest(cents, vec)
        if (sums(c) == null) sums(c) = new Array[Double](vec.length)
        var i = 0
        while (i < vec.length && i < sums(c).length) { sums(c)(i) += vec(i); i += 1 }
        cnt(c) += 1
      }
      cents = cents.indices.map { c =>
        if (cnt(c) > 0) sums(c).map(v => (v / cnt(c)).toFloat) else cents(c)
      }.toArray
    }
    cents
  }

  /**
   * Two-level codebook: `coarse(c)` super-centroids, `fine(c)(f)` the
   * sub-centroids WITHIN super-cell c (jagged — sparse super-cells hold
   * fewer). Global cell id = `offsets(c) + f`, stable for a fixed
   * codebook. Assignment cost per vector is (|coarse| + |fine(c)|)·dim
   * ≈ 2·√numCells·dim — the shape that reaches the ~100k-cell regime
   * web-scale SemDeDup/IVF operate in (a flat codebook's n·numCells·dim
   * assignment pass is the ceiling this lifts).
   */
  final case class HierCodebook(coarse: Array[Array[Float]],
                                fine: Array[Array[Array[Float]]]) {
    require(coarse.length == fine.length, "one fine table per coarse cell")
    val offsets: Array[Int] = fine.map(_.length).scanLeft(0)(_ + _).init
    def numCells: Int = offsets.last + fine.last.length
    def cellOf(vec: Array[Float]): Int = {
      val c = nearest(coarse, vec)
      offsets(c) + nearest(fine(c), vec)
    }
    /** Global-cell-id-ordered flat centroid table (for probe-side use —
      * queries are few, so a linear probe scan is affordable even when
      * corpus assignment is not). */
    def flatten: Array[Array[Float]] = fine.flatten
  }

  /**
   * Hierarchical (two-level) k-means — the codebook trainer for the
   * many-cells regime: coarse-cluster the bounded sample into
   * ~√numCells super-cells with the distributed [[lloyd]], then
   * re-cluster each super-cell's sample slice independently (one
   * `groupByKey` over the SAME sample; each group is ≤ the sample, and
   * the √numCells local Lloyd runs execute in parallel across
   * executors). One sample scan total — the same I/O as the flat trainer.
   */
  def trainKMeansHier(corpus: DataFrame, numCells: Int, iters: Int = 5,
                      seed: Long = 42, trainSample: Int = 50000,
                      idCol: String = "vec_id", vecCol: String = "embedding")
  : HierCodebook = {
    require(numCells >= 1, "numCells must be >= 1")
    val numCoarse = math.max(1, math.ceil(math.sqrt(numCells.toDouble)).toInt)
    val numFine = math.max(1, math.ceil(numCells.toDouble / numCoarse).toInt)
    val sample = boundedSample(corpus, trainSample, seed, idCol, vecCol)
    val coarse = lloyd(corpus.sparkSession, sample,
      initCentroids(sample, numCoarse), iters)
    val train = sampleRdd(corpus.sparkSession, sample)
    val cB = train.sparkContext.broadcast(coarse)
    val fineMap = train
      .map { case (id, vec) => (nearest(cB.value, vec), (id, vec)) }
      .groupByKey(math.min(numCoarse, 256))
      .mapValues { slice =>
        // sort for a deterministic fold order (group arrival order is
        // shuffle-dependent); each slice is bounded by the sample size
        localLloyd(slice.toArray.sortBy(_._1), numFine, iters, seed)
      }
      .collectAsMap()
    val fine = Array.tabulate(coarse.length) { c =>
      val fs = fineMap.getOrElse(c, Array.empty[Array[Float]])
      // a super-cell with no sample rows keeps one fine centroid — its
      // own coarse centroid — so every coarse cell stays addressable
      if (fs.isEmpty) Array(coarse(c)) else fs
    }
    HierCodebook(coarse, fine)
  }

  /** Assign every corpus vector to its hierarchical cell: one broadcast +
    * one streamed map pass, no shuffle — the two-level analogue of
    * [[kmeansAssign]]. Output columns: (`idCol`, cell). */
  def kmeansAssignHier(corpus: DataFrame, codebook: HierCodebook,
                       idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebook)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cb = cbB.value
        rows.map { case (id, vec) => (id, cb.cellOf(vec)) }
      }.toDF(idCol, "cell")
  }

  /** Two-level analogue of [[assignCells]]: `(cell, nn_id, cvec)`. */
  private def assignCellsHier(corpus: DataFrame, codebook: HierCodebook,
                              idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebook)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cb = cbB.value
        rows.map { case (id, vec) => (cb.cellOf(vec), id, vec) }
      }.toDF("cell", "nn_id", "cvec")
  }

  /** L2-normalize the vector column (zero vectors pass through): one
    * streamed map pass. */
  private def l2Normalize(df: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions(rows => rows.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
        val n = math.sqrt(s)
        val out =
          if (n > 0) {
            val o = new Array[Float](v.length)
            var j = 0
            while (j < v.length) { o(j) = (v(j) / n).toFloat; j += 1 }
            o
          } else v
        (id, out)
      }).toDF(idCol, vecCol)
  }

  /**
   * Product-quantization codebook (Jégou/Douze/Schmid 2011, public
   * paper): the vector space splits into `m` orthogonal subspaces of
   * `subDim` dims; each subspace has its own ≤256 centroids, so a vector
   * compresses to `m` BYTES — 32× smaller than 64 float dims. This is
   * the ANN memory lever at 100 TB: the candidate-scoring join ships
   * codes, never vectors (IVF-PQ, [[ivfPqTopK]]).
   *
   * `encode` = per-subspace argmin (the code with MINIMUM asymmetric
   * distance to the vector — which is why an identical corpus vector
   * always sits at the global ADC minimum of its own query, the
   * self-recovery invariant the gate checks). `lut(q)` = per-subspace
   * 256-entry distance table; ADC(q, code) = Σ_s lut(s)(code(s)).
   */
  final case class PqCodebook(sub: Array[Array[Array[Float]]], subDim: Int)
    extends Serializable {
    def m: Int = sub.length
    def dim: Int = m * subDim

    private def subDist(s: Int, k: Int, vec: Array[Float]): Double = {
      val cv = sub(s)(k); val off = s * subDim
      var d = 0.0; var i = 0
      while (i < subDim) { val t = cv(i) - vec(off + i); d += t * t; i += 1 }
      d
    }

    def encode(vec: Array[Float]): Array[Byte] = {
      require(vec.length == dim, s"vector dim ${vec.length} != codebook $dim")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        var best = 0; var bd = Double.MaxValue; var k = 0
        while (k < sub(s).length) {
          val d = subDist(s, k, vec)
          if (d < bd) { bd = d; best = k }
          k += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    /** Per-subspace distance table for one query — build once per query,
      * then each candidate scores in m table lookups instead of dim
      * multiplies. */
    def lut(q: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m)(s =>
        Array.tabulate(sub(s).length)(k => subDist(s, k, q).toFloat))

    def adc(lut: Array[Array[Float]], code: Array[Byte]): Float = {
      var d = 0f; var s = 0
      while (s < m) { d += lut(s)(code(s) & 0xff); s += 1 }
      d
    }
  }

  /**
   * Train a PQ codebook on the bounded hash-ranked sample: `iters`
   * Lloyd rounds covering ALL `m` subspaces per pass, each one
   * [[foldSample]] (each slice accumulates (subspace, code) → (sum,
   * count); only m·256·subDim doubles per slice ever move). `dim` and the
   * 256 init rows (the sample ranked by a second seeded hash) come from
   * the driver-held sample. K is 256 (byte codes) or the sample size if
   * smaller.
   */
  def trainPq(corpus: DataFrame, m: Int = 8, iters: Int = 5,
              seed: Long = 42, trainSample: Int = 50000,
              idCol: String = "vec_id", vecCol: String = "embedding")
  : PqCodebook = {
    require(m >= 1, "m must be >= 1")
    val sample = boundedSample(corpus, trainSample, seed, idCol, vecCol)
    require(sample.nonEmpty, "trainPq needs a non-empty corpus")
    val dim = sample.head._2.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val initRows = sample
      .sortBy { case (id, _) =>
        (graft.core.EsMurmur3.hash(id.toString + "pq" + seed).toLong, id) }
      .take(256).map(_._2)
    var cents: Array[Array[Array[Float]]] = Array.tabulate(m)(s =>
      initRows.map(v => java.util.Arrays.copyOfRange(v, s * subDim,
        (s + 1) * subDim)))
    for (_ <- 1 to iters) {
      val merged = foldSample(corpus.sparkSession, sample,
          PqCodebook(cents, subDim)) { (cb, rows) =>
        val k = cb.sub(0).length
        val sums = Array.ofDim[Double](m, k, subDim)
        val cnt = Array.ofDim[Long](m, k)
        rows.foreach { case (_, vec) =>
          val code = cb.encode(vec)
          var s = 0
          while (s < m) {
            val c = code(s) & 0xff
            var i = 0
            while (i < subDim) { sums(s)(c)(i) += vec(s * subDim + i); i += 1 }
            cnt(s)(c) += 1
            s += 1
          }
        }
        (sums, cnt)
      } { case ((s1, c1), (s2, c2)) =>
        for (s <- 0 until m; c <- 0 until c1(s).length) {
          c1(s)(c) += c2(s)(c)
          var i = 0
          while (i < subDim) { s1(s)(c)(i) += s2(s)(c)(i); i += 1 }
        }
        (s1, c1)
      }
      cents = Array.tabulate(m)(s => Array.tabulate(cents(s).length) { c =>
        if (merged._2(s)(c) > 0)
          merged._1(s)(c).map(v => (v / merged._2(s)(c)).toFloat)
        else cents(s)(c) // empty code keeps its centroid, like lloyd()
      })
    }
    PqCodebook(cents, subDim)
  }

  /**
   * IVF-PQ top-k (IVFADC, the paper's residual form): coarse cells gate
   * the search; inside a cell every vector is PQ-encoded as its RESIDUAL
   * `v − coarseCentroid(cell)`. Residuals matter, not niceness: whole-
   * vector codes quantize at unit scale, so a tight cluster of near-
   * identical vectors collapses onto one code and the ADC shortlist
   * degenerates to an id tie-break (measured recall 0.12 on the
   * clustered stress manifold); residual codes quantize at CLUSTER
   * RADIUS scale and resolve intra-cluster order (same tier: ~1.0).
   *
   * Scale shape — the candidate join ships `m`-byte codes, never the
   * `dim`-float vectors ([[ivfTopK]]'s one weight at 100 TB): one map
   * pass assigns + encodes the corpus into `(cell, id, code)`; the
   * probed-cell set broadcasts against it (map-side filter); ADC scores
   * each candidate in m table lookups (per-partition LUT cache keyed by
   * (query, cell) — the residual LUT is cell-specific); the
   * top-`rerankSize` shortlist per query — tiny — rejoins the EXACT
   * vectors for a full-precision cosine rerank, so the final ranking is
   * exact over the shortlist. Queries broadcast (|Q| ≪ |corpus|, as
   * documented for [[bruteForceTopK]]).
   *
   * `rerankSize <= 0` (the default) derives the shortlist from the
   * index itself: max(k, p95 cell population) off the code frame's
   * cell histogram. The shortlist must cover the per-query AMBIGUITY
   * SET — the near-tie group whose cosine gaps sit below m-byte code
   * resolution — and on a clustered manifold that group is the
   * co-cluster ≈ cell population (measured: r=50 under a ~780-member
   * cluster scored recall 0.128; r ≥ population scored 1.000). A p95
   * over cell sizes covers the dense cells that dominate that risk;
   * note at numCells < 20 the p95 IS the largest cell, so a collapsed
   * quantizer can derive a corpus-scale shortlist — correct (the data
   * genuinely has no resolvable structure) and safe (the rerank join's
   * broadcast is size-guarded with a shuffled fallback). The manual
   * knob remains for callers that know their margin.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                numCells: Int = 16, nProbe: Int = 4, m: Int = 8,
                rerankSize: Int = 0, iters: Int = 5, seed: Long = 42,
                trainSample: Int = 50000,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ALL approximate stages run on L2-NORMALIZED vectors: on the unit
    // sphere squared-L2 order ≡ cosine order (d² = 2 − 2cos), so the ADC
    // shortlist ranks by the same metric the exact rerank scores with —
    // unnormalized, ADC-by-L2 against a cosine ground truth threw away
    // true neighbors at the shortlist (measured recall 0.13 → ~1 after)
    // the normalized corpus feeds FIVE consumers (coarse training's
    // count+sample, residual-sample count+sample, the code pass) — the
    // same shared-projection shape the Dedup slim checkpoints fix; cache
    // it once instead of re-normalizing the upstream scan per consumer
    val corpusN = l2Normalize(corpus, idCol, vecCol).lineageCut()
    val queriesN = l2Normalize(queries, queryIdCol, vecCol)
    val coarse = trainKMeans(corpusN, numCells, iters, seed, trainSample,
      idCol, vecCol)
    val cB = spark.sparkContext.broadcast(coarse)
    def residual(vec: Array[Float], cell: Int,
                 cs: Array[Array[Float]]): Array[Float] = {
      val cv = cs(cell)
      val out = new Array[Float](vec.length)
      var i = 0
      val n = math.min(vec.length, cv.length)
      while (i < n) { out(i) = vec(i) - cv(i); i += 1 }
      out
    }
    // PQ trains on RESIDUALS (one streamed derivation of the same frame
    // the code pass reads; trainPq's bounded sample does the rest)
    val residuals = corpusN.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value
        rows.map { case (id, vec) => (id, residual(vec, nearest(cs, vec), cs)) }
      }.toDF(idCol, vecCol)
    val pq = trainPq(residuals, m, iters, seed, trainSample, idCol, vecCol)
    val pqB = spark.sparkContext.broadcast(pq)
    // the compressed corpus: 12 + m bytes per vector, vectors stay home
    val codesRaw = corpusN.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value; val cb = pqB.value
        rows.map { case (id, vec) =>
          val cell = nearest(cs, vec)
          (cell, id, cb.encode(residual(vec, cell, cs)))
        }
      }.toDF("cell", "nn_id", "code")
    // auto shortlist: checkpoint the code frame so the histogram and
    // the candidate join share ONE encode pass (12+m bytes/vector —
    // exactly what a persisted IVFADC index materializes anyway)
    val (codes, shortlistSize) =
      if (rerankSize > 0) (codesRaw, math.max(rerankSize, k))
      else {
        val ck = codesRaw.lineageCut()
        val cellCounts = ck.groupBy("cell").count()
          .select(col("count")).as[Long].collect().sorted
        val p95 = if (cellCounts.isEmpty) k
          else cellCounts(math.min(cellCounts.length - 1,
            math.ceil(cellCounts.length * 0.95).toInt - 1)).toInt
        (ck, math.max(k, p95))
      }
    val qRows = queriesN.select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val qB = spark.sparkContext.broadcast(qRows.toMap)
    val probedCells = probeFrame(queriesN, coarse, nProbe, queryIdCol, vecCol)
      .select(col("cell"), col(queryIdCol))
    val cand = codes.join(broadcast(probedCells), "cell")
      .select(col(queryIdCol), col("cell"), col("nn_id"), col("code"))
      // cluster candidates by (cell, query) INSIDE each partition (a
      // local sort, no exchange) so LUT locality is structural: each
      // (query, cell) group streams through contiguously and ONE live
      // LUT suffices — the old bounded map cleared wholesale at 4096
      // entries and rebuilt LUTs repeatedly once |Q|·nProbe interleaved
      // past its capacity
      .sortWithinPartitions(col("cell"), col(queryIdCol))
      .as[(Long, Int, Long, Array[Byte])]
      .mapPartitions { rows =>
        val cs = cB.value; val cb = pqB.value; val qm = qB.value
        // LUT per (query, probed cell): ADC compares the QUERY residual
        // against candidate-code residual centroids of that cell
        var curKey: (Long, Int) = null
        var curLut: Array[Array[Float]] = null
        rows.map { case (qid, cell, id, code) =>
          if (curKey == null || curKey._1 != qid || curKey._2 != cell) {
            curKey = (qid, cell)
            curLut = cb.lut(residual(qm(qid), cell, cs))
          }
          (qid, id, cb.adc(curLut, code))
        }
      }.toDF(queryIdCol, "nn_id", "adc")
    val wAdc = Window.partitionBy(queryIdCol)
      .orderBy(col("adc").asc, col("nn_id").asc)
    val shortlist = cand.withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= shortlistSize)
      .select(col(queryIdCol), col("nn_id"))
    // exact rerank over the shortlist: broadcast it against the corpus
    // (map-side semi-filter — no corpus shuffle) ONLY under a size
    // guard — |Q| × shortlistSize is known exactly here, and in auto
    // mode a collapsed quantizer (one mega-cell) can make shortlistSize
    // corpus-scale, where a forced broadcast would OOM; past the bound
    // the join falls back to a shuffle, which is what the data demands
    val shortlistRows = qRows.length.toLong * shortlistSize
    val shortSide =
      if (shortlistRows <= 4000000L) broadcast(shortlist) else shortlist
    val exact = corpus.select(col(idCol).cast("long").as("nn_id"),
      col(vecCol).as("cvec"))
    val qv = queries.select(col(queryIdCol).cast("long"), col(vecCol).as("qvec"))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    exact.join(shortSide, "nn_id")
      .join(broadcast(qv), queryIdCol)
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * Assign every corpus vector to its nearest centroid (squared-L2):
   * one broadcast + one streamed map pass, no shuffle. Output columns:
   * (`idCol`, cell). Pair with [[trainKMeans]] for the full clustering
   * step; [[ivfTopK]] composes exactly these two pieces.
   */
  def kmeansAssign(corpus: DataFrame, centroids: Array[Array[Float]],
                   idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value
        rows.map { case (id, vec) => (id, nearest(cs, vec)) }
      }.toDF(idCol, "cell")
  }

  /** IVF top-k. Above `hierarchicalAbove` cells the codebook goes
    * two-level ([[trainKMeansHier]]): corpus assignment drops from
    * n·numCells·dim to ≈ n·2√numCells·dim, which is what makes the
    * ~100k-cell web-scale cell count affordable; probing stays consistent
    * with the two-level assignment (see [[HierCodebook]]), so
    * identical-vector self-recovery holds on either path. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCells: Int = 16, nProbe: Int = 4, iters: Int = 5,
              seed: Long = 42, trainSample: Int = 50000,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id",
              hierarchicalAbove: Int = 4096): DataFrame = {
    if (numCells > hierarchicalAbove) {
      val cb = trainKMeansHier(corpus, numCells, iters, seed, trainSample,
        idCol, vecCol)
      val binned = assignCellsHier(corpus, cb, idCol, vecCol)
      val probed = probeFrameHier(queries, cb, nProbe, queryIdCol, vecCol)
      topKFromCells(binned, probed, k, queryIdCol)
    } else {
      val centroids = trainKMeans(corpus, numCells, iters, seed, trainSample,
        idCol, vecCol)
      val binned = assignCells(corpus, centroids, idCol, vecCol)
      val probed = probeFrame(queries, centroids, nProbe, queryIdCol, vecCol)
      topKFromCells(binned, probed, k, queryIdCol)
    }
  }

  /** Per-query probe frame through a two-level codebook: rank the fine
    * centroids of the query's `nProbe + 1` nearest COARSE cells and take
    * the global top `nProbe`; the query's own two-level argmin cell
    * ([[HierCodebook.cellOf]]) is always probed first, so an identical
    * corpus vector (same coarse argmin, same fine argmin) is always in a
    * probed cell — the self-recovery invariant the flat path has. Cost
    * per query ≈ (1 + nProbe)·√numCells·dim — queries are few, corpus
    * assignment is where the two-level saving matters. */
  private def probeFrameHier(queries: DataFrame, codebook: HierCodebook,
                             nProbe: Int, queryIdCol: String,
                             vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cbB = spark.sparkContext.broadcast(codebook)
    queries.select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cb = cbB.value
        rows.flatMap { case (qid, qvec) =>
          def d2(cv: Array[Float]): Double = {
            var d = 0.0; var i = 0
            val n = math.min(cv.length, qvec.length)
            while (i < n) { val t = cv(i) - qvec(i); d += t * t; i += 1 }
            d
          }
          val coarseRanked = cb.coarse.indices
            .map(c => (d2(cb.coarse(c)), c)).sorted
            .take(math.min(cb.coarse.length, 1 + nProbe))
          val fineRanked = coarseRanked.flatMap { case (_, c) =>
            cb.fine(c).indices.map(f =>
              (d2(cb.fine(c)(f)), cb.offsets(c) + f))
          }.sorted.map(_._2)
          val own = cb.cellOf(qvec)
          (own +: fineRanked).distinct
            .take(math.max(1, math.min(nProbe, 1 + fineRanked.length)))
            .map(cell => (cell, qid, qvec))
        }
      }.toDF("cell", queryIdCol, "qvec")
  }

  /** `(cell, nn_id, cvec)`: every corpus vector with its nearest-centroid
    * cell, vector kept inline — the shared binning pass of [[ivfTopK]],
    * [[buildIvfIndex]], and [[semanticDedup]]. */
  private def assignCells(corpus: DataFrame, centroids: Array[Array[Float]],
                          idCol: String, vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value
        rows.map { case (id, vec) => (nearest(cs, vec), id, vec) }
      }.toDF("cell", "nn_id", "cvec")
  }

  /** Per-query probe frame `(cell, queryIdCol, qvec)`: each query row
    * replicated over its `nProbe` nearest cells (own cell always #1). */
  private def probeFrame(queries: DataFrame, centroids: Array[Array[Float]],
                         nProbe: Int, queryIdCol: String,
                         vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    queries.select(col(queryIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value
        rows.flatMap { case (qid, qvec) =>
          val byDist = cs.indices.map { c =>
            val cv = cs(c); var d = 0.0; var i = 0
            val n = math.min(cv.length, qvec.length)
            while (i < n) { val t = cv(i) - qvec(i); d += t * t; i += 1 }
            (d, c)
          }.sorted.take(math.min(nProbe, cs.length))
          byDist.map { case (_, c) => (c, qid, qvec) }
        }
      }.toDF("cell", queryIdCol, "qvec")
  }

  /** Join probed cells with the binned corpus, score, rank, cut at k. */
  private def topKFromCells(binned: DataFrame, probed: DataFrame, k: Int,
                            queryIdCol: String): DataFrame = {
    val scored = binned.join(probed, "cell")
      .withColumn("cosine", round(cosine(col("cvec"), col("qvec")), 6))
      .groupBy(col(queryIdCol), col("nn_id"))
      .agg(max("cosine").as("cosine")) // dedupe (cells are disjoint; safe)
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("nn_id"), col("cosine"))
  }

  /**
   * Persist an IVF index — the build-once/probe-many ANN workflow: a
   * parquet codebook (`dest/centroids`) and the corpus assigned and
   * PARTITIONED by cell (`dest/vectors`). Probing broadcast-joins the
   * tiny probed-cells frame against the partitioned store, so dynamic
   * partition pruning reads ONLY the probed cells' files — at 100 TB the
   * scan itself is the candidate selection, and index build cost
   * (train + one assignment pass + one partitioned write) amortizes over
   * every query batch that follows. A write gives each cell about one
   * file, more only for a cell larger than AQE's advisory partition size
   * ([[writeCells]]).
   */
  def buildIvfIndex(corpus: DataFrame, dest: String, numCells: Int = 16,
                    iters: Int = 5, seed: Long = 42, trainSample: Int = 50000,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = trainKMeans(corpus, numCells, iters, seed, trainSample,
      idCol, vecCol)
    writeIndex(assignCells(corpus, cents, idCol, vecCol), cents, dest,
      "ivf-build")
  }

  /** `cell INT, centroid ARRAY<FLOAT>`: the codebook table of a store. */
  private val CentroidSchema = "cell INT, centroid ARRAY<FLOAT>"

  /** `nn_id BIGINT, cvec ARRAY<FLOAT>, cell INT`: the vector table of a
    * store, `cell` being its partition column. */
  private val VectorSchema = "nn_id BIGINT, cvec ARRAY<FLOAT>, cell INT"

  /** A store's codebook, in cell order. The known schema spares the
    * schema-inference job a plain parquet read runs. */
  private def readCentroids(spark: SparkSession, dir: String)
  : Array[Array[Float]] = {
    import spark.implicits._
    spark.read.schema(CentroidSchema).parquet(s"$dir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
  }

  /** A store's `(nn_id, cvec, cell)` rows, read with the known schema. */
  private def readVectors(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(VectorSchema).parquet(s"$dir/vectors")

  /** Write `(cell, nn_id, cvec)` rows as `dir/vectors`, partitioned by
    * cell, rebalanced on `cell` first: each cell reaches one writer task
    * instead of every input partition holding it, so a write makes about
    * one file per cell, not one per (input partition, cell). AQE sizes
    * the exchange: it packs small cells into few tasks and splits a cell
    * larger than the advisory partition size over several, so a hot cell
    * of a skewed store is not one straggler. */
  private def writeCells(binned: DataFrame, dir: String, mode: String): Unit =
    binned.hint("rebalance", col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$dir/vectors")

  /** Write a fresh store at `dir`: the codebook and the vector files
    * ([[writeCells]]). The two writes are independent, so they overlap
    * (concurrent jobs back-fill the tail; the tiny one-file centroids
    * write rides the big write's slack), and both complete, even when one
    * fails. */
  private def writeIndex(binned: DataFrame, cents: Array[Array[Float]],
                         dir: String, label: String): Unit = {
    val spark = binned.sparkSession
    import spark.implicits._
    graft.core.Concurrently.runAll(label, Seq(
      () => cents.zipWithIndex.map { case (v, c) => (c, v) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"),
      () => writeCells(binned, dir, "overwrite")))
  }

  /**
   * Append a DELTA of new vectors to a [[buildIvfIndex]] store WITHOUT
   * retraining the codebook — the daily embedding-drop lifecycle (the
   * ANN analogue of [[graft.operators.Sketches.mergeIntoBloomFilter]]
   * and [[graft.operators.Dedup.admitDelta]]): the delta is assigned to
   * the EXISTING centroids in one broadcast map pass (work ∝ |delta|,
   * the store is never rewritten) and appended to the cell-partitioned
   * vector files; [[ivfTopKFromIndex]] then serves old + new uniformly.
   *
   * Codebook drift is the caller's rebuild trigger: the returned
   * per-cell delta counts expose skew — when fresh data concentrates in
   * few cells (distribution shift), probe cost degrades and a
   * [[buildIvfIndex]] retrain is due. Same observability contract as
   * the Bloom filter's saturation signal.
   */
  def appendToIvfIndex(delta: DataFrame, dest: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Map[Int, Long] = {
    val spark = delta.sparkSession
    val live = resolveIvfDir(spark, dest)
    val cents = readCentroids(spark, live)
    require(cents.nonEmpty, s"no centroids at $dest — buildIvfIndex first")
    // r18: the per-cell census rides the append write's own job as
    // Observation counters (one fixed sum per known cell — the write
    // traverses the plan exactly once, so the exact counts are valid),
    // replacing the former lineage cut + separate census job; cells
    // with no delta rows are omitted, matching the old groupBy shape
    val obs = new org.apache.spark.sql.Observation("ivf_append_census")
    val censusCols = cents.indices.map(c =>
      sum(when(col("cell") === c, 1L).otherwise(0L)).as(s"c$c"))
    writeCells(assignCells(delta, cents, idCol, vecCol)
      .observe(obs, censusCols.head, censusCols.tail: _*), live, "append")
    cents.indices.map(c => c -> obs.get(s"c$c").asInstanceOf[Long])
      .filter(_._2 > 0L).toMap
  }

  private def ivfFs(spark: SparkSession, dest: String)
  : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dest)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /**
   * Live data dir of an IVF store under the generation lifecycle:
   * the NEWEST generation carrying a `COMMITTED` marker (`gen-N`,
   * written by [[rebuildIvfIndexIfSkewed]]), else the legacy flat
   * layout ([[buildIvfIndex]] writes `dest/{centroids,vectors}`
   * directly, which stays fully compatible). A failed rebuild attempt
   * leaves an UNCOMMITTED gen dir that no resolver path ever returns —
   * that is the atomicity contract: readers see the old index until
   * the commit marker lands, however the attempt died. Delegates to
   * [[graft.core.Generations]], the engine-wide claim/commit/resolve
   * protocol shared with the BM25 postings index.
   */
  private[operators] def resolveIvfDir(spark: SparkSession,
                                       dest: String): String =
    graft.core.Generations.resolve(spark, dest)

  /**
   * Close the IVF lifecycle loop: when appended deltas have skewed the
   * cell occupancy ([[appendToIvfIndex]]'s census is the observable
   * trigger; this is its actionable half), RETRAIN the codebook on the
   * store's full current contents and atomically swap the index to the
   * new generation. Skew metric: max cell count / mean cell count over
   * the live store — 1.0 is perfectly balanced; the default fires at
   * 4× (a probe visiting nProbe cells then scans up to ~4× its fair
   * share of candidates, the point where probe cost visibly degrades).
   *
   * Swap protocol (the snapshot sink's staging-promote pattern,
   * [[graft.sinks.essnapshot]]): train + assign + write land in an
   * attempt-unique staging dir `dest/gen-N` (N = max existing + 1 —
   * a partial dir from a died attempt is never reused), then a
   * `COMMITTED` marker, then the `dest/CURRENT` pointer swings via
   * tmp-write + rename. Readers ([[ivfTopKFromIndex]],
   * [[appendToIvfIndex]]) resolve through [[resolveIvfDir]], so a
   * failure at ANY point before the marker leaves them on the old
   * generation; uncommitted carcasses are swept by the next successful
   * rebuild. Committed generations beyond `keepGenerations` are
   * GC'd oldest-first; the legacy flat layout is never deleted.
   *
   * Scale shape: one ≤ numCells census aggregate, one bounded-sample
   * k-means train, one assignment map pass + cell-rebalanced write over
   * the store — work ∝ store size, driver state ≤ numCells rows.
   * Returns true iff a rebuild happened.
   */
  def rebuildIvfIndexIfSkewed(spark: SparkSession, dest: String,
                              skewThreshold: Double = 4.0,
                              numCells: Int = 16, iters: Int = 5,
                              seed: Long = 42, trainSample: Int = 50000,
                              keepGenerations: Int = 2): Boolean = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    require(skewThreshold >= 1.0,
      "skewThreshold must be >= 1 (max/mean is >= 1 by definition)")
    require(keepGenerations >= 1, "keepGenerations must be >= 1")
    val (fs, root) = ivfFs(spark, dest)
    val live = resolveIvfDir(spark, dest)
    val census = readVectors(spark, live)
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect()
    require(census.nonEmpty, s"no vectors at $live — buildIvfIndex first")
    val nCells = readCentroids(spark, live).length
    val total = census.map(_._2).sum
    val skew = census.map(_._2).max.toDouble * nCells / total
    if (skew < skewThreshold) return false
    // ---- staging write under an ATOMICALLY CLAIMED generation dir
    // (create-no-overwrite of gen-N/CLAIM): two concurrent rebuilds —
    // or a rebuild racing an append-triggered one — can no longer pick
    // the same N and interleave writes before either COMMITTED marker
    // lands; the loser of the claim race advances to the next free N.
    // A partial dir from a died attempt holds its CLAIM forever and is
    // likewise never reused.
    val gen = graft.core.Generations.claim(fs, root)
    val genDir = s"$dest/gen-$gen"
    // read twice, by the sample scan and by the assign-and-write scan: a
    // cut in between would hold a full copy of the store for one re-read
    val store = readVectors(spark, live).select(col("nn_id"), col("cvec"))
    val cents = trainKMeans(store, numCells, iters, seed, trainSample,
      "nn_id", "cvec")
    // both writes complete, even when one fails, before the commit
    // marker below
    writeIndex(assignCells(store, cents, "nn_id", "cvec"), cents, genDir,
      "ivf-rebuild")
    // ---- commit (marker, then pointer swing) + retention GC: keep
    // the newest `keepGenerations` committed gens, sweep the rest —
    // including uncommitted carcasses of died attempts
    graft.core.Generations.commit(fs, root, gen)
    graft.core.Generations.gc(fs, root, gen, keepGenerations)
    true
  }

  /** Probe a [[buildIvfIndex]] store: same semantics (and, with the same
    * build knobs, the same RESULTS) as [[ivfTopK]], but the corpus pass
    * is replaced by a partition-pruned read of the probed cells. */
  def ivfTopKFromIndex(spark: SparkSession, dest: String, queries: DataFrame,
                       k: Int, nProbe: Int = 4,
                       queryIdCol: String = "query_id",
                       vecCol: String = "embedding"): DataFrame = {
    val live = resolveIvfDir(spark, dest)
    val cents = readCentroids(spark, live)
    // the probed-cell set rides the cut's own job as a witness
    val (probed, seen) = graft.core.LineageCut.cutWitnessed(
      probeFrame(queries, cents, nProbe, queryIdCol, vecCol),
      "ivf_probe_cells")(collect_set(col("cell")).as("cells"))
    // LITERAL partition predicate, not a join-driven one: dynamic
    // partition pruning declines filter-less build sides (measured: 98%
    // of store rows read), while an isin over the probed-cell set
    // (≤ numCells ints — driver-bounded) prunes at FILE LISTING,
    // unconditionally. At 100 TB the store scan then touches only the
    // probed cells' files — the scan IS the candidate selection.
    val cellsWanted = seen("cells").asInstanceOf[scala.collection.Seq[Int]].toSeq
      .sorted
    val binned = readVectors(spark, live)
      .filter(col("cell").isin(cellsWanted: _*))
      .select(col("cell"), col("nn_id"), col("cvec"))
    topKFromCells(binned, broadcast(probed), k, queryIdCol)
  }

  /**
   * Embedding-cosine near-duplicate pairs above `threshold` (exact,
   * blocked). `blockExpr` bounds the join fan-out (e.g. an LSH bucket or
   * a metadata key); pass `lit(0)` only for small/test corpora.
   */
  def cosinePairs(df: DataFrame, threshold: Double, blockExpr: Column,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      blockExpr.as("block"))
    v.as("a").join(v.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("cosine", round(cosine(col("a.vec"), col("b.vec")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /**
   * SemDeDup-style SEMANTIC deduplication (the method of Abbas et al.
   * 2023, "SemDeDup: Data-efficient learning at web-scale through
   * semantic deduplication", arXiv:2303.09540): k-means-cluster the
   * embedding space, then deduplicate WITHIN each cluster only — two
   * semantically-redundant documents land in the same cluster, so the
   * quadratic cosine comparison is confined to cluster-mates.
   *
   * Keep rule (deterministic, order-free): a vector is dropped iff some
   * SMALLER-id cluster-mate has cosine ≥ `threshold` with it — the
   * keep-first semantic every dedup operator in this engine uses, so
   * re-runs, retries, and the SQL oracle all keep the identical row set.
   * (The paper keeps a random/centroid-distant representative per
   * ε-ball; min-id is the reproducible choice and drops the same count.)
   *
   * Scale shape: centroid training is bounded-sample ([[trainKMeans]] —
   * cost independent of corpus size), assignment is one broadcast +
   * streamed map pass (no shuffle), and the within-cluster pair join is
   * an equi-join on `cell` whose fan-out is Σ|cell|² — size `numCells ≈
   * n / targetCellSize` to bound it (the paper uses ~100k clusters at
   * web scale for exactly this reason). Identical vectors always share a
   * cell (same argmin), so exact duplicates are never missed; near-dups
   * split across a cell boundary are the method's documented recall
   * trade. A FLAT codebook's assignment scans centroids linearly (cost
   * n·numCells·dim — fine up to a few thousand cells); `hierarchical =
   * true` switches to the two-level [[trainKMeansHier]]/
   * [[kmeansAssignHier]] codebook (assignment ≈ n·2√numCells·dim),
   * which is how the paper's ~100k-cell web-scale regime stays
   * affordable. Default auto-switches above `hierarchicalAbove` cells.
   */
  def semanticDedup(df: DataFrame, threshold: Double, numCells: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    iters: Int = 5, seed: Long = 42,
                    trainSample: Int = 50000,
                    hierarchicalAbove: Int = 4096): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    // assignment keeps the vector inline — no join back to the corpus
    val withCell =
      if (numCells > hierarchicalAbove) {
        val cb = trainKMeansHier(df, numCells, iters, seed, trainSample,
          idCol, vecCol)
        assignCellsHier(df, cb, idCol, vecCol)
      } else {
        val cents = trainKMeans(df, numCells, iters, seed, trainSample,
          idCol, vecCol)
        assignCells(df, cents, idCol, vecCol)
      }
    val binned = withCell
      .select(col("nn_id").as(idCol), col("cvec").as(vecCol), col("cell"))
    val dropIds = cosinePairs(binned, threshold, col("cell"), idCol, vecCol)
      .select(col("id_b").as("__sd_drop")).distinct()
    df.join(dropIds, col(idCol) === col("__sd_drop"), "left_anti")
  }

  /** LSH-blocked cosine near-dup pairs — the scale path for
    * embedding dedup: candidates only within (multi-probed) buckets. */
  def lshCosinePairs(df: DataFrame, threshold: Double, numPlanes: Int = 12,
                     seed: Long = 42, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxBucketSize: Int = 0): DataFrame = {
    // compute the signature ONCE per row, then derive the multi-probe set
    // from the materialized column (inlining `sig` into every array slot
    // evaluates numPlanes+1 hyperplane projections per row), and cache
    // before the self-join so the sketch isn't re-derived per side
    val sigged = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        graft.functions.Vectors.hyperplaneSig(col(vecCol), numPlanes, seed)
          .as("sig0"))
      .lineageCut()
    val probes = array((0 to numPlanes).map {
      case 0 => col("sig0")
      case i => col("sig0").bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    // ONE-SIDED multi-probe: only side a explodes its probe set; side b
    // stays at its base signature. XOR symmetry makes the collision
    // contract hamming<=1 in either direction — identical vectors still
    // share every bucket (full planted-pair recall) — at HALF the banded
    // frame of probing both sides (which only bought hamming<=2). A pair
    // collides in at most one (probe, base) bucket, so no distinct() pass
    // is needed: one fewer shuffle.
    //
    // LEAN JOIN (the same shape as Dedup.minhashPairs): the banded frames
    // carry ONLY (id, bucket) 16-byte rows — letting the (numPlanes+1)×-
    // replicated probe side drag the embedding through the shuffle is the
    // exact spill cliff the minhash path hit in round 3 (measured here
    // too: 739 s at 3.2M×64-dim vs ~40 s lean). Vectors rejoin just for
    // the candidate pairs against the checkpointed frame.
    val a0 = sigged.select(col("id"), explode(probes).as("bucket"))
    val b0 = sigged.select(col("id"), col("sig0").as("bucket"))
    val (aSide, bSide) = if (maxBucketSize > 0) {
      // degenerate buckets (identical-vector floods) fan out quadratically
      // within the bucket; the count-agg + broadcast anti-join cap skips
      // them, losing only pairs whose EVERY shared bucket is degenerate
      val oversized = b0.groupBy("bucket")
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucketSize)
        .select("bucket")
      (a0.join(broadcast(oversized), Seq("bucket"), "left_anti"),
        b0.join(broadcast(oversized), Seq("bucket"), "left_anti"))
    } else (a0, b0)
    // SHUFFLE_HASH, not the default sort-merge: the probe side is
    // (numPlanes+1)× replicated (~29× at the 3.2M stress tier = 93M rows)
    // and sorting it is the measured wall (52× time for 64× data — the
    // tier was sort-bound, not join-bound). A shuffled hash join streams
    // the big banded side and builds a per-partition table of the BASE
    // side only (N/partitions 16-byte rows — trivially in-memory at any
    // sane partition count). Same exchange, zero sorts.
    val cand = aSide.as("a").join(bSide.hint("shuffle_hash").as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val va = sigged.select(col("id").as("id_a"), col("vec").as("__vec_a"))
    val vb = sigged.select(col("id").as("id_b"), col("vec").as("__vec_b"))
    // the vector rejoins build on the N-row vector frames and stream the
    // candidate pairs — again hash, not sort, on both joins
    cand.join(va.hint("shuffle_hash"), "id_a")
      .join(vb.hint("shuffle_hash"), "id_b")
      .withColumn("cosine", round(cosine(col("__vec_a"), col("__vec_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  // ── dominant principal component (spectral embedding diagnostics) ──

  /**
   * Dominant principal component of an embedding column: the direction
   * of maximum variance, by ONE distributed moment pass + driver-side
   * power iteration (Mises–Pollaczek-Geiringer 1929; the standard
   * first step of embedding whitening/decorrelation, anisotropy
   * diagnosis — "all my embeddings point the same way" is the classic
   * trained-encoder pathology — and 1-D spectral ordering for
   * curriculum or sharding).
   *
   * Scale shape: the corpus is touched by EXACTLY ONE `treeAggregate`
   * accumulating (n, Σx, ΣxxᵀT upper triangle) — d(d+3)/2 doubles per
   * partition (d=64 ⇒ 17 KB), merged depth-2, so the driver receives
   * one d²-sized accumulator regardless of corpus size. The power
   * iteration then runs on the d×d covariance ON THE DRIVER — O(d²)
   * per round, corpus-independent. Nothing data-sized ever reaches
   * the driver and the corpus never shuffles at all. `d` is capped
   * (4096) because the d² accumulator is the one thing that grows
   * quadratically.
   *
   * Determinism: fixed uniform start vector (1/√d), fixed iteration
   * count — every engine that replays the same arithmetic lands on
   * the same component INCLUDING ITS SIGN (power iteration's sign
   * ambiguity is resolved by the deterministic start).
   *
   * Returns (mean, direction, eigenvalue) with `direction` L2-unit.
   */
  def principalComponent(corpus: DataFrame, vecCol: String = "embedding",
                         iters: Int = 8)
  : (Array[Double], Array[Double], Double) = {
    val (mu, vs, ls) = principalComponents(corpus, 1, vecCol, iters)
    (mu, vs.head, ls.head)
  }

  /**
   * Top-`m` principal components by Hotelling deflation: after each
   * power-iterated component, `C ← C − λ·v·vᵀ` removes its subspace
   * and the next iteration converges to the next-largest eigenvector
   * (Hotelling 1933). The distributed cost is UNCHANGED from
   * [[principalComponent]] — still exactly one moment pass; deflation
   * and the m power iterations are all O(d²) driver arithmetic.
   * Components are mutually orthogonal (up to iteration tolerance) and
   * each carries its eigenvalue (the variance it explains).
   *
   * Returns (mean, directions, eigenvalues), directions L2-unit in
   * eigenvalue-descending order.
   */
  def principalComponents(corpus: DataFrame, m: Int,
                          vecCol: String = "embedding", iters: Int = 8)
  : (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(iters >= 1, "iters must be >= 1")
    require(m >= 1, "m must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(vecCol)).na.drop().as[Array[Float]].rdd
    // (n, sum, upper-triangle raw second moment), allocated lazily on
    // the first row so the pass needs no separate dimension probe
    type Acc = (Long, Array[Double], Array[Double])
    val zero: Acc = (0L, null, null)
    def seqOp(a: Acc, x: Array[Float]): Acc = {
      val d = x.length
      require(d > 0 && d <= 4096,
        s"principalComponent supports dims 1..4096; got $d")
      val (n, s0, g0) = a
      val s = if (s0 == null) new Array[Double](d) else s0
      val g = if (g0 == null) new Array[Double](d * (d + 1) / 2) else g0
      require(s.length == d,
        s"mixed embedding dims: ${s.length} vs $d")
      var i = 0
      var t = 0
      while (i < d) {
        val xi = x(i).toDouble
        s(i) += xi
        var j = i
        while (j < d) { g(t) += xi * x(j).toDouble; j += 1; t += 1 }
        i += 1
      }
      (n + 1, s, g)
    }
    def combOp(a: Acc, b: Acc): Acc = {
      if (a._2 == null) return b
      if (b._2 == null) return a
      require(a._2.length == b._2.length,
        s"mixed embedding dims: ${a._2.length} vs ${b._2.length}")
      var i = 0
      while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
      i = 0
      while (i < a._3.length) { a._3(i) += b._3(i); i += 1 }
      (a._1 + b._1, a._2, a._3)
    }
    val (n, s, g) = vecs.treeAggregate(zero)(seqOp, combOp, depth = 2)
    require(n > 0, "principalComponent on an empty/all-null vector column")
    val d = s.length
    val mu = s.map(_ / n)
    // full symmetric covariance from the upper triangle:
    // C_ij = S_ij/n − μ_i μ_j
    val c = Array.ofDim[Double](d, d)
    var i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = g(t) / n - mu(i) * mu(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    require(m <= d, s"m=$m components from a $d-dim covariance")
    val dirs = Array.ofDim[Array[Double]](m)
    val lambdas = new Array[Double](m)
    var comp = 0
    while (comp < m) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var it = 0
      while (it < iters) {
        val w = new Array[Double](d)
        var r = 0
        while (r < d) {
          var acc = 0.0
          var k = 0
          while (k < d) { acc += c(r)(k) * v(k); k += 1 }
          w(r) = acc
          r += 1
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        require(nrm > 0,
          "power iteration collapsed to zero (degenerate covariance — " +
            s"fewer than $m informative components)")
        v = w.map(_ / nrm)
        it += 1
      }
      val cv = (0 until d).map(r =>
        (0 until d).map(k => c(r)(k) * v(k)).sum)
      val lambda = (0 until d).map(r => v(r) * cv(r)).sum
      dirs(comp) = v
      lambdas(comp) = lambda
      // Hotelling deflation: remove the found subspace so the next
      // power iteration converges to the next-largest component
      var r = 0
      while (r < d) {
        var k = 0
        while (k < d) { c(r)(k) -= lambda * v(r) * v(k); k += 1 }
        r += 1
      }
      comp += 1
    }
    (mu, dirs, lambdas)
  }

  /**
   * Per-vector score along the dominant principal component:
   * `score = (x − μ) · v` via the native codegen'd `centered_dot`
   * expression (μ, v ride the plan as constants — the scoring pass is
   * map-only, inside whole-stage codegen, zero per-row allocation).
   * THE 1-D spectral ordering: sort by it for curriculum/sharding,
   * threshold |score| for anisotropy outliers, subtract `score · v`
   * for the first step of whitening.
   */
  def pcaScores(corpus: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding", iters: Int = 8): DataFrame = {
    val (mu, dir, _) = principalComponent(corpus, vecCol, iters)
    corpus.select(col(idCol),
      graft.functions.Vectors.centeredDot(col(vecCol), mu, dir).as("pc1"))
  }

  /** Scores along the top-`m` components (`pc1`..`pcm` columns) — the
    * m-dimensional spectral embedding; still ONE moment pass + one
    * map-only projection with m codegen'd `centered_dot`s. */
  def pcaScoresM(corpus: DataFrame, m: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding", iters: Int = 8): DataFrame = {
    val (mu, dirs, _) = principalComponents(corpus, m, vecCol, iters)
    val cols = col(idCol) +: dirs.zipWithIndex.map { case (dir, i) =>
      graft.functions.Vectors.centeredDot(col(vecCol), mu, dir)
        .as(s"pc${i + 1}")
    }.toSeq
    corpus.select(cols: _*)
  }

  /**
   * Per-vector simplified silhouette against a fixed centroid table
   * (Rousseeuw 1987's silhouette with the centroid approximation —
   * a = distance to OWN centroid, b = distance to the nearest OTHER
   * centroid, s = (b − a)/max(a, b) ∈ [−1, 1]): the per-point cluster-
   * quality signal behind [[silhouetteReport]], exposed row-level so
   * callers can flag individual boundary points (s ≈ 0) or
   * misassignments (s < 0). The centroid approximation is what makes
   * silhouette LINEAR — the classical pairwise form is O(n²) by
   * definition and has no place at corpus scale.
   *
   * Determinism: one broadcast + one streamed map pass (the
   * [[kmeansAssign]] shape, no shuffle); per-row arithmetic is a fixed
   * sequential fold over (centroid, dimension) — same result every
   * run, duplicates of a vector get the IDENTICAL (cell, sil).
   * Assignment ties break to the lowest centroid index (the [[nearest]]
   * rule). A vector sitting exactly on two centroids (a = b = 0)
   * reports s = 0.
   *
   * Returns (`idCol`, `cell`, `sil`).
   */
  def silhouetteRows(corpus: DataFrame, centroids: Array[Array[Float]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(centroids.length >= 2,
      "silhouette needs >= 2 centroids (no 'other cluster' exists)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = cB.value
        rows.map { case (id, vec) =>
          var own = 0; var a = Double.MaxValue; var b = Double.MaxValue
          var c = 0
          while (c < cs.length) {
            val cv = cs(c); var d = 0.0; var i = 0
            val n = math.min(cv.length, vec.length)
            while (i < n) { val t = cv(i) - vec(i); d += t * t; i += 1 }
            if (d < a) { b = a; a = d; own = c }
            else if (d < b) { b = d }
            c += 1
          }
          val da = math.sqrt(a); val db = math.sqrt(b)
          val m = math.max(da, db)
          val s = if (m > 0) (db - da) / m else 0.0
          (id, own, s)
        }
      }.toDF(idCol, "cell", "sil")
  }

  /**
   * Per-cluster simplified-silhouette report: the clustering-quality
   * gate to run after [[trainKMeans]] before trusting cells for
   * SemDeDup buckets or stratified mixes — a cell whose mean
   * silhouette sits near 0 is a boundary soup, not a cluster.
   *
   * EXACTNESS: per-row silhouettes quantize at `unitScale` (exact
   * long sums — the cross-row reduction never sums raw doubles), mean
   * = ONE division per cell. Scale shape: [[silhouetteRows]]'s
   * broadcast map pass + one map-side-combined ≤ k-cell aggregate.
   *
   * Returns one row per non-empty cell: (`cell`, `n`, `mean_sil`).
   */
  def silhouetteReport(corpus: DataFrame, centroids: Array[Array[Float]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       unitScale: Long = 1000000L): DataFrame = {
    require(unitScale >= 1, "unitScale must be >= 1")
    silhouetteRows(corpus, centroids, idCol, vecCol)
      .select(col("cell"),
        round(col("sil") * unitScale).cast("long").as("us"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("us").as("ss"))
      .select(col("cell"), col("n"),
        (col("ss").cast("double") / (col("n") * unitScale).cast("double"))
          .as("mean_sil"))
  }

  /**
   * Recall@k of an approximate ranked retrieval against an exact one —
   * the evaluation every ANN deployment owes its users: POOLED (micro)
   * recall Σ|approx ∩ exact| / Σ|exact| over per-query top-k result
   * frames (both in the (queryIdCol, itemIdCol) shape
   * [[bruteForceTopK]] / [[lshTopK]] / [[ivfTopK]] emit). Pooled ≠
   * macro (mean of per-query recalls): the two diverge whenever
   * per-query exact-set sizes differ — pooled weights each query by
   * its exact count, which is the right weighting for "what fraction
   * of true neighbors did the index surface". The per-tier recall
   * numbers in SCALING.md's ann section come from exactly this
   * computation.
   *
   * EXACTNESS: the intersection is an equi-join on (query, item) over
   * the DEDUPLICATED approx pairs (a malformed approx frame with
   * duplicate (query, item) rows must not count a hit twice — recall
   * could exceed 1.0) — exact long counts, pooled recall ONE
   * division. Queries the approximate side missed entirely still
   * count their exact k in the denominator (dropping them would
   * inflate recall exactly when the index is at its worst).
   *
   * Scale shape: two keys-only aggregates + one (query, item) hash
   * join over top-k-sized frames (≪ corpus). Returns ONE row:
   * (`n_queries`, `n_exact`, `n_hit`, `recall`).
   */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                queryIdCol: String = "query_id",
                itemIdCol: String = "nn_id"): DataFrame = {
    val a = approx.select(col(queryIdCol).as("q"), col(itemIdCol).as("i"))
      .distinct()
    val e = exact.select(col(queryIdCol).as("q"), col(itemIdCol).as("i"))
    val hits = a.join(e, Seq("q", "i"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    e.agg(countDistinct("q").as("n_queries"), count(lit(1)).as("n_exact"))
      .crossJoin(hits)
      .select(col("n_queries"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /**
   * Embedding-space drift monitor: per-slice centroid norm and cosine
   * against the whole-corpus centroid — the cheap first alarm that a
   * source/day/shard's embedding distribution moved (a drifted
   * encoder, a new content mix, a broken preprocessing step shift the
   * centroid long before ANN recall visibly degrades). Slices whose
   * `cos_vs_global` drops below ~0.9 on a previously-stable feed are
   * the ones to re-embed or quarantine.
   *
   * EXACTNESS: per-dimension coordinates quantize at 10⁶ (floats cast
   * to double exactly, one product, engine-identical rounding), so
   * per-(slice, dim) sums are EXACT longs; the global per-dim sums
   * are exact sums of slice sums; cosine scale-cancels the 1/(n·10⁶)
   * factors, so cos = ΣS_dG_d / (√ΣS²·√ΣG²) is one fixed chain on
   * exact DECIMAL(38,0) dot products — the three Σ over dims ride ONE
   * dim-ordered running window (a sequential fold, never an unordered
   * double sum) — and √ is IEEE-correctly-rounded in both engines;
   * 6dp. Norm = √ΣS²/(n·10⁶), the slice centroid's L2 length in
   * value units.
   *
   * Scale shape: one posexplode → (slice, dim) map-side-combined
   * aggregate (rows × dims, the [[principalComponent]] moment-pass
   * bound), one ≤ dims-row global aggregate broadcast back, one
   * window over ≤ dims rows per slice. Nothing row-sized survives the
   * first aggregate.
   */
  def centroidDrift(df: DataFrame, sliceCol: String,
                    vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val q = df.filter(col(sliceCol).isNotNull && col(vecCol).isNotNull)
      .select(col(sliceCol).as("slice"),
        posexplode(col(vecCol)).as(Seq("__dim", "__e")))
      .select(col("slice"), col("__dim"),
        round(col("__e").cast("double") * 1000000L).cast("long").as("__q"))
    val bySlice = graft.core.LineageCut.cut(
      q.groupBy("slice", "__dim").agg(sum(col("__q").cast(dec)).as("__s"),
        count(lit(1)).as("__c")))
    val global = bySlice.groupBy("__dim")
      .agg(sum(col("__s")).as("__g"))
    val w = Window.partitionBy("slice").orderBy("__dim")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = bySlice.join(broadcast(global), "__dim")
      .withColumn("__sg", sum(col("__s") * col("__g")).over(w))
      .withColumn("__ss", sum(col("__s") * col("__s")).over(w))
      .withColumn("__gg", sum(col("__g") * col("__g")).over(w))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("slice").orderBy("__dim")))
      .withColumn("__nd", count(lit(1)).over(Window.partitionBy("slice")))
      .filter(col("__rn") === col("__nd"))
    val ssD = col("__ss").cast("double")
    val ggD = col("__gg").cast("double")
    // output key `slice_key` — `slice` is a DuckDB function name and
    // the oracle checker re-selects output columns unquoted
    folded.select(col("slice").as("slice_key"), col("__c").as("n"),
      round(sqrt(ssD) / (col("__c").cast("double") * 1000000.0), 6)
        .as("centroid_norm"),
      when(col("__ss") > 0 && col("__gg") > 0,
        round(col("__sg").cast("double") / (sqrt(ssD) * sqrt(ggD)), 6))
        .as("cos_vs_global"))
  }
}

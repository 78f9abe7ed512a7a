package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.LineageCut.CutOps

/**
 * Exact DISTRIBUTED global ranking — the scale-safe replacement for
 * `row_number()/ntile() OVER (ORDER BY …)` with no PARTITION BY, which
 * funnels every row through ONE task's sort. The pattern is the same
 * chunked exact-prefix-sum factorization [[Packing.packSequences]]
 * uses for global positions: split the frame into order-respecting
 * chunks, rank locally inside each chunk in parallel, and stitch the
 * chunks with exclusive prefix counts computed over the CHUNK SUMMARY
 * (≤ `chunks` rows — the only global-order step, one tiny task).
 *
 * Chunks come from `repartitionByRange` on the order key itself, so
 * chunk boundaries respect the global order by construction for ANY
 * key distribution — including heavily tied metrics, which
 * value-bucketed chunking would funnel into one chunk (ties split
 * across range partitions because the range covers the full composite
 * key). The within-chunk rank needs no window either: after
 * `sortWithinPartitions`, `monotonically_increasing_id`'s documented
 * bit layout (partition id in the upper 31 bits, per-partition record
 * index in the lower 33) IS (chunk, local rank); one broadcast join
 * against the ≤ `chunks`-row offset frame finishes the rank.
 *
 * Scale shape: one range shuffle of the frame + one map-side-combined
 * count per partition (≤ `chunks` rows collected into a one-task
 * window) + one broadcast join. At 10⁹ rows and `chunks` = 256 each
 * task sorts ~4M rows — vs. the window form's single 10⁹-row sort.
 *
 * Determinism: `order` must be a TOTAL order over the rows (callers
 * tiebreak on a unique key, as the window form they replace already
 * did for cross-engine determinism); ranks of rows tied under a
 * partial order would be arbitrary. The frame is lineage-cut after id
 * assignment so the offset job and the consumer see identical ids.
 */
object Ranking {

  private val MidBits = 33 // monotonically_increasing_id record-index bits

  /** Session-derived chunk count for the range shuffles (chunks = 0):
    * max(shuffle partitions, default parallelism). */
  private def sessionChunks(df: DataFrame): Int = {
    val s = df.sparkSession
    math.max(s.sessionState.conf.numShufflePartitions,
      s.sparkContext.defaultParallelism)
  }

  /** Auto-stitch ceiling for [[withGroupedRank]]: summaries at or
    * below this many rows broadcast (≈ tens of MB at ~100 B/row);
    * larger ones stitch via a shuffle join — no driver
    * materialization scales with group count. */
  val AutoBroadcastOffsetRows: Long = 1L << 18

  /**
   * Adds `rankCol` (1-based exact global rank by `order`) and `nCol`
   * (total row count) to `df`. Both are LongType. `order` must totally
   * order the rows; column names starting with `__` are reserved.
   */
  /** chunks = 0 (the default) derives the chunk count from the
    * session: max(shuffle partitions, default parallelism) — the scale
    * knob the deployment already sizes, so the range shuffle's task
    * count follows the cluster instead of a fixed 256 tuned for
    * neither local mode nor production (at bench scale the 256-task
    * sorts were 8× the core count in pure scheduling overhead; at
    * 100 TB a properly-sized spark.sql.shuffle.partitions is far above
    * 256 and the fixed constant under-parallelized the sort). Rank
    * output is EXACT for any chunk count — the stitch is exact
    * integer arithmetic — so this is a plan-shape knob only. */
  def withGlobalRank(df: DataFrame, order: Seq[Column], rankCol: String,
                     nCol: String, chunks: Int = 0): DataFrame = {
    require(order.nonEmpty, "order must name at least one sort column")
    require(chunks >= 0, "chunks must be >= 0 (0 = derive from session)")
    val chunksN = if (chunks == 0) sessionChunks(df) else chunks
    val reserved = df.columns.filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"column names starting with __ are reserved here: ${reserved.toSet}")
    require(!df.columns.contains(rankCol) && !df.columns.contains(nCol),
      s"output columns $rankCol/$nCol already exist in the frame")
    require(!rankCol.startsWith("__") && !nCol.startsWith("__"),
      s"output column names $rankCol/$nCol must not use the reserved " +
        "__ prefix (they would collide with the helper's scratch columns)")
    val parted = df.repartitionByRange(chunksN, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .lineageCut() // offsets job + consumer must see identical ids
    val counts = parted
      .groupBy(shiftright(col("__mid"), MidBits).as("__pid"))
      // fail-loud overflow guard (ADVICE r17): monotonically_increasing_id
      // has 33 record-index bits per partition — a chunk beyond 2^33 rows
      // would silently bleed into the partition-id bits and corrupt every
      // rank; the check rides the summary aggregate (≤ chunks rows)
      .agg(when(count(lit(1)) >= (1L << MidBits),
          raise_error(lit("withGlobalRank: a range chunk exceeds 2^33 " +
            "rows — monotonically_increasing_id's record-index bits " +
            "would overflow into the chunk id; raise `chunks` (or " +
            "spark.sql.shuffle.partitions)")))
        .otherwise(count(lit(1))).as("__cnt"))
    // exclusive prefix counts + grand total over ≤ `chunks` summary rows
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cnt")).over(offW), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(totW))
      .select("__pid", "__off", "__n")
    parted
      .withColumn("__pid", shiftright(col("__mid"), MidBits))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol,
        col("__off") + col("__mid").bitwiseAND(lit((1L << MidBits) - 1)) + 1)
      .withColumn(nCol, col("__n"))
      .drop("__mid", "__pid", "__off", "__n")
  }

  /**
   * Exact DISTRIBUTED per-group ranking — [[withGlobalRank]] with a
   * group key: adds `rankCol` (1-based exact rank by `order` WITHIN
   * each `grpCol` group) and `nCol` (the group's total row count).
   * The scale-safe replacement for `row_number() OVER (PARTITION BY g
   * ORDER BY …)` when single groups are too large for one task's
   * sort — and, melted, the one-shuffle path for k parallel rankings
   * ([[graft.operators.Profiling.spearmanMatrix]] melts k columns to
   * (col_idx, value, id) rows and ranks ALL k columns in ONE range
   * shuffle of k·n rows instead of k full-frame passes).
   *
   * Same chunked exact-prefix-sum factorization as [[withGlobalRank]],
   * with the range partitioner keyed on (group, order…): ranges are
   * disjoint and ordered over the composite key, so each group's rows
   * occupy a CONTIGUOUS run of chunks and are contiguous within each
   * chunk after the sort. The chunk summary therefore carries one row
   * per (chunk, group) — ≤ chunks + groups − 1 rows total, since each
   * chunk boundary splits at most one group — with per-(chunk, group)
   * count and min id; per-group chunk offsets are a group-partitioned
   * prefix window over that summary (tiny, bounded), and the final
   * broadcast join stitches local positions into exact per-group
   * ranks. No per-group sort task ever sees more than ~n/chunks rows,
   * whatever the group-size skew — the giant-group bound that
   * `PARTITION BY` windows carry does not exist here.
   *
   * Determinism: `order` must totally order rows WITHIN each group
   * (callers tiebreak on a unique key). Null group values rank
   * together as their own group (null-safe stitch join), matching the
   * window form's null-partition semantics.
   *
   * GROUP-CARDINALITY BOUND — AUTO-SELECTED STITCH: the offsets
   * summary is ≤ chunks + groups − 1 rows, so the stitch join's right
   * side scales with GROUP COUNT, not group size (the exact complement
   * of the `PARTITION BY` window, whose ceiling is the largest group).
   * By default (`broadcastOffsets = None`) the helper COUNTS the
   * summary — the count job performs the same aggregation pass the
   * offsets derivation needs anyway, and the lineage cut hands that
   * one materialization to both, so auto-selection costs no extra
   * pass over the row frame — and broadcasts the stitch only when the
   * summary is ≤ [[AutoBroadcastOffsetRows]] (2¹⁸ rows ≈ a few tens
   * of MB; past it a driver collect of a million-group summary is
   * exactly the materialization this helper exists to avoid). Larger
   * summaries stitch through a shuffle join on (chunk, group) — same
   * exact output, no driver materialization, one extra exchange of
   * the row frame. `Some(true)`/`Some(false)` force either strategy
   * (the A/B measurement escape; forcing also skips the count job).
   *
   * NOTE (r14 API change): auto mode makes construction EAGER — the
   * summary count job runs when this helper is CALLED, not when the
   * result is acted on; and `broadcastOffsets` changed Boolean →
   * Option[Boolean] (source-breaking for callers passing true/false
   * positionally). Call sites whose group count is bounded by
   * construction (a handful of queries, melted columns, replica
   * counts) should pass `Some(true)` to keep construction lazy and
   * skip the count job — the internal bounded sites do.
   */
  def withGroupedRank(df: DataFrame, grpCol: String, order: Seq[Column],
                      rankCol: String, nCol: String,
                      chunks: Int = 0,
                      broadcastOffsets: Option[Boolean] = None): DataFrame =
    withGroupedRank(df, grpCol, order, rankCol, nCol, chunks, broadcastOffsets,
      chunkRowLimit = 1L << MidBits)

  /** [[withGroupedRank]] with the per-chunk row limit as a parameter, so a
    * spec can reach the overflow guard without 2^33 rows. */
  private[operators] def withGroupedRank(df: DataFrame, grpCol: String,
                                         order: Seq[Column], rankCol: String,
                                         nCol: String, chunks: Int,
                                         broadcastOffsets: Option[Boolean],
                                         chunkRowLimit: Long): DataFrame = {
    require(order.nonEmpty, "order must name at least one sort column")
    require(chunks >= 0, "chunks must be >= 0 (0 = derive from session)")
    val chunksN = if (chunks == 0) sessionChunks(df) else chunks
    require(df.columns.contains(grpCol), s"no column $grpCol in the frame")
    val reserved = df.columns.filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"column names starting with __ are reserved here: ${reserved.toSet}")
    require(!df.columns.contains(rankCol) && !df.columns.contains(nCol),
      s"output columns $rankCol/$nCol already exist in the frame")
    require(!rankCol.startsWith("__") && !nCol.startsWith("__"),
      s"output column names $rankCol/$nCol must not use the reserved " +
        "__ prefix (they would collide with the helper's scratch columns)")
    val keys = col(grpCol) +: order
    val parted = df.repartitionByRange(chunksN, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .lineageCut() // offsets job + consumer must see identical ids
    // one summary row per (chunk, group): count + the group's first id
    // in the chunk (rows of a group are contiguous after the sort, so
    // __mid − __base IS the 0-based local rank within (chunk, group))
    val summary0 = parted
      .groupBy(shiftright(col("__mid"), MidBits).as("__opid"),
        col(grpCol).as("__g"))
      .agg(count(lit(1)).as("__cnt"), min("__mid").as("__base"))
      // same 2^33-rows-per-chunk overflow guard as withGlobalRank
      // (ADVICE r17): monotonically_increasing_id overflows per chunk, so
      // the guard sums the chunk's groups — a window over the summary
      // rows, which every offset reads
      .withColumn("__cnt", when(
          sum(col("__cnt")).over(Window.partitionBy("__opid")) >= chunkRowLimit,
          raise_error(lit(s"withGroupedRank: a range chunk reaches " +
            s"$chunkRowLimit rows — monotonically_increasing_id's " +
            "record-index bits would overflow into the chunk id; raise " +
            "`chunks` (or spark.sql.shuffle.partitions)")))
        .otherwise(col("__cnt")))
    val (summary, doBroadcast) = broadcastOffsets match {
      case Some(forced) => (summary0, forced)
      case None =>
        // auto: materialize the summary once, count it, and hand the
        // SAME cut frame to the offsets derivation — no second
        // aggregation pass over the row frame
        val cut = summary0.lineageCut()
        (cut, cut.count() <= AutoBroadcastOffsetRows)
    }
    val offW = Window.partitionBy("__g").orderBy(col("__opid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy("__g")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = summary
      .withColumn("__off", coalesce(sum(col("__cnt")).over(offW), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(totW))
      .select("__opid", "__g", "__base", "__off", "__n")
    val stitch = if (doBroadcast) broadcast(offsets) else offsets
    parted
      .withColumn("__pid", shiftright(col("__mid"), MidBits))
      .join(stitch,
        col("__pid") === col("__opid") && col(grpCol) <=> col("__g"))
      .withColumn(rankCol,
        col("__off") + (col("__mid") - col("__base")) + 1)
      .withColumn(nCol, col("__n"))
      .drop("__mid", "__pid", "__opid", "__g", "__base", "__off", "__n")
  }

  /**
   * Doubled tie-average ranks from LEVEL COUNTS — for rank statistics
   * that only consume per-level average ranks (Spearman's ρ and
   * friends): given one row per (`grpCols`…, `valCol`) level with the
   * level's row count in `cntCol`, adds `r2Col` = 2·(rows in smaller
   * levels of the same group) + cnt + 1 — EXACTLY min+max of the ranks
   * a (value, id)-ordered [[withGlobalRank]] row pass would assign the
   * level's rows (consecutive integers: min = before+1, max =
   * before+cnt), as exact longs, WITHOUT ever ranking rows. The
   * replacement collapses a row-sized range shuffle + sort (k·n rows
   * for a melted matrix) into a map-side-combined level aggregate the
   * caller already owns plus level-sized prefix machinery here.
   *
   * Scale shape: the same chunked exact-prefix-sum factorization as
   * [[withGlobalRank]] — levels range-partition by (group…, value)
   * (equal keys share a chunk, so chunk order extends the total
   * order), per-(chunk, group) count totals stitch through a broadcast
   * exclusive-prefix window over the ≤ chunks+groups−1 summary rows,
   * and the within-chunk running count is a (chunk, group)-local
   * window — every shuffle and window is LEVEL-cardinality-sized,
   * never row-sized, and no single task sees more than ~levels/chunks
   * rows.
   *
   * Contracts: `levels` carries one row per (group…, value) — callers
   * aggregate counts first; group and value columns must be non-null
   * (rank callers filter nulls before quantizing, same as the row-rank
   * path they replace).
   */
  def levelRanks(levels: DataFrame, grpCols: Seq[String], valCol: String,
                 cntCol: String, r2Col: String,
                 chunks: Int = 0): DataFrame = {
    require(chunks >= 0, "chunks must be >= 0 (0 = derive from session)")
    val missing = (grpCols :+ valCol :+ cntCol)
      .filterNot(levels.columns.contains)
    require(missing.isEmpty, s"columns not in the frame: $missing")
    require(!levels.columns.contains(r2Col),
      s"output column $r2Col already exists in the frame")
    val reserved = levels.columns.filter(_.startsWith("__"))
      .filterNot(_ == cntCol)
    require(reserved.isEmpty,
      s"column names starting with __ are reserved here: ${reserved.toSet}")
    val chunksN = if (chunks == 0) sessionChunks(levels) else chunks
    val keys = grpCols.map(col) :+ col(valCol)
    val parted = levels.repartitionByRange(chunksN, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .lineageCut() // summary pass + stitched consumer see identical ids
    val withPid = parted
      .withColumn("__pid", shiftright(col("__mid"), MidBits))
    val gcols = grpCols.map(col)
    val summary = withPid
      .groupBy((col("__pid") +: gcols): _*)
      .agg(sum(col(cntCol)).as("__cs"))
    val offW = Window.partitionBy(gcols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = summary
      .withColumn("__choff", coalesce(sum(col("__cs")).over(offW), lit(0L)))
      .select((col("__pid") +: gcols) :+ col("__choff"): _*)
    val locW = Window.partitionBy((col("__pid") +: gcols): _*)
      .orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withPid
      .withColumn("__loc", coalesce(sum(col(cntCol)).over(locW), lit(0L)))
      .join(broadcast(offsets), "__pid" +: grpCols)
      .withColumn(r2Col,
        lit(2L) * (col("__choff") + col("__loc")) + col(cntCol) + lit(1L))
      .drop("__mid", "__pid", "__choff", "__loc")
  }

  /**
   * SQL-standard `ntile(k)` bucket (IntegerType, 1-based) from an
   * exact 1-based `rank` and total count `n` — the first `n % k`
   * buckets take `n/k + 1` rows, the rest `n/k` (larger buckets
   * first, the fill rule Spark and DuckDB both implement). All
   * arithmetic is exact integer math (`pmod`-based division).
   */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, "ntile requires k >= 1")
    def idiv(a: Column, b: Column): Column = (a - pmod(a, b)) / b
    val base = idiv(n, lit(k.toLong))
    val rem = pmod(n, lit(k.toLong))
    val cap = rem * (base + 1) // rows held by the larger buckets
    // base = 0 only when n < k; then cap = n >= rank, so the otherwise
    // branch (and its division by base) is never evaluated (CaseWhen
    // short-circuits per row)
    when(rank <= cap, idiv(rank - 1, base + 1) + 1)
      .otherwise(rem + idiv(rank - cap - 1, base) + 1)
      .cast("int")
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
   * ranked lists: `score(d) = Σ_i 1/(k0 + rank_i(d))` over the lists
   * containing d. THE standard hybrid-retrieval combiner — lexical
   * BM25 + embedding ANN candidates for contamination audits or
   * near-dup review merge this way — because it needs no score
   * calibration between lists, only ranks.
   *
   * Every input frame carries (`keyCol`, `rankCol`) with 1-based
   * ranks. Output: (`key`, `rank_1` … `rank_N` nullable, `rrf` 6dp),
   * top `topK` by score. DETERMINISM: each 1/(k0 + rank) is one IEEE
   * division of an exact integer; the per-key sum is a FIXED
   * left-to-right fold over the list index (never a groupBy over
   * per-list rows, whose partial-aggregation order is
   * engine-dependent), so equal inputs give bit-equal scores and the
   * (score desc, key asc) frontier cannot drift. Symmetric rank swaps
   * tie exactly — the key tiebreak is load-bearing, not cosmetic.
   * Duplicate keys within one list take their best (min) rank.
   *
   * Scale shape: N list-tagged projections union (ranked lists are
   * topK-bounded upstream), ONE key-keyed pivot aggregate, a
   * TakeOrdered. Nothing here should ever see corpus-sized frames —
   * fuse lists, not corpora.
   */
  def rrfFuse(rankings: Seq[DataFrame], keyCol: String, rankCol: String,
              k0: Int = 60, topK: Int = 100): DataFrame = {
    require(rankings.size >= 2 && rankings.size <= 16,
      s"rrfFuse wants 2..16 lists; got ${rankings.size}")
    require(k0 >= 1, "k0 must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val tagged = rankings.zipWithIndex.map { case (f, i) =>
      f.select(col(keyCol).as("key"), col(rankCol).cast("long").as("__r"),
        lit(i).as("__src"))
    }.reduce(_ unionAll _)
    val pivots = rankings.indices.map(i =>
      min(when(col("__src") === i, col("__r"))).as(s"rank_${i + 1}"))
    val score = rankings.indices
      .map(i => coalesce(
        lit(1.0) / (col(s"rank_${i + 1}") + lit(k0.toLong)).cast("double"),
        lit(0.0)))
      .reduceLeft(_ + _)
    tagged.groupBy("key").agg(pivots.head, pivots.tail: _*)
      .withColumn("__rrf", score)
      .orderBy(col("__rrf").desc, col("key").asc)
      .limit(topK)
      .select(col("key") +: rankings.indices.map(i =>
        col(s"rank_${i + 1}")) :+ round(col("__rrf"), 6).as("rrf"): _*)
  }

  /**
   * Per-QUERY reciprocal-rank fusion — [[rrfFuse]] with a query key:
   * each input frame carries (`queryCol`, `keyCol`, `rankCol`) per-query
   * ranked lists (the [[graft.operators.TextAnalysis.bm25Scores]] /
   * ANN top-k shape), and fusion runs independently within every query.
   * THE hybrid-retrieval batch combiner: lexical BM25 lists + embedding
   * ANN lists for a whole query set in one call.
   *
   * Same determinism contract as [[rrfFuse]]: per-key scores are a
   * FIXED left-to-right fold over the list index (never an unordered
   * aggregate), equal inputs give bit-equal scores, ties break
   * (score desc, key asc) within the query. Duplicate keys within one
   * list take their best (min) rank.
   *
   * Scale shape: N list-tagged projections union (each list is
   * per-query top-k-bounded upstream), ONE (query, key)-keyed pivot
   * aggregate, then a QUERY-partitioned rank window — safe precisely
   * because every query's candidate set is ≤ N·topK_upstream rows by
   * construction (a bounded-group window, not a data-sized one) — and
   * the per-query `topK` cut. Parallelism is across queries.
   */
  def rrfFuseByQuery(rankings: Seq[DataFrame], queryCol: String,
                     keyCol: String, rankCol: String,
                     k0: Int = 60, topK: Int = 100): DataFrame = {
    require(rankings.size >= 2 && rankings.size <= 16,
      s"rrfFuseByQuery wants 2..16 lists; got ${rankings.size}")
    require(k0 >= 1, "k0 must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val tagged = rankings.zipWithIndex.map { case (f, i) =>
      f.select(col(queryCol).as("query"), col(keyCol).as("key"),
        col(rankCol).cast("long").as("__r"), lit(i).as("__src"))
    }.reduce(_ unionAll _)
    val pivots = rankings.indices.map(i =>
      min(when(col("__src") === i, col("__r"))).as(s"rank_${i + 1}"))
    val score = rankings.indices
      .map(i => coalesce(
        lit(1.0) / (col(s"rank_${i + 1}") + lit(k0.toLong)).cast("double"),
        lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy("query")
      .orderBy(col("__rrf").desc, col("key").asc)
    tagged.groupBy("query", "key").agg(pivots.head, pivots.tail: _*)
      .withColumn("__rrf", score)
      .withColumn("__qr", row_number().over(w))
      .filter(col("__qr") <= topK)
      .select(col("query") +: col("key") +: rankings.indices.map(i =>
        col(s"rank_${i + 1}")) :+ round(col("__rrf"), 6).as("rrf"): _*)
  }

  /**
   * One scale-safe ntile pass: rank by `order`, bucket into `k` tiles
   * as `scoreCol`, drop the scratch rank/count. The drop-in
   * replacement for `ntile(k).over(Window.orderBy(order…))`.
   */
  def withNtile(df: DataFrame, order: Seq[Column], scoreCol: String,
                k: Int, chunks: Int = 0): DataFrame = {
    // scratch names stay OUT of the reserved __ space (that's the
    // helper's own) and dodge caller columns by suffixing
    def fresh(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(n => !df.columns.contains(n)).get
    val rankCol = fresh("gr_rank")
    val nCol = fresh("gr_total")
    withGlobalRank(df, order, rankCol, nCol, chunks)
      .withColumn(scoreCol, ntileFromRank(col(rankCol), col(nCol), k))
      .drop(rankCol, nCol)
  }

  /**
   * Retrieval-quality evaluation report — nDCG@k (Järvelin &
   * Kekäläinen 2002), MRR, and AP@k per query from a ranked result
   * frame and a graded relevance frame: the metrics that decide
   * whether an ANN index / BM25 / hybrid-fusion change actually
   * improved retrieval, next to [[graft.operators.Similarity.recallAtK]]'s
   * set-overlap view. LINEAR gain (dcg contribution = rel/log₂(rank+1);
   * the 2^rel−1 exponential variant is a different operator by
   * contract), standard AP@k normalization min(R, k).
   *
   * Inputs: `ranked` (query, item, 1-based rank — unique per query,
   * caller contract), `relevance` (query, item, integer grade; grade
   * ≤ 0 rows are non-relevant and drop). Items ranked but ungraded
   * count as grade 0.
   *
   * DETERMINISM: grades/ranks/counts are exact longs; every log₂ is
   * written as ln(2)/ln(rank+1) — one expression shape in both
   * engines, never a native log2 (engines disagree on whether log2 is
   * ln-ratio or a distinct libm call); DCG, cumulative hits, and the
   * AP sum ride ONE rank-ordered running window each (sequential left
   * folds), `rr` = one division of exact integers (unrounded —
   * IEEE-identical), dcg/idcg/ndcg/ap round 6dp. IDCG's ideal
   * ordering tiebreaks (grade desc, item asc) — deterministic.
   *
   * Scale shape: per-query windows bounded by k (ranked side) and the
   * relevance-set size (ideal side) — eval frames, not corpora; one
   * left join + two window passes + one aggregate join. Queries with
   * no relevant items report NULL ndcg/ap (undefined, visibly so —
   * rr stays 0).
   *
   * Returns one row per ranked query: (`query_id`, `n_ranked`,
   * `n_rel`, `dcg`, `idcg`, `ndcg`, `first_rel_rank` — NULL when no
   * hit, `rr`, `ap`).
   */
  def rankingEvalReport(ranked: DataFrame, relevance: DataFrame, k: Int,
                        queryIdCol: String = "query_id",
                        itemCol: String = "doc_id",
                        rankCol: String = "rank",
                        relCol: String = "rel"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def log2inv(rank: Column): Column =
      log(lit(2.0)) / log(rank.cast("double") + lit(1.0))
    val r = ranked.select(col(queryIdCol).as("qid"),
        col(itemCol).as("item"), col(rankCol).cast("long").as("rnk"))
      .filter(col("rnk") >= 1L && col("rnk") <= k.toLong)
    val rel = graft.core.LineageCut.cut(
      relevance.filter(col(relCol).isNotNull)
        .select(col(queryIdCol).as("qid"), col(itemCol).as("item"),
          col(relCol).cast("long").as("g"))
        .filter(col("g") > 0L))
    val wRun = Window.partitionBy("qid").orderBy("rnk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("qid")
    val joined = r.join(rel, Seq("qid", "item"), "left")
      .withColumn("gg", coalesce(col("g"), lit(0L)))
    val folded = joined
      .withColumn("__dcg",
        sum(col("gg").cast("double") * log2inv(col("rnk"))).over(wRun))
      .withColumn("__cumhit",
        sum(when(col("gg") > 0L, 1L).otherwise(0L)).over(wRun))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy("rnk")))
      .withColumn("__nq", count(lit(1)).over(wAll))
      .withColumn("__first", min(when(col("gg") > 0L, col("rnk")))
        .over(wAll))
    val last = folded
      .withColumn("__ap_sum", sum(when(col("gg") > 0L,
        col("__cumhit").cast("double") / col("rnk").cast("double")))
        .over(wRun))
      .filter(col("__rn") === col("__nq"))
      .select(col("qid"), col("__nq").as("n_ranked"), col("__dcg"),
        col("__first"), coalesce(col("__ap_sum"), lit(0.0)).as("__aps"))
    // ideal ordering over the query's full relevance set, top k
    val wIdeal = Window.partitionBy("qid")
      .orderBy(col("g").desc, col("item").asc)
    val idealRun = Window.partitionBy("qid").orderBy("__irank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ideal = rel.withColumn("__irank", row_number().over(wIdeal))
      .withColumn("__n_rel", count(lit(1)).over(wAll))
      .filter(col("__irank") <= k.toLong)
      .withColumn("__idcg",
        sum(col("g").cast("double") * log2inv(col("__irank")))
          .over(idealRun))
      .withColumn("__irn", row_number().over(
        Window.partitionBy("qid").orderBy("__irank")))
      .withColumn("__ni", count(lit(1)).over(wAll))
      .filter(col("__irn") === col("__ni"))
      .select(col("qid"), col("__n_rel"), col("__idcg"))
    val denom = least(col("__n_rel"), lit(k.toLong)).cast("double")
    last.join(ideal, Seq("qid"), "left")
      .select(col("qid").as(queryIdCol), col("n_ranked"),
        coalesce(col("__n_rel"), lit(0L)).as("n_rel"),
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        when(col("__idcg") > 0d, round(col("__dcg") / col("__idcg"), 6))
          .as("ndcg"),
        col("__first").as("first_rel_rank"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0))
          .as("rr"),
        when(col("__n_rel") > 0L, round(col("__aps") / denom, 6))
          .as("ap"))
  }

  /**
   * Rank-biased overlap between two ranked lists per query (Webber,
   * Moffat & Zobel 2010), truncated at `depth` and normalized so
   * identical prefixes score exactly 1 — the top-weighted similarity
   * between two RANKINGS that recall@k cannot express (recall treats a
   * list as a set; RBO's geometric weights make a rank-1 disagreement
   * matter more than a rank-10 one). The natural uses here: how far an
   * ANN ranking drifts from the exact one BEYOND set recall, and how
   * much a lexical (BM25) and a dense (cosine) ranking agree per query.
   *
   * Truncated-normalized form: RBO@k = ((1−p)/(1−p^k))·Σ_{d=1..k}
   * p^{d−1}·A_d with A_d the prefix-overlap fraction at depth d —
   * reshaped per SHARED ITEM: each item in both prefixes contributes
   * S(max(r_a, r_b)) where S(m) = Σ_{d=m..k} p^{d−1}/d, so the operator
   * never materializes per-depth prefixes.
   *
   * EXACTNESS: the k-row weight table builds p^{d−1} as exp((d−1)·ln p)
   * (one identical chain in both engines — never libm pow, the
   * minhashPlan rule) and S(m) as an ORDERED descending-depth running
   * fold; S quantizes to exact NANO-unit longs (round(S·10⁹) — the
   * mmdCosine trick) so per-query sums are exact integers regardless of
   * summation order; the final score is one fixed IEEE chain rounded
   * 6dp (quantization error ≤ k·10⁻⁹ — invisible at 6dp). Queries in
   * either list with NO shared prefix items emit (0, 0.0) rather than
   * dropping (stated).
   *
   * Scale shape: inputs filter to rank ≤ depth FIRST (everything
   * downstream is |Q|·k-sized, not corpus-sized); the weight table is
   * k rows broadcast; one equi-join on (query, item), one count
   * aggregate; `depth` ≤ 10⁴ guarded (the weight window is single-task
   * over k rows by design).
   *
   * Returns one row per query: (queryCol, `n_shared`, `rbo`).
   */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, queryCol: String,
                        itemCol: String, rankCol: String,
                        p: Double = 0.9, depth: Int = 10): DataFrame = {
    require(p > 0.0 && p < 1.0, s"persistence p must be in (0,1): $p")
    require(depth >= 1 && depth <= 10000,
      s"depth must be in [1, 10000]: $depth")
    val spark = a.sparkSession
    def side(df: DataFrame, rk: String): DataFrame = df
      .filter(col(rankCol) >= 1 && col(rankCol) <= depth &&
        col(queryCol).isNotNull && col(itemCol).isNotNull)
      .select(col(queryCol).as("q"), col(itemCol).as("it"),
        col(rankCol).cast("long").as(rk))
    val qa = side(a, "ra")
    val qb = side(b, "rb")
    val lnp = log(lit(p))
    val wSuf = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val suffix = spark.range(1, depth + 1L)
      .select(col("id").as("d"))
      .withColumn("__w",
        exp((col("d") - 1L).cast("double") * lnp) / col("d").cast("double"))
      .withColumn("snano",
        round(sum("__w").over(wSuf) * lit(1e9)).cast("long"))
      .select(col("d").as("m"), col("snano"))
    val shared = qa.join(qb, Seq("q", "it"))
      .select(col("q"), greatest(col("ra"), col("rb")).as("m"))
      .join(broadcast(suffix), "m")
      .groupBy("q")
      .agg(sum("snano").as("__sn"), count(lit(1)).as("__ns"))
    val norm = lit(1.0) - exp(lit(depth.toDouble) * lnp)
    qa.select("q").union(qb.select("q")).distinct()
      .join(shared, Seq("q"), "left")
      .select(col("q").as(queryCol),
        coalesce(col("__ns"), lit(0L)).as("n_shared"),
        round((lit(1.0) - lit(p)) / norm *
          (coalesce(col("__sn"), lit(0L)).cast("double") / lit(1e9)), 6)
          .as("rbo"))
  }
}

package graft.core

import org.apache.spark.sql.{Column, Dataset, Observation}
import org.apache.spark.storage.StorageLevel

/**
 * Engine-wide lineage-truncation helper — ONE reliability contract for
 * every operator that cuts lineage (iterative loops, frames consumed by
 * multiple downstream jobs, expensive derivations referenced twice).
 *
 * Truncating lineage means the truncated blocks become the ONLY copy of
 * the data: the plan that could recompute them is discarded by design.
 * `localCheckpoint` stores those blocks executor-local and
 * non-replicated — free and fine on local[n], but on a real cluster one
 * lost executor after truncation fails the job unrecoverably. Reliable
 * `checkpoint()` to a cluster-FS checkpoint dir is the mode a 100 TB
 * run must use.
 *
 * Reliable mode is an EXPLICIT opt-in, never ambient context state:
 * either per call (the Graph loops' `checkpointDir` params pass
 * `reliable = true` for their own cuts) or session-wide via
 * `spark.conf.set("spark.graft.lineageCut.reliable", "true")`. A
 * merely-configured `sparkContext.setCheckpointDir` does NOT flip the
 * mode — one Graph call passing `checkpointDir` mutates the shared
 * SparkContext permanently, and silently switching every subsequent
 * Dedup/Similarity/Splits cut to checkpoint-file IO on that evidence
 * would change unrelated operators' cost and disk footprint behind the
 * caller's back. Opting in still requires a checkpoint dir (fail-loud
 * if missing — falling back to localCheckpoint would silently void the
 * reliability the caller asked for).
 *
 * Reliable-mode cost contract: the frame is persisted
 * (MEMORY_AND_DISK) before `checkpoint()` so the checkpoint write job
 * reads cached blocks instead of re-executing the plan (RDD
 * checkpointing otherwise recomputes the whole lineage a second time —
 * doubling every "materialize once" site), then unpersisted. Checkpoint
 * FILES are NOT garbage-collected by default: long-running drivers
 * should set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
 * (files of out-of-scope frames are then reclaimed) or clean the
 * checkpoint dir between runs. Local mode keeps the zero-IO
 * GC-cleaned default.
 *
 * This is the same contract the Graph module's iterative loops exposed
 * first (`pageRank`/`connectedComponents`/... `checkpointDir` params);
 * lifted here so Dedup/Similarity/Splits/CorpusPipeline/LangModel/
 * Classifier single-pass caches obey it too instead of hardcoding
 * `localCheckpoint`. Streaming parity-drive memory-sink pins are the
 * one deliberate exemption: those frames are test scratch re-derivable
 * from the in-memory sink, not pipeline state.
 *
 * Both modes are EAGER (materialize now): every call site relies on the
 * cut frame being computed exactly once before fan-out.
 */
object LineageCut {

  /** Session-conf opt-in for reliable cuts engine-wide. */
  val ReliableConfKey = "spark.graft.lineageCut.reliable"

  // warn once per JVM, not per cut: iterative loops cut every round
  private val warnedNoCleaner = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Truncate `ds`'s lineage. `reliable = true` forces reliable
   *  `checkpoint()` (checkpoint dir required, fail-loud); `false`
   *  consults [[ReliableConfKey]] (default: executor-local
   *  `localCheckpoint`). Eager in both modes. */
  def cut[T](ds: Dataset[T], reliable: Boolean = false): Dataset[T] = {
    val spark = ds.sparkSession
    val wantReliable = reliable ||
      spark.conf.getOption(ReliableConfKey).exists(_.toBoolean)
    if (wantReliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable lineage cut requested but no checkpoint dir is set — " +
          "call sparkContext.setCheckpointDir(<cluster-FS path>) (or pass " +
          "the operator's checkpointDir param); refusing to silently fall " +
          "back to executor-local localCheckpoint")
      // checkpoint files of out-of-scope frames are only reclaimed when
      // the ContextCleaner is told to — without it a long run's
      // per-iteration cuts accumulate unboundedly on the cluster FS
      if (!spark.sparkContext.getConf
            .getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints",
              defaultValue = false)
          && warnedNoCleaner.compareAndSet(false, true)) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "reliable lineage cuts are on but " +
            "spark.cleaner.referenceTracking.cleanCheckpoints is false: " +
            "checkpoint files of dropped frames will NOT be reclaimed " +
            "until the checkpoint dir is cleaned externally")
      }
      // persist first: the reliable checkpoint's write job re-traverses
      // the RDD — against the cache this is a read, not a second full
      // plan execution (and plan-riding metrics/accumulators fire once)
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally ds.unpersist(blocking = false)
    } else ds.localCheckpoint(eager = true)
  }

  /**
   * Eager cut with a witness: `metric` and `metrics` ride the cut's own
   * materialization as an `Observation` named `name`, so a count, a flag
   * sum or a set about the cut frame costs no job of its own (ReStore's
   * "reuse the materialized intermediate", within one query). Returns the
   * cut frame and the observed values by metric alias.
   *
   * The local cut traverses the plan once, so the values are exact. A
   * reliable cut persists, then checkpoints; if its checkpoint write ever
   * re-traversed the plan, a sum could inflate, so loop exits should test
   * witnesses against zero only.
   */
  def cutWitnessed[T](ds: Dataset[T], name: String, reliable: Boolean = false)(
      metric: Column, metrics: Column*): (Dataset[T], Map[String, Any]) = {
    val obs = new Observation(name)
    val c = cut(ds.observe(obs, metric, metrics: _*), reliable)
    (c, obs.get)
  }

  /**
   * Eager cut + fan-out for frames that feed per-row-heavy fan-out work
   * (hash replicas, codecs, rank map sides): after materializing, if
   * the frame landed on FEWER partitions than the cluster's default
   * parallelism — the single-split small-file scan case — repartition
   * it up so the expensive downstream stage uses every core instead of
   * one. The repartition is exactly a no-op at data scale: any frame
   * already at or above cluster parallelism (every 100 TB scan) skips
   * the exchange, so this costs nothing where it cannot help, and the
   * exchange it does add moves only the small frame that fit in one
   * split to begin with. Row-order effects are nil for the exact
   * integer/decimal aggregates the house contract mandates; callers
   * whose arithmetic is order-sensitive must not use this. Partition
   * count is read off the CUT frame (a materialized LogicalRDD — no
   * AQE stage execution is triggered by inspecting it).
   *
   * NOTE (ADVICE r17): the repartition sits ABOVE the materialized
   * LogicalRDD, so a fanned-out frame with MULTIPLE downstream
   * consumers re-runs the round-robin exchange once per consumer
   * (each reading the one materialization) — "cut once, share one
   * materialization" holds, "one exchange" does not. Cheap for the
   * small single-split frames this targets; a multi-consumer site
   * where profiling shows the repeated exchange mattering should cut
   * again after the repartition.
   */
  def cutFanout[T](ds: Dataset[T], reliable: Boolean = false): Dataset[T] = {
    val c = cut(ds, reliable)
    val p = c.sparkSession.sparkContext.defaultParallelism
    if (c.rdd.getNumPartitions < p) c.repartition(p) else c
  }

  /**
   * Eager cut + conditional HASH fan-out on `keys` — [[cutFanout]] for
   * frames feeding an equi-(self-)join on those keys whose OUTPUT (a
   * pair fan-out) dwarfs its input: the repartition is keyed, so both
   * join sides co-partition at the session's shuffle width and the
   * explicit exchange replaces the join's own (no net addition), while
   * AQE — which sizes post-shuffle partitions on INPUT bytes and would
   * coalesce a small-input/heavy-output join to a few tasks (guide
   * §2.5) — cannot coalesce an explicitly-numbered repartition. Same
   * no-op-at-scale condition as [[cutFanout]]: skipped whenever the
   * materialized frame already has ≥ max(shuffle partitions, default
   * parallelism) partitions.
   */
  def cutFanoutBy[T](ds: Dataset[T], keys: Seq[String],
                     reliable: Boolean = false): Dataset[T] = {
    val c = cut(ds, reliable)
    val s = c.sparkSession
    val parts = math.max(s.sessionState.conf.numShufflePartitions,
      s.sparkContext.defaultParallelism)
    if (c.rdd.getNumPartitions < parts)
      c.repartition(parts,
        keys.map(org.apache.spark.sql.functions.col): _*)
    else c
  }

  /** Chainable form: `df.transform(...).lineageCut()`. */
  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def lineageCut(reliable: Boolean = false): Dataset[T] =
      cut(ds, reliable)
    def lineageCutFanout(reliable: Boolean = false): Dataset[T] =
      cutFanout(ds, reliable)
  }
}

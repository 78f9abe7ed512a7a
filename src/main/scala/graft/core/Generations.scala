package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Engine-wide generation lifecycle for persisted index stores (the IVF
 * ANN store, the BM25 postings index) — ONE claim/commit/resolve
 * protocol, modeled on the snapshot sink's staging-promote pattern
 * ([[graft.sinks.essnapshot]], which the reference's snapshot op
 * motivates — reference S7, elastic-freight snapshot lifecycle).
 *
 * Layout under a store root `dest`:
 *   - `dest/gen-N/…`        one immutable generation's data
 *   - `dest/gen-N/CLAIM`    atomic writer claim (create-no-overwrite)
 *   - `dest/gen-N/COMMITTED` marker: the generation is complete
 *   - `dest/CURRENT`        pointer file naming the live `gen-N`, for
 *                           tools; readers resolve through the markers
 *   - anything else at the root = the LEGACY FLAT layout (a store
 *     built before the lifecycle existed) — resolvable, never deleted
 *
 * CONCURRENT-WRITER SAFETY: a generation number is taken by an ATOMIC
 * `create(gen-N/CLAIM, overwrite = false)` — HDFS and local FS both
 * make exactly one of two racing creates win — and data lands only
 * inside a directory the attempt OWNS, so two interleaved builds can
 * never co-write one staging dir: the loser advances to the next free
 * number and builds there. Readers gate on `COMMITTED` (claim files
 * are invisible to them), so an attempt that dies at ANY point before
 * its marker leaves an inert carcass and the store serves the previous
 * generation unchanged. Carcass sweep and retention GC run inside the
 * next SUCCESSFUL commit ([[gc]]) — GC assumes one gc-ing writer at a
 * time (a sweep racing a slower claimed-but-unfinished build could
 * delete its staging dir; claims prevent data corruption, not
 * GC-vs-straggler races — serialize rebuilds per store).
 */
object Generations {

  /** All generation numbers present under `root` (committed or not). */
  def genNumbers(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.matches("gen-\\d+") => s.drop(4).toLong }

  private def isCommitted(fs: FileSystem, root: Path, gen: Long): Boolean =
    fs.exists(new Path(root, s"gen-$gen/COMMITTED"))

  /**
   * Atomically claim the next free generation number: create
   * `gen-N/CLAIM` with overwrite = false, advancing N past any number
   * another writer (or a died attempt's carcass) already holds.
   * Returns the claimed number; the caller owns `root/gen-N`
   * exclusively until [[commit]] or death.
   */
  def claim(fs: FileSystem, root: Path, maxTries: Int = 64): Long = {
    var gen = (genNumbers(fs, root) :+ 0L).max + 1
    var tries = 0
    while (tries < maxTries) {
      tries += 1
      try {
        fs.create(new Path(root, s"gen-$gen/CLAIM"), false).close()
        return gen
      } catch {
        // FileAlreadyExistsException and the raw "file exists"
        // IOException both mean another writer holds this number
        case _: java.io.IOException => gen += 1
      }
    }
    sys.error(s"could not claim a generation under $root " +
      s"after $maxTries attempts")
  }

  /**
   * Commit a claimed generation: `COMMITTED` marker first (the point
   * of no return — readers now resolve to this gen even if the
   * pointer swing below dies), then the `CURRENT` pointer swings via
   * tmp-write + rename.
   */
  def commit(fs: FileSystem, root: Path, gen: Long): Unit = {
    fs.create(new Path(root, s"gen-$gen/COMMITTED"), true).close()
    val tmp = new Path(root, s"CURRENT.tmp-$gen")
    val out = fs.create(tmp, true)
    try out.write(s"gen-$gen".getBytes("UTF-8")) finally out.close()
    val cur = new Path(root, "CURRENT")
    if (fs.exists(cur)) fs.delete(cur, false)
    require(fs.rename(tmp, cur), s"pointer swing $tmp -> $cur failed")
  }

  /**
   * Resolve a store's live data dir: the newest committed generation,
   * else the legacy flat layout (`dest` itself). A commit whose pointer
   * swing died after its `COMMITTED` marker is live, as [[commit]]
   * promises, so `CURRENT` (which then still names the previous
   * generation) is not consulted. Uncommitted carcasses are never
   * returned — that is the reader half of the atomicity contract.
   */
  def resolve(spark: SparkSession, dest: String): String = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = genNumbers(fs, root).filter(isCommitted(fs, root, _))
    if (gens.nonEmpty) s"$dest/gen-${gens.max}" else dest
  }

  /**
   * Retention GC after a successful commit of `gen`: keep the newest
   * `keep` committed generations (rollback window), sweep every other
   * generation below `gen` — including uncommitted carcasses of died
   * attempts. The legacy flat layout is never touched. Single-GC-owner
   * contract: see the class doc.
   */
  def gc(fs: FileSystem, root: Path, gen: Long, keep: Int): Unit = {
    require(keep >= 1, "keep must be >= 1")
    val all = genNumbers(fs, root)
    val keepSet = all.filter(isCommitted(fs, root, _))
      .sorted(Ordering[Long].reverse).take(keep).toSet
    all.filterNot(keepSet).filter(_ < gen)
      .foreach(n => fs.delete(new Path(root, s"gen-$n"), true))
  }
}

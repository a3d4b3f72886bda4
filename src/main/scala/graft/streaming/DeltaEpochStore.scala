package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Delta-epoch state persistence for APPEND-ONLY `foreachBatch`
  * maintainers — [[EpochStore]]'s write-amplification fix for the index
  * twins whose state GROWS with the corpus (BM25 postings, ANN buckets):
  * full-frame-per-epoch persistence writes O(state) per micro-batch,
  * which at 100 TB means rewriting the corpus-sized index for every
  * shard delivery. Here an epoch persists ONLY the batch's delta, and
  * every `compactEvery` epochs the maintainer's merged state is written
  * as a COMPACT epoch that subsumes (and garbage-collects) everything
  * before it — the LSM trade: amortized write cost O(delta + state/K)
  * per batch, load cost bounded by one compact + at most K−1 deltas.
  *
  * Contract split with [[EpochStore]], deliberate: EpochStore remains
  * the right store for maintainers whose state is SMALL and REWRITTEN
  * (CC labels, curation survivors — keep-min folds can demote any row,
  * so a delta cannot represent an epoch's effect); this store is for
  * maintainers whose fold is union + keep-one over rows that never
  * change once absorbed (the append-only ingest contract twins 13/14
  * already declare). The loader therefore returns RAW per-frame unions
  * (latest compact + committed deltas after it) and the MAINTAINER
  * applies its own merge once at load — the same merge its update fold
  * uses, so replay rows collapse identically.
  *
  * Crash matrix (same offsets-commit-after-foreachBatch argument as
  * EpochStore):
  *   - marker written, offsets not: the replayed batch re-saves its
  *     epoch id — a no-op (epochId == latestCommitted), and the replayed
  *     FOLD is a no-op by merge idempotence;
  *   - crash mid-write (delta/compact frames on disk, no marker): the
  *     loader unions only epochs ≤ latestCommitted, so the partial dir
  *     is invisible; the replay overwrites it in place;
  *   - GC runs only AFTER a compact epoch's marker commits, and deletes
  *     only epochs strictly older than that compact — the fallback chain
  *     (previous compact + its deltas) stays intact until the new
  *     compact is durable.
  *
  * Layout: `dir/<frame>/epoch=<id>` parquet per frame (delta OR compact
  * content), `dir/commits/<id>` marker after every frame of the epoch,
  * `dir/compacts/<id>` marker additionally when the epoch's content is
  * the full merged state.
  */
final class DeltaEpochStore(
    spark: SparkSession,
    dir: String,
    frames: Seq[(String, StructType)],
    compactEvery: Int = 8
) extends EpochLedger {
  require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markers(sub: String): Seq[Long] = {
    val p = new Path(dir, sub)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else
      f.listStatus(p).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
  }

  /** Highest epoch with a commit marker AND every frame dir extant; -1 if none. */
  def latestCommitted: Long = {
    val f = fs(new Path(dir))
    markers("commits")
      .sorted(Ordering[Long].reverse)
      .find(e => frames.forall { case (name, _) =>
        f.exists(new Path(dir, s"$name/epoch=$e"))
      })
      .getOrElse(-1L)
  }

  /** Highest committed compact epoch ≤ `upTo`; -1 if none. */
  private def latestCompact(upTo: Long): Long =
    markers("compacts").filter(_ <= upTo).sorted(Ordering[Long].reverse)
      .headOption.getOrElse(-1L)

  /** RAW union per frame — the latest compact plus every committed delta
    * after it, in any order (the maintainer's keep-one merge is
    * order-insensitive by its idempotence contract). None on a fresh dir.
    * The caller MUST apply its merge before using the frames.
    */
  def load(): Option[Map[String, DataFrame]] = {
    val latest = latestCommitted
    if (latest < 0) None
    else {
      // base == -1 (no compact yet) keeps every committed delta. The
      // frame-existence filter covers a crash DURING GC (frames deleted,
      // marker not yet): such an epoch is older than the durable compact
      // that triggered the GC, so skipping it loses nothing.
      val f = fs(new Path(dir))
      val base = latestCompact(latest)
      val epochs = markers("commits")
        .filter(e => e >= base && e <= latest)
        .filter(e => frames.forall { case (name, _) =>
          f.exists(new Path(dir, s"$name/epoch=$e"))
        })
        .distinct.sorted
      Some(frames.map { case (name, schema) =>
        val paths = epochs.map(e => s"$dir/$name/epoch=$e")
        name -> spark.read.schema(schema).parquet(paths: _*)
      }.toMap)
    }
  }

  /** Persist epoch `epochId`: the batch DELTA normally; the full MERGED
    * state (pass both) when `compactEvery` epochs have accumulated since
    * the last compact. Same epoch-id guards as [[EpochStore.save]]:
    * negative maps to latestCommitted + 1, == latestCommitted is a
    * replay no-op, < latestCommitted throws (fresh checkpoint against an
    * old stateDir).
    */
  def save(
      epochId: Long,
      delta: Map[String, DataFrame],
      merged: Map[String, DataFrame]
  ): Unit = {
    val prev = latestCommitted
    val e = if (epochId >= 0) epochId else prev + 1
    if (e == prev) return
    if (e < prev)
      throw new IllegalStateException(
        s"epoch $e is behind this stateDir's committed epoch $prev: a fresh " +
          "streaming checkpoint is being replayed against old persisted state. " +
          "Wipe the stateDir together with the checkpoint, or resume the " +
          "original checkpoint.")
    // the mirror-image guard: an OLD checkpoint pointed at a wiped/fresh
    // stateDir arrives with a forward gap (e >> prev + 1) — the skipped
    // batches were committed to the checkpoint but never folded here, so
    // accepting the gap would serve a permanently partial index.
    if (epochId >= 0 && e > prev + 1)
      throw new IllegalStateException(
        s"epoch $e skips past this stateDir's committed epoch $prev " +
          s"(expected ${prev + 1}): an old streaming checkpoint is being " +
          "resumed against a wiped or fresh stateDir, so the intervening " +
          "batches would be permanently missing from durable state. Wipe " +
          "the checkpoint together with the stateDir, or restore the " +
          "stateDir that matches this checkpoint.")
    val f = fs(new Path(dir))
    val base = latestCompact(prev)
    val compact = e - base >= compactEvery // base −1 ⇒ first compact at e ≥ K−1
    val content = if (compact) merged else delta
    frames.foreach { case (name, _) =>
      content(name).write.mode("overwrite").parquet(s"$dir/$name/epoch=$e")
    }
    if (compact) {
      val cm = new Path(dir, s"compacts/$e")
      f.mkdirs(cm.getParent)
      f.create(cm, true).close()
    }
    val marker = new Path(dir, s"commits/$e")
    f.mkdirs(marker.getParent)
    f.create(marker, true).close()
    if (compact) {
      // everything strictly older is subsumed by this durable compact
      markers("commits").filter(_ < e).foreach { old =>
        frames.foreach { case (name, _) =>
          f.delete(new Path(dir, s"$name/epoch=$old"), true)
        }
        f.delete(new Path(dir, s"commits/$old"), false)
        f.delete(new Path(dir, s"compacts/$old"), false)
      }
    }
  }
}

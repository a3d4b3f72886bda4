package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Epoch-versioned multi-frame state persistence for `foreachBatch`
  * maintainers — the [[ComponentsStream]] scheme generalized to N named
  * frames so [[NearDupStream]]'s five-frame index can restart exactly.
  *
  * Layout: `dir/<frame>/epoch=<id>` parquet per frame, plus ONE
  * append-only commit marker `dir/commits/<id>` written after EVERY
  * frame of the epoch is on disk. The crash matrix (same argument as
  * ComponentsStream, which Spark's offset log makes exact because
  * offsets commit only after foreachBatch returns, and every maintainer
  * fold here is idempotent):
  *
  *   - marker written, offsets not: the batch replays into state that
  *     already folded it — a no-op by fold idempotence;
  *   - crash mid-epoch (some frames written, no marker): the loader
  *     falls back to the previous committed epoch and the replay
  *     re-folds what was lost;
  *   - GC keeps {latest, previous} epochs, so the fallback target always
  *     exists.
  *
  * A maintainer owns one store; `load()` returns the latest committed
  * epoch's frames (localCheckpoint'd) or None on a fresh dir.
  */
final class EpochStore(
    spark: SparkSession,
    dir: String,
    frames: Seq[(String, StructType)]
) extends EpochLedger {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest epoch with a commit marker AND every frame dir extant; -1 if none. */
  def latestCommitted: Long = {
    val commits = new Path(dir, "commits")
    val f = fs(commits)
    if (!f.exists(commits)) -1L
    else
      f.listStatus(commits).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
        .sorted(Ordering[Long].reverse)
        .find(e => frames.forall { case (name, _) =>
          f.exists(new Path(dir, s"$name/epoch=$e"))
        })
        .getOrElse(-1L)
  }

  /** The latest committed epoch's frames, or None on a fresh dir. */
  def load(): Option[Map[String, DataFrame]] = {
    val e = latestCommitted
    if (e < 0) None
    else Some(frames.map { case (name, schema) =>
      name -> spark.read.schema(schema).parquet(s"$dir/$name/epoch=$e").localCheckpoint(true)
    }.toMap)
  }

  /** Persist epoch `epochId`: every frame first, marker second, GC of
    * epochs older than the previous committed one last.
    *
    * A negative epochId (the maintainers' direct-drive default, outside a
    * streaming query) maps to latestCommitted + 1 — epoch "-1" would be
    * unloadable because the loader treats e < 0 as "fresh dir".
    *
    * epochId == latestCommitted is a NO-OP: the batch is a replay
    * (offsets crashed before committing), the fold that produced `state`
    * is idempotent, and rewriting a committed epoch's frame dirs in place
    * would break the data-first/marker-second crash invariant (a crash
    * mid-rewrite leaves a marker pointing at a partial parquet dir).
    *
    * epochId < latestCommitted THROWS: a streaming offset log never goes
    * backward, so a smaller id means a NEW checkpoint was pointed at this
    * OLD stateDir (checkpoint wiped, stateDir kept). Proceeding would be
    * silent data loss twice over — the new batches' saves would GC
    * themselves (every e < prev is "stale" to the collector) and the
    * replay no-op would skip the colliding epoch entirely.
    */
  def save(epochId: Long, state: Map[String, DataFrame]): Unit = {
    val prev = latestCommitted
    val e = if (epochId >= 0) epochId else prev + 1
    if (e == prev) return
    if (e < prev)
      throw new IllegalStateException(
        s"epoch $e is behind this stateDir's committed epoch $prev: a fresh " +
          "streaming checkpoint is being replayed against old persisted state. " +
          "Wipe the stateDir together with the checkpoint, or resume the " +
          "original checkpoint.")
    val f = fs(new Path(dir))
    frames.foreach { case (name, _) =>
      state(name).write.mode("overwrite").parquet(s"$dir/$name/epoch=$e")
    }
    val marker = new Path(dir, s"commits/$e")
    f.mkdirs(marker.getParent)
    f.create(marker, true).close()
    if (prev >= 0) {
      val commits = new Path(dir, "commits")
      f.listStatus(commits).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
        .filter(old => old < prev)
        .foreach { old =>
          frames.foreach { case (name, _) =>
            f.delete(new Path(dir, s"$name/epoch=$old"), true)
          }
          f.delete(new Path(dir, s"commits/$old"), false)
        }
    }
  }
}

object EpochStore {

  /** Empty frames matching the declared schemas — the fresh-start state
    * every maintainer falls back to when no epoch is committed (or no
    * stateDir is configured).
    */
  def emptyFrames(
      spark: SparkSession,
      frames: Seq[(String, StructType)]
  ): Map[String, DataFrame] =
    frames.map { case (name, schema) =>
      name -> spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }.toMap
}

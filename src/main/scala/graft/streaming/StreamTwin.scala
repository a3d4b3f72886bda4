package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** What a maintainer asks of its store, whichever of the two it is
  * ([[EpochStore]] rewrites full frames, [[DeltaEpochStore]] appends
  * deltas): the latest committed epoch and that epoch's frames.
  */
trait EpochLedger {

  /** Highest committed epoch; -1 if none. */
  def latestCommitted: Long

  /** The committed frames (raw for a delta store), or None on a fresh dir. */
  def load(): Option[Map[String, DataFrame]]
}

/** The base of every `foreachBatch` maintainer: one fold per micro-batch
  * into state that an optional `stateDir` makes durable.
  *
  * It opens the store under `stateDir` (`open(dir, frames)`), loads the
  * latest committed epoch or starts from empty `frames`, and reports
  * whether construction resumed — so a twin's `Maintainer` keeps only
  * its state fields, its fold and its views.
  */
abstract class EpochMaintainer[S <: EpochLedger](
    spark: SparkSession,
    val stateDir: Option[String],
    frames: Seq[(String, StructType)],
    open: (String, Seq[(String, StructType)]) => S
) {

  protected val store: Option[S] = stateDir.map(open(_, frames))

  /** True iff construction reloaded a persisted epoch (restart path). */
  def resumed: Boolean = store.exists(_.latestCommitted >= 0)

  /** The latest committed epoch's frames passed through `merge` (a delta
    * store's raw unions need the fold's own merge), else empty frames.
    */
  protected def loadOrEmpty(
      merge: Map[String, DataFrame] => Map[String, DataFrame] = identity
  ): Map[String, DataFrame] =
    store.flatMap(_.load()).fold(EpochStore.emptyFrames(spark, frames))(merge)

  /** Fold one micro-batch. A negative `epochId` (direct drive, outside a
    * streaming query) persists as the store's next epoch.
    */
  private[graft] def update(batch: DataFrame, epochId: Long = -1L): Unit
}

/** The `start` every `foreachBatch` twin shares: its object mixes this in
  * and names its element type `In` and its maintainer `Mt`.
  */
trait StreamTwin {
  type In
  type Mt <: EpochMaintainer[_]

  /** Start `maintainer` over a streaming Dataset; its views read the live
    * state between batches.
    *
    * Reusing a checkpoint with a memory-only Maintainer silently loses
    * everything folded before: Spark skips the committed batches while
    * the state restarts empty. That combination therefore throws unless
    * `allowVolatileState = true` (right only for tests and for
    * checkpoints known to be fresh).
    */
  def start(
      stream: Dataset[In],
      maintainer: Mt,
      checkpoint: Option[String] = None,
      // a LONG-RUNNING maintainer by default (AvailableNow would fold
      // what exists at start and terminate — right for backfill, wrong
      // for the live-view contract)
      trigger: Trigger = Trigger.ProcessingTime(0L),
      allowVolatileState: Boolean = false
  ): StreamingQuery = {
    require(
      checkpoint.isEmpty || maintainer.stateDir.nonEmpty || allowVolatileState,
      "checkpointLocation set but the Maintainer's state is memory-only (no " +
        "stateDir): a restart would skip committed batches against empty " +
        "state and silently serve a partial result. Pass a stateDir " +
        "(persisted state) or allowVolatileState = true if the checkpoint " +
        "is known fresh.")
    val writer = stream.toDF.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        maintainer.update(batch.toDF(), epochId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}

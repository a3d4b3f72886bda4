package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The maintainer of the view-forced twins whose state is ONE distinct
  * event set — [[PageRankStream]] (`edges`), [[PerceptronStream]]
  * (`examples`) and [[BtRatingStream]] (`comparisons`). Each twin's
  * `Maintainer` extends this with its frame name and schema and adds only
  * its view; the view runs the batch twin's own code over `state`.
  *
  * The fold is union + distinct keyed by the full row: the per-batch
  * DELTA is the batch's own distinct rows, cast to `schema` (recomputed
  * from the batch alone — NOT an anti-join against state — so a replayed
  * batch after a failed save re-derives the identical delta), and the
  * distinct merge collapses replayed rows instead of duplicating them:
  * the idempotent fold the EpochStore crash matrix requires.
  *
  * RESTART SAFETY — the [[DeltaEpochStore]] contract (event sets GROW
  * with the stream, so full-frame persistence would write O(state) per
  * micro-batch): per-epoch deltas (data first, marker second),
  * compaction every `compactEvery`, and the loader re-applies the same
  * distinct merge over compact + deltas. Durable state advances
  * save-first (compute → persist → swap, the FuzzyStream ordering), so a
  * failed save leaves pre-batch state.
  */
abstract class EventSetMaintainer(
    spark: SparkSession,
    stateDir: Option[String],
    frame: String,
    schema: StructType,
    compactEvery: Int
) extends EpochMaintainer[DeltaEpochStore](
      spark, stateDir, Seq(frame -> schema), new DeltaEpochStore(spark, _, _, compactEvery)) {

  // raw compact+delta union → the same distinct merge the fold uses
  @volatile private var events: DataFrame =
    loadOrEmpty(_.map { case (k, v) => k -> v.distinct().localCheckpoint(true) })(frame)

  /** The live distinct event set folded so far. */
  def state: DataFrame = events

  private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
    // delta from the batch ALONE: replay after a failed save re-derives
    // the identical rows, and the distinct merge collapses them
    val delta = batch
      .select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .distinct()
      .localCheckpoint(true)
    val merged = events.unionByName(delta).distinct().localCheckpoint(true)
    // save BEFORE the in-memory swap: a failed save leaves pre-batch
    // state, and the replayed epoch recommits the same delta
    store.foreach(_.save(epochId, Map(frame -> delta), Map(frame -> merged)))
    events = merged
  }
}

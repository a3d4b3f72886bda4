package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The core stateful computation: the snapshot-diff LEFT join
  * (reference calculate_open_and_oi_change, main.py:266-330; SURVEY.md §2.4).
  *
  * Semantics matrix (pinned by DeltaSpec):
  *   - state hit  → Open = prev Close, OI_Change = OI - prev OI
  *     (main.py:298-304);
  *   - state hit with NULL/garbage prev values → those were coerced to 0 at
  *     lookup-build time (main.py:284-285), so Open = 0 and
  *     OI_Change = OI - 0 = OI (NOT 0);
  *   - state miss → Open = 0, OI_Change = 0 (main.py:305-308);
  *   - empty state → all zeros (main.py:269-273).
  *
  * The reference implements this as a hand-rolled dict build + iterrows
  * probe — i.e. an eager broadcast hash join. Here it IS a broadcast hash
  * join: the state side is bounded (sink tail-300, main.py:260), so we hint
  * `broadcast()` explicitly and the join is shuffle-free. If the state bound
  * were ever lifted, drop the hint and let Catalyst pick a sort-merge join
  * on SYMBOL (SURVEY.md §7.4).
  */
object Delta {

  /** State preparation (reference previous_lookup build, main.py:279-286):
    * keep-LAST per SYMBOL (dict-overwrite semantics) then coerce
    * stringly-typed Close/OI with to_numeric(errors='coerce') → NULL → 0
    * (main.py:284-285).
    *
    * @param state    raw state rows (sink read-back; Close/OI may be strings)
    * @param orderCol arrival-order column of the state rows
    */
  def prepareState(state: DataFrame, orderCol: String): DataFrame =
    Snapshot
      .keepLast(state, Seq("SYMBOL"), orderCol)
      .select(
        col("SYMBOL"),
        coalesce(col("Close").try_cast(DoubleType), lit(0.0)).as("prev_close"),
        coalesce(col("OI").try_cast(DoubleType).try_cast(LongType), lit(0L)).as("prev_oi")
      )

  /** Apply the snapshot diff. `prepared` must come from [[prepareState]]
    * (exactly one row per SYMBOL, prev_close/prev_oi non-null).
    */
  def applyDelta(current: DataFrame, prepared: DataFrame): DataFrame =
    diffed(current.join(broadcast(prepared), Seq("SYMBOL"), "left"))

  /** [[applyDelta]] plus the reference's new-vs-existing symbol counters
    * (main.py:325-328) as observable metrics — `n_existing` (state hit) and
    * `n_new` (state miss), evaluated in the SAME pass as the join, readable
    * from the Observation after the next action.
    */
  def applyDeltaObserved(
      current: DataFrame,
      prepared: DataFrame
  ): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_delta")
    val joined = current
      .join(broadcast(prepared), Seq("SYMBOL"), "left")
      .observe(
        obs,
        count(when(col("prev_oi").isNotNull, 1)).as("n_existing"),
        count(when(col("prev_oi").isNull, 1)).as("n_new")
      )
    (diffed(joined), obs)
  }

  /** The current columns then Open and OI_Change, in one projection. */
  private def diffed(joined: DataFrame): DataFrame = {
    val derived = Set("prev_close", "prev_oi", "Open", "OI_Change")
    joined.select(
      joined.columns.filterNot(derived).map(col) :+
        coalesce(col("prev_close"), lit(0.0)).as("Open") :+
        when(col("prev_oi").isNotNull, col("OI") - col("prev_oi")).otherwise(lit(0L)).as("OI_Change"): _*
    )
  }
}

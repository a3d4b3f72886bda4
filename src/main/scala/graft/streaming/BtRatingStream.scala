package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Preference

/** Live Bradley-Terry ratings over an unbounded pairwise-preference
  * stream — the EIGHTEENTH batch/stream twin, and the preference
  * family's (x136) streaming member: arena-style leaderboards and RLHF
  * preference collection are continuous processes (every day's human or
  * judge-model comparisons should move the board), not batch jobs over
  * a frozen log.
  *
  * State is ONE frame: the distinct comparison EVENT set
  * (cmp_id, item_a, item_b, winner). The event id is load-bearing:
  * two genuinely independent duels with identical participants and
  * outcome are BOTH evidence and must both count, while a REPLAYED
  * event (same cmp_id) must collapse — exactly the row-keyed
  * distinct-merge idempotence the EpochStore crash matrix requires.
  * Pair counts and win totals derive from the event set inside
  * [[Preference.btRatings]], so nothing in state can drift from the
  * events across restarts (the PerceptronStream state-is-the-evidence
  * discipline).
  *
  * EMISSION IS VIEW-FORCED — the PageRank/Perceptron end of the
  * taxonomy, for the same structural reason: the MM update couples every
  * item through the shared denominators (one new comparison changes
  * w_i, which changes every t_ij it appears in, which moves every other
  * rating in the next round) — no per-batch rating rows could stand once
  * the next batch lands. `ratings()` runs the batch twin's OWN
  * [[Preference.btRatings]] (fixed integer MM rounds) over current
  * state — stream ≡ batch by shared code, not a parallel
  * reimplementation.
  *
  * RESTART SAFETY — the [[DeltaEpochStore]] contract of the
  * [[EventSetMaintainer]] (the event log grows with the stream): a
  * replayed batch re-derives identical rows that the distinct merge
  * collapses, and durable state advances save-first.
  *
  * 100 TB shape: the fold is one row-keyed distinct per batch; each
  * served view is x136's audited plan — ONE corpus-sized keyed
  * reduction (log → pair counts / win totals, map-side combined), then
  * the items²-bounded MM fixpoint on the driver under the
  * codebook-contract bound.
  */
object BtRatingStream extends StreamTwin {

  final case class Comparison(cmp_id: Long, item_a: Long, item_b: Long, winner: Long)

  type In = Comparison
  type Mt = Maintainer

  private val cmpSchema = StructType(Seq(
    StructField("cmp_id", LongType),
    StructField("item_a", LongType),
    StructField("item_b", LongType),
    StructField("winner", LongType)))

  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8
  ) extends EventSetMaintainer(spark, stateDir, "comparisons", cmpSchema, compactEvery) {

    /** Current ratings over everything folded so far — the batch twin's
      * output through the batch twin's own fitter (view-forced emission;
      * see the scaladoc taxonomy note).
      */
    def ratings(rounds: Int = 4): DataFrame =
      Preference.btRatings(
        state.select(col("item_a"), col("item_b"), col("winner")),
        rounds)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Fuzzy

/** Incremental fuzzy-match (SymSpell) index maintenance over an unbounded
  * string stream — the FIFTEENTH batch/stream twin, the typo/OCR-dedup
  * member of the incremental-index family: x45's edit-distance-1 pair
  * mining kept current as strings land, the index a 100 TB entity-
  * resolution service keeps warm instead of re-exploding the value
  * domain per delivery.
  *
  * State is three frames under the [[DeltaEpochStore]] contract (all
  * three grow with the domain, so epochs persist deltas and compact):
  *
  *   - `strings`  (s): the distinct value domain seen so far — the
  *     anti-join side that makes a replayed batch's delta EMPTY (the
  *     idempotence argument here, stronger than keep-one: a replay
  *     contributes no new strings, so nothing downstream even runs);
  *   - `variants` (v, s): the ≤1-deletion neighborhood of every string,
  *     computed ONCE at ingest by the same codegen'd
  *     [[Fuzzy.deletionVariants1]] the batch miner uses — map-only per
  *     batch, never recomputed for the at-rest domain;
  *   - `pairs`    (a_val, b_val, dist): every verified pair mined so far.
  *
  * The per-batch mine is NEW × (old ∪ new) only: two fixed strings'
  * distance never changes, so an old×old pair that didn't qualify can
  * never newly qualify — the same argument [[NearDupStream]] makes for
  * fixed-text Jaccard. New-string variants probe the full variant index
  * (delta side broadcast-sized in the delivery ≪ domain posture), the
  * candidates run the same [[Fuzzy.verifiedPairs1]] exact-levenshtein
  * tail as the batch miner, and the verified rows APPEND to `pairs`.
  *
  * EMISSION IS MONOTONE — the instructive contrast with twins 12-14,
  * recorded here deliberately: curation selections demote, BM25
  * rankings shift globally, ANN top-k membership changes — all three
  * are forced into view-over-state emissions. A verified d ≤ 1 pair of
  * immutable strings can never be retracted by later data, so `pairs`
  * is an append-only emission surface: a downstream consumer may act on
  * each pair the moment it appears, no revision protocol needed. After
  * any prefix, `pairs` ≡ the batch [[Fuzzy.editDistance1Pairs]] over
  * every string delivered so far (FuzzyStreamSpec pins it per batch).
  *
  * RESTART SAFETY: the [[DeltaEpochStore]] crash matrix — deltas
  * per epoch (data first, marker second), compaction every K, the
  * loader's raw unions re-merged by this maintainer's keep-one distinct.
  * `start()` refuses a checkpoint without a stateDir unless
  * `allowVolatileState = true` (a restart would re-mine against an empty
  * domain and silently re-emit or miss pairs).
  *
  * 100 TB shape: per batch, one anti-join keyed by the string, one
  * map-only variant explode of the NEW strings, one variant-keyed probe
  * join (new side tiny), one exact verify on candidates — the at-rest
  * variant index never reshuffles; at rest it is bucketed parquet keyed
  * by `v` (the [[graft.operators.Colocate]] posture).
  */
object FuzzyStream extends StreamTwin {

  final case class Str(s: String)

  type In = Str
  type Mt = Maintainer

  private val stringsSchema = StructType(Seq(StructField("s", StringType)))
  private val variantsSchema = StructType(Seq(
    StructField("v", StringType),
    StructField("s", StringType)))
  private val pairsSchema = StructType(Seq(
    StructField("a_val", StringType),
    StructField("b_val", StringType),
    StructField("dist", LongType)))

  private val frames = Seq(
    "strings" -> stringsSchema,
    "variants" -> variantsSchema,
    "pairs" -> pairsSchema)

  final class Maintainer(
      spark: SparkSession,
      minLen: Int = 2,
      stateDir: Option[String] = None,
      compactEvery: Int = 8
  ) extends EpochMaintainer(spark, stateDir, frames, new DeltaEpochStore(spark, _, _, compactEvery)) {

    // raw compact+delta unions → keep-one distinct per frame (all three
    // frames are sets; replay deltas are duplicates of committed rows,
    // so distinct IS the merge)
    @volatile private var state: Map[String, DataFrame] =
      loadOrEmpty(_.map { case (k, v) => k -> v.distinct().localCheckpoint(true) })

    /** The distinct value domain folded so far. */
    def strings: DataFrame = state("strings")

    /** The variant index: one row per (deletion variant, string). */
    def variants: DataFrame = state("variants")

    /** Every verified pair mined so far — MONOTONE: rows only append,
      * and after any prefix this equals the batch
      * [[Fuzzy.editDistance1Pairs]] over the delivered strings.
      */
    def pairs: DataFrame = state("pairs")

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      // the batch's genuinely-new strings: a replayed batch anti-joins
      // to EMPTY, so the whole update is a no-op before any mining runs
      val newStrings = Fuzzy
        .valueDomain(batch, "s", minLen)
        .join(state("strings"), Seq("s"), "left_anti")
        .localCheckpoint(true)
      val newVariants = Fuzzy.deletionVariants1(newStrings).localCheckpoint(true)
      // NEW × (old ∪ new): old×old can never newly qualify (fixed
      // strings, fixed distance). Both orientations of a (new, old) pair
      // are covered because verifiedPairs1 keeps a_val < b_val and the
      // new side appears on BOTH sides of the union-ed probe.
      val allVariants = state("variants").unionByName(newVariants)
      val newPairs = Fuzzy
        .verifiedPairs1(
          newVariants.select(col("v"), col("s").as("a_val"))
            .join(allVariants.select(col("v"), col("s").as("b_val")), Seq("v"))
            .unionByName(
              allVariants.select(col("v"), col("s").as("a_val"))
                .join(newVariants.select(col("v"), col("s").as("b_val")), Seq("v"))))
        .localCheckpoint(true)
      // plain unions, NO distinct over accumulated state: newPairs is
      // provably disjoint from committed pairs (every new pair contains a
      // never-before-seen string) and already deduped by verifiedPairs1 —
      // a distinct here would shuffle the full pair history per batch.
      // The one distinct that IS needed lives on the load path (replay
      // deltas duplicate committed rows on disk, never in memory).
      val newState = Map(
        "strings" -> state("strings").unionByName(newStrings).localCheckpoint(true),
        "variants" -> allVariants.localCheckpoint(true),
        "pairs" -> state("pairs").unionByName(newPairs).localCheckpoint(true))
      // save BEFORE the in-memory state moves: if save throws and the
      // query restarts with this same Maintainer, the replayed batch must
      // anti-join against the PRE-batch domain (so the delta re-computes
      // non-empty and the epoch commits) — assigning first would make the
      // replay's delta empty and lose the batch from durable state.
      store.foreach(_.save(
        epochId,
        Map("strings" -> newStrings, "variants" -> newVariants, "pairs" -> newPairs),
        newState))
      state = newState
    }
  }

}

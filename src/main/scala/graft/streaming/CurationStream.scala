package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Curation

/** Incremental corpus curation over an unbounded document stream — the
  * twelfth batch/stream twin: [[graft.operators.Curation]]'s pipeline
  * (screens → exact dedup → per-source cap) maintained across
  * micro-batches, so a training-set selection stays current as shards
  * land instead of re-curating the corpus per delivery.
  *
  * The maintained state is ONE table, and it is exactly the state exact
  * dedup forces anyway: `kept` (text_md5, doc_id, source, lang_pred,
  * n_tokens) — one row per distinct SCREEN-PASSING text, carrying the
  * attributes of its current min-id member. The screens run map-side on
  * each batch before anything touches state (the [[Curation.screened]]
  * equivalence: the screens are text-functions and an md5 class shares
  * its text, so pre-filtering cannot change survivorship), which also
  * means state is bounded by distinct PASSING texts, not corpus size.
  *
  * The fold is one keep-min merge: union the batch's screened rows with
  * state, `min(struct(doc_id, …))` per md5. This handles the case that
  * makes incremental curation non-trivial — a LATER batch delivering a
  * SMALLER doc_id for an already-kept text DEMOTES the previous survivor
  * (and can flip which source's quota the text occupies), exactly as the
  * batch pipeline would have decided had it seen all docs at once. The
  * selection (per-source top-`cap` by (md5, id)) derives from state on
  * demand via the SAME [[Curation.select]] window the batch plan uses —
  * emission is a revisable VIEW over state, the x67-ingest posture, so
  * demotions and quota evictions need no retraction protocol.
  *
  * RESTART SAFETY — the [[EpochStore]] contract: Spark commits a batch's
  * offsets only AFTER foreachBatch returns, and the keep-min fold is
  * idempotent (re-folding delivered docs cannot lower a minimum that
  * already includes them), so with a `stateDir` the maintainer persists
  * each fold as an epoch (data first, marker second, GC to two epochs):
  * marker-but-no-offset → the replayed batch is a no-op; crash mid-write
  * → the loader falls back one epoch and the replay re-folds what was
  * lost. A Maintainer WITHOUT a stateDir against an existing checkpoint
  * silently loses every previously-kept text, so `start()` refuses that
  * combination unless `allowVolatileState = true`.
  *
  * CurationStreamSpec pins prefix equivalence (selection ≡
  * [[Curation.curate]] over batches 1..i after every batch, including
  * cross-batch demotions), double-fold no-ops, and restart resume.
  */
object CurationStream extends StreamTwin {

  final case class Doc(doc_id: Long, source: String, text: String)

  type In = Doc
  type Mt = Maintainer

  private val keptSchema = StructType(Seq(
    StructField("text_md5", StringType),
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("lang_pred", StringType),
    StructField("n_tokens", LongType)))

  /** @param screen the map-side per-doc screen producing (doc_id, source,
    *   text_md5, lang_pred, n_tokens) over screen-passing docs. Defaults
    *   to the Gopher+language cascade ([[Curation.screened]]); pass
    *   [[graft.operators.LinearModel.modelScreened]] partially applied
    *   for the learned (CCNet-style, x127) screen — any pure text
    *   function keeps the screen-first equivalence argument, so the
    *   stream ≡ batch contract is screen-agnostic.
    */
  final class Maintainer(
      spark: SparkSession,
      cap: Int = 10,
      stateDir: Option[String] = None,
      screen: DataFrame => DataFrame = Curation.screened
  ) extends EpochMaintainer(spark, stateDir, Seq("kept" -> keptSchema), new EpochStore(spark, _, _)) {

    @volatile private var kept: DataFrame = loadOrEmpty()("kept")

    /** The survivor table: one row per distinct screen-passing text. */
    def state: DataFrame = kept

    /** The current curated selection — the batch twin's output over
      * everything folded so far.
      */
    def selection: DataFrame = Curation.select(kept, cap)

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      val s =
        screen(batch.select(col("doc_id").cast(LongType), col("source"), col("text")))
          .select(col("text_md5"), col("doc_id"), col("source"), col("lang_pred"), col("n_tokens"))
      kept = kept
        .unionByName(s)
        .groupBy(col("text_md5"))
        .agg(min(struct(
          col("doc_id"), col("source"), col("lang_pred"), col("n_tokens"))).as("m"))
        .select(
          col("text_md5"),
          col("m.doc_id").as("doc_id"),
          col("m.source").as("source"),
          col("m.lang_pred").as("lang_pred"),
          col("m.n_tokens").as("n_tokens"))
        .localCheckpoint(true)
      store.foreach(_.save(epochId, Map("kept" -> kept)))
    }
  }

}

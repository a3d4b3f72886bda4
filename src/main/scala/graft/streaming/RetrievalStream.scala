package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Retrieval

/** Incremental BM25 index maintenance over an unbounded document stream —
  * the THIRTEENTH batch/stream twin, and the retrieval member of the
  * incremental-index family (near-dup index, connected components,
  * curation): x115's lexical top-k stays queryable as shards land instead
  * of re-indexing the corpus per delivery.
  *
  * The maintained state is ONE frame, and it is exactly what BM25 needs:
  * the postings table (term, doc_id, len, tf). Everything else the scorer
  * reads — df, N, totLen — derives from it (df is a vocabulary-bounded
  * re-aggregation; N/totLen are two driver scalars), so there is nothing
  * redundant in state that could drift from the postings across restarts.
  * Scoring goes through the SAME [[Retrieval.bm25TopKFromPostings]] the
  * batch surface uses — stream ≡ batch by shared code under the same
  * exact-integer contract, not by a parallel reimplementation.
  *
  * The fold is one union + keep-one merge: a document arrives whole
  * within its micro-batch (its tokens never split across batches — the
  * delivery unit is the doc), so per-batch DELTA postings
  * ([[Retrieval.postingsOf]] over the batch alone) union into state, and
  * the `max` re-aggregation by (term, doc_id, len) makes a REPLAYED
  * batch's identical rows collapse instead of double-counting tf — the
  * idempotence the EpochStore crash matrix requires. Note what this fold
  * correctly does NOT support: partial re-delivery of a different text
  * under the same doc_id (an index UPDATE) — that is a retraction
  * protocol, and the reference family (x67/x75) takes the same
  * append-only ingest posture.
  *
  * Emission is a revisable VIEW over state (`topK(queries)` re-scores on
  * demand): BM25 scores are global — one new document moves N, totLen and
  * every matched term's df, so ANY emitted ranking is invalidated by ANY
  * batch; materializing per-batch rankings would be stale by construction.
  * The x67-ingest posture (state is the artifact, rankings are queries
  * against it) is the only shape that never needs retractions.
  *
  * RESTART SAFETY — the [[DeltaEpochStore]] contract (the delta variant
  * of EpochStore, because postings GROW with the corpus and full-frame
  * persistence would write O(corpus) per micro-batch): offsets commit
  * only after foreachBatch returns and the fold is idempotent (above),
  * so each epoch persists the batch DELTA (data first, marker second),
  * the merged state compacts every K epochs, and the loader re-applies
  * the same keep-one merge over compact + committed deltas. A
  * marker-but-no-offset crash replays into a no-op; a mid-write crash
  * leaves its partial epoch invisible (un-markered) and the replay
  * overwrites it. A Maintainer WITHOUT a stateDir against an existing
  * checkpoint would silently serve rankings over an empty index, so
  * `start()` refuses that combination unless `allowVolatileState = true`.
  *
  * 100 TB shape: state is postings — the 100 TB-side artifact — and it
  * moves ONCE per batch through a (term, doc_id)-keyed aggregation whose
  * map side collapses the (tiny) delta against it; queries broadcast onto
  * the postings at score time exactly as x115's plan audit documents. In
  * production the state frame is the bucketed-parquet artifact
  * ([[graft.operators.Colocate]], keyed by term) rather than a
  * localCheckpoint; the maintainer's contract is unchanged.
  *
  * RetrievalStreamSpec pins stream ≡ batch `bm25TopK` after every prefix,
  * double-fold no-ops, and restart resume.
  */
object RetrievalStream extends StreamTwin {

  final case class Doc(doc_id: Long, text: String)

  type In = Doc
  type Mt = Maintainer

  private val postingsSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("doc_id", LongType),
    StructField("len", LongType),
    StructField("tf", LongType)))

  // DELTA-epoch persistence (not full-frame EpochStore): postings grow
  // with the corpus, and rewriting them per micro-batch is O(corpus)
  // writes per delivery at 100 TB. Each epoch persists the batch delta;
  // every compactEvery epochs the merged state compacts and GCs the
  // chain — amortized O(delta + state/K) writes per batch.
  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8
  ) extends EpochMaintainer(
        spark, stateDir, Seq("postings" -> postingsSchema),
        new DeltaEpochStore(spark, _, _, compactEvery)) {

    // the loader returns the RAW union (compact + deltas); apply the
    // same keep-one merge the update fold uses, once, at load
    @volatile private var postings: DataFrame = loadOrEmpty(m =>
      Map("postings" -> mergedPostings(m("postings")).localCheckpoint(true)))("postings")

    /** The live index: one row per (term, doc_id) with len and tf. */
    def state: DataFrame = postings

    /** The current top-k per query over everything folded so far — the
      * batch twin's output, through the batch twin's own scorer.
      */
    def topK(queries: DataFrame, k: Int = 5): DataFrame =
      Retrieval.bm25TopKFromPostings(postings, queries, k)

    /** The keep-one merge: a replayed batch's delta rows are IDENTICAL
      * to rows state already holds (docs arrive whole), so max ≡ first ≡
      * the committed value — the idempotent fold, one exchange keyed by
      * (term, doc_id). Shared by the update fold and the delta-store
      * load, so replay and restart collapse rows identically.
      */
    private def mergedPostings(raw: DataFrame): DataFrame =
      raw
        .groupBy(col("term"), col("doc_id"))
        .agg(max(col("len")).as("len"), max(col("tf")).as("tf"))
        .select(col("term"), col("doc_id"), col("len"), col("tf"))

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      val delta = Retrieval
        .postingsOf(batch.select(col("doc_id").cast(LongType), col("text")))
        .select(
          col("term"), col("doc_id"),
          col("len").cast(LongType).as("len"), col("tf").cast(LongType).as("tf"))
        .localCheckpoint(true)
      postings = mergedPostings(postings.unionByName(delta)).localCheckpoint(true)
      store.foreach(_.save(
        epochId, Map("postings" -> delta), Map("postings" -> postings)))
    }
  }

}

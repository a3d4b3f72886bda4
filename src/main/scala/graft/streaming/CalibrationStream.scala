package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Calibration

/** Live isotonic calibration over an unbounded scored-document stream —
  * the TWENTIETH batch/stream twin, and the pattern library's SECOND
  * additive-constant-size-state member (after [[PcaStream]]): a serving
  * stack that screens by calibrated precision (x142) wants the
  * score → P(positive) map to track the corpus as scored deliveries
  * land, without re-ranking history.
  *
  * State is ONE CONSTANT-SIZE frame: per-bin (n_pos, n_docs) counts
  * over the STREAM-STABLE fixed-width score bins
  * ([[Calibration.fixedBin]] — a pure per-row function of the score, so
  * the counts are ADDITIVE and MERGEABLE; the batch surfaces' rank-
  * decile bins shift as data arrives and cannot fold incrementally).
  * Per-batch work is one map-side-combined aggregation over the delta
  * and a bins-sized add; state storage is O(bins) FOREVER.
  *
  * EMISSION IS VIEW-FORCED — the PageRank/Perceptron/BtRating/Pca end
  * of the taxonomy, for the isotonic reason: one example moves its
  * bin's rate, and the minimax fit pools ACROSS bins (fit_i = max_{j≤i}
  * min_{k≥i} pooled(j..k)), so a single arrival can move every bin's
  * fitted value. `fit()` runs the batch twin's own
  * [[Calibration.isotonicFitPpm]] over the current counts — stream ≡
  * batch by shared code AND shared state algebra: the stream-folded
  * counts are bit-equal to [[Calibration.fixedBinStats]] over the
  * union, because BIGINT addition is associative and commutative.
  *
  * RESTART SAFETY — [[DeltaEpochStore]] with per-epoch DELTA = the
  * batch's own bin counts and MERGED = the folded counts; the loader
  * SUMS compact + deltas per bin (the additive merge). The replay guard
  * is the PcaStream pair: the epoch LEDGER makes a replayed committed
  * epoch a no-op (an additive fold would double it), and the in-memory
  * `foldedEpoch` ledger resyncs from durable state when save() died
  * AFTER its commit marker became durable — the additive twin cannot
  * self-heal by re-folding, so it reloads instead (the r13 advice fix,
  * built in here from the start).
  */
object CalibrationStream extends StreamTwin {

  final case class ScoredDoc(doc_id: Long, score: Long, y: Long)

  type In = ScoredDoc
  type Mt = Maintainer

  private val binsSchema = StructType(Seq(
    StructField("bin", LongType),
    StructField("n_pos", LongType),
    StructField("n_docs", LongType)))

  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8,
      bins: Int = 10,
      lo: Long = -1000L,
      hi: Long = 1000L
  ) extends EpochMaintainer(
        spark, stateDir, Seq("bins" -> binsSchema),
        new DeltaEpochStore(spark, _, _, compactEvery)) {
    require(bins > 0 && hi > lo, s"degenerate binning ($bins bins, [$lo, $hi])")

    private def rowsToCounts(df: DataFrame): Map[Long, (Long, Long)] = {
      val m = df.collect()
        .groupBy(_.getLong(0))
        .map { case (b, rows) =>
          b -> ((rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum))
        }
      // bins is a live contract, not decoration (the PcaStream dim
      // lesson): a stateDir persisted under a DIFFERENT binning would
      // otherwise load silently and fit() — which iterates 0..bins−1 —
      // would drop the out-of-range mass from every pooled rate
      m.keys.find(b => b < 0 || b >= bins).foreach { b =>
        throw new IllegalStateException(
          s"persisted bin $b is outside this Maintainer's [0, $bins) " +
            "binning: the stateDir was written under a different bins/" +
            "range configuration — resume with the original parameters " +
            "or wipe the stateDir together with the checkpoint")
      }
      m
    }

    // load: SUM compact + deltas per bin — the additive mirror
    @volatile private var counts: Map[Long, (Long, Long)] =
      rowsToCounts(loadOrEmpty()("bins"))

    // the in-memory ledger (see scaladoc: durable-committed does not
    // imply in-memory-folded when save() fails after its marker)
    @volatile private var foldedEpoch: Long = store
      .map(_.latestCommitted).getOrElse(-1L)

    /** The live per-bin (n_pos, n_docs) counts folded so far. */
    def state: Map[Long, (Long, Long)] = counts

    /** The isotonic fit over everything folded so far — the batch
      * twin's own minimax form over ALL `bins` bins (empty bins count
      * (0, 0); pooled rates divide by max(docs, 1)). View-forced.
      */
    def fit(): Seq[Long] =
      Calibration.isotonicFitPpm(
        (0L until bins.toLong).map(b => counts.getOrElse(b, (0L, 0L))))

    private def countsOf(batch: DataFrame): Map[Long, (Long, Long)] =
      rowsToCounts(Calibration.fixedBinStats(batch, bins, lo, hi)
        .select("bin", "n_pos", "n_docs"))

    private def add(
        a: Map[Long, (Long, Long)],
        b: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] =
      (a.keySet ++ b.keySet).map { k =>
        val (p1, d1) = a.getOrElse(k, (0L, 0L))
        val (p2, d2) = b.getOrElse(k, (0L, 0L))
        k -> ((p1 + p2, d1 + d2))
      }.toMap

    private def toDf(m: Map[Long, (Long, Long)]): DataFrame = {
      import spark.implicits._
      if (m.isEmpty) EpochStore.emptyFrames(spark, Seq("bins" -> binsSchema))("bins")
      else m.toSeq.map { case (b, (p, d)) => (b, p, d) }.toDF("bin", "n_pos", "n_docs")
    }

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      // the additive replay guard + resync pair — see PcaStream.update
      // for the full argument (ledger no-op for genuine replays; behind
      // falls through to save()'s loud IllegalStateException; durable-
      // but-unfolded resyncs from the store)
      if (epochId >= 0 && store.exists(_.latestCommitted == epochId)) {
        if (foldedEpoch != epochId) {
          counts = rowsToCounts(loadOrEmpty()("bins"))
          foldedEpoch = epochId
        }
        return
      }
      val delta = countsOf(batch)
      val newCounts = add(counts, delta)
      // save BEFORE the in-memory swap (the FuzzyStream ordering)
      store.foreach(_.save(
        epochId,
        Map("bins" -> toDf(delta)),
        Map("bins" -> toDf(newCounts))))
      counts = newCounts
      if (epochId >= 0) foldedEpoch = epochId
    }
  }

}

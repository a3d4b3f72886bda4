package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.LinearModel

/** Incremental model training over an unbounded labeled-document
  * stream — the SEVENTEENTH batch/stream twin, and the learned-model
  * family's streaming member: x128's integer batch perceptron stays
  * current as labeled examples land, the continuous-learning loop a
  * production curation stack runs (annotators/weak labels arrive daily;
  * the quality screen retrains and the NEXT delivery is scored by the
  * refreshed model — Wenzek et al. 2019 retrain CCNet's scorer per
  * crawl snapshot for exactly this reason).
  *
  * State is ONE frame: the distinct labeled training set
  * (doc_id, text, y) — exactly what the trainer consumes; feature
  * counts, scores, and updates derive from it inside
  * [[LinearModel.trainPerceptron]], so nothing in state can drift from
  * the examples across restarts.
  *
  * The fold is the [[EventSetMaintainer]]'s union + distinct keyed by
  * the full row: replayed rows collapse instead of duplicating, and
  * durable state advances save-first.
  *
  * EMISSION IS VIEW-FORCED — the PageRankStream end of the taxonomy,
  * for the same structural reason: the batch perceptron's round-r
  * update sums over ALL misclassified examples, so one new example can
  * flip a round-1 score sign and move EVERY later-round weight — no
  * per-batch weight rows could stand once the next batch lands. The
  * only honest shape is state-is-the-artifact, weights-are-queries:
  * `weights()` runs the batch twin's OWN
  * [[LinearModel.trainPerceptron]] (fixed integer rounds, synchronous
  * updates, bit-identical, engine-portable) over current state — stream
  * ≡ batch by shared code, not a parallel reimplementation. This is
  * deliberately NOT an online/sequential perceptron: the sequential
  * update's result depends on row order, which no replayed, repartitioned
  * stream can reproduce; the batch formulation is the one that admits a
  * stream twin at all.
  *
  * RESTART SAFETY — the [[DeltaEpochStore]] contract of the
  * [[EventSetMaintainer]] (the training set GROWS with the stream).
  * `start()` refuses a checkpoint without a stateDir unless
  * `allowVolatileState = true` (a restart would train on a silently
  * partial corpus).
  *
  * 100 TB shape: the fold is one row-keyed distinct per batch (delta
  * tiny against state); each training query is x128's audited plan —
  * the per-doc bucket-count table built once and persisted, one
  * doc-keyed score aggregation + one broadcast of the misclassified ids
  * + one bucket-keyed delta aggregation per round, weights bounded
  * driver state (dim longs, the k-means-codebook contract).
  */
object PerceptronStream extends StreamTwin {

  final case class Example(doc_id: Long, text: String, y: Long)

  type In = Example
  type Mt = Maintainer

  private val examplesSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("y", LongType)))

  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8
  ) extends EventSetMaintainer(spark, stateDir, "examples", examplesSchema, compactEvery) {

    /** Current trained weights over everything folded so far — the batch
      * twin's output through the batch twin's own trainer (view-forced
      * emission; see the scaladoc taxonomy note). Returns the dense
      * dim-long weight vector plus the per-round misclassified counts
      * (the training curve, x128's audit signal).
      */
    def train(dim: Int = 512, rounds: Int = 3): (Array[Long], Seq[Long]) =
      LinearModel.trainPerceptron(state, "text", "y", dim = dim, rounds = rounds)
  }
}

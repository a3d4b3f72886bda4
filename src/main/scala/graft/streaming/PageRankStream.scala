package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.PageRank

/** Incremental graph-centrality maintenance over an unbounded edge
  * stream — the SIXTEENTH batch/stream twin, and the graph family's
  * streaming member (the last batch-only family with a natural one):
  * x46's integer PageRank stays current as edges land, the corpus-
  * quality prior (host/citation centrality) a curation pipeline keeps
  * warm instead of re-ranking the web graph per delivery.
  *
  * State is ONE frame: the distinct directed edge list (src, dst) —
  * exactly what the ranker consumes; out-degrees and the node set derive
  * from it inside [[PageRank.integerPageRank]], so nothing in state can
  * drift from the edges across restarts.
  *
  * The fold is the [[EventSetMaintainer]]'s union + distinct keyed by
  * the edge: replayed rows collapse instead of duplicating, and durable
  * state advances save-first.
  *
  * EMISSION IS VIEW-FORCED — the taxonomy's far end, recorded
  * deliberately as the contrast with the append-only twins (FuzzyStream
  * pairs can never be retracted): PageRank is GLOBAL — one new edge
  * changes an out-degree and moves mass through every path that crosses
  * it, so every node's score is invalidated by any batch. Materializing
  * per-batch rankings would be stale by construction; the only honest
  * shape is state-is-the-artifact, scores-are-queries: `ranks()` runs
  * the batch twin's OWN [[PageRank.integerPageRank]] (fixed integer
  * rounds, bit-identical, engine-portable) over current state — stream ≡
  * batch by shared code, not a parallel reimplementation.
  *
  * RESTART SAFETY — the [[DeltaEpochStore]] contract of the
  * [[EventSetMaintainer]] (edges GROW with the stream). `start()` refuses
  * a checkpoint without a stateDir unless `allowVolatileState = true` (a
  * restart would rank a silently partial graph).
  *
  * 100 TB shape: the fold is one edge-keyed distinct per batch (delta
  * tiny against state); each rank query is x46's audited plan — one
  * rank⋈edges join + one dst aggregation per round over the persisted
  * degree-augmented edge list, per-round lineage truncation. At rest the
  * edge frame is bucketed parquet keyed by src (the
  * [[graft.operators.Colocate]] posture) so repeated rank queries reuse
  * the write-time partitioning.
  */
object PageRankStream extends StreamTwin {

  final case class Edge(src: Long, dst: Long)

  type In = Edge
  type Mt = Maintainer

  private val edgesSchema = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType)))

  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8
  ) extends EventSetMaintainer(spark, stateDir, "edges", edgesSchema, compactEvery) {

    /** Current integer PageRank over everything folded so far — the
      * batch twin's output through the batch twin's own ranker
      * (view-forced emission; see the scaladoc taxonomy note).
      */
    def ranks(iters: Int = 3, scaleUnits: Long = 1000000000000L): DataFrame =
      PageRank.integerPageRank(state, iters = iters, scaleUnits = scaleUnits)
  }
}

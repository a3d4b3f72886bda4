package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.operators.Pca

/** Live top-principal-component maintenance over an unbounded embedding
  * stream — the NINETEENTH batch/stream twin, and the spectral family's
  * (x137) streaming member: a retrieval stack that rotates/whitens
  * before IVF/PQ wants the rotation to track the corpus as new
  * embeddings land, without re-scanning history.
  *
  * State is ONE CONSTANT-SIZE frame — the exact integer moment triple
  * (n, Σq, upper-tri Σqqᵀ), 1 + dim + dim(dim+1)/2 longs — a new state
  * SHAPE among the twins: where the event-set twins grow with the
  * stream (distinct fold over rows), the moment sketch is ADDITIVE and
  * MERGEABLE (the [[graft.functions.IntGram]] merge law), so per-batch
  * work is one IntGram pass over the delta and a dim²-bounded add, and
  * state storage is O(dim²) FOREVER. The additive fold is safe under
  * replay because durable state advances save-first (compute → persist
  * → swap, the FuzzyStream ordering): a failed save leaves the
  * pre-batch triple, and the replayed batch re-derives its own moments
  * from the batch alone and re-commits the identical epoch.
  *
  * EMISSION IS VIEW-FORCED — the PageRank/Perceptron/BtRating end of
  * the taxonomy, for the spectral reason: one new vector perturbs the
  * covariance, which moves the ENTIRE component (every coordinate of
  * the eigenvector), so no per-batch component rows could stand.
  * `component()` runs the batch twin's own [[Pca.powerIterate]] (ten
  * fixed-point matrix squarings) over the current triple — stream ≡
  * batch by shared code AND shared state algebra: the stream-folded
  * moments are bit-equal to a batch IntGram over the union, because
  * BIGINT addition is associative and commutative.
  *
  * RESTART SAFETY — [[DeltaEpochStore]] with per-epoch DELTA = the
  * batch's own moment triple and MERGED = the folded triple; the loader
  * SUMS compact + deltas (the additive merge, mirrored in [[load]]'s
  * fold) instead of distinct-unioning them. Compaction still bounds the
  * chain, though every frame is one row.
  */
object PcaStream extends StreamTwin {

  final case class Embedding(vec_id: Long, embedding: Array[Float])

  type In = Embedding
  type Mt = Maintainer

  private val momentsSchema = StructType(Seq(
    StructField("n", LongType),
    StructField("s", ArrayType(LongType, containsNull = false)),
    StructField("g", ArrayType(LongType, containsNull = false))))

  /** (n, Σq, Σqqᵀ-upper) with the IntGram add law. */
  final case class Moments(n: Long, s: Array[Long], g: Array[Long]) {
    def add(o: Moments): Moments =
      if (n == 0L) o
      else if (o.n == 0L) this
      else {
        require(s.length == o.s.length, "ragged moment dims")
        Moments(
          n + o.n,
          s.zip(o.s).map { case (a, b) => a + b },
          g.zip(o.g).map { case (a, b) => a + b })
      }
  }

  private val empty = Moments(0L, Array.empty, Array.empty)

  final class Maintainer(
      spark: SparkSession,
      stateDir: Option[String] = None,
      compactEvery: Int = 8,
      dim: Int = 64
  ) extends EpochMaintainer(
        spark, stateDir, Seq("moments" -> momentsSchema),
        new DeltaEpochStore(spark, _, _, compactEvery)) {

    private def rowsToMoments(df: DataFrame): Moments =
      df.collect().foldLeft(empty) { (acc, r) =>
        acc.add(Moments(
          r.getLong(0),
          r.getSeq[Long](1).toArray,
          r.getSeq[Long](2).toArray))
      }

    // load: SUM compact + deltas — the additive mirror of the
    // event-set twins' distinct merge
    @volatile private var moments: Moments = rowsToMoments(loadOrEmpty()("moments"))

    // the IN-MEMORY ledger: last epoch actually folded into `moments`.
    // Durable-committed does NOT imply in-memory-folded — save() can
    // throw AFTER its commit marker is durable (e.g. during the GC
    // step), leaving `moments` one epoch behind the store; the replay
    // guard must not trust the durable ledger alone (see update()).
    @volatile private var foldedEpoch: Long = store
      .map(_.latestCommitted).getOrElse(-1L)

    /** The live moment triple folded so far. */
    def state: Moments = moments

    /** Current top component over everything folded so far — the batch
      * twin's own fixed-point matrix-squaring solve (view-forced
      * emission; see the scaladoc taxonomy note).
      */
    def component(squarings: Int = 10): Array[Long] = {
      require(moments.n > 0L, "no vectors folded yet")
      Pca.powerIterate(moments.n, moments.s, moments.g, squarings)
    }

    private def momentsOf(batch: DataFrame): Moments = {
      GraftFunctions.register(batch.sparkSession)
      val agg = batch
        .select(transform(col("embedding"), x =>
          floor(x.cast("double") * 1000).cast("long")).as("q"))
        .agg(GraftFunctions.intGram(col("q")).as("m"))
        .select(col("m.n"), col("m.s"), col("m.g"))
        .collect()
      if (agg.isEmpty || agg(0).isNullAt(0)) empty
      else {
        val m = Moments(
          agg(0).getLong(0),
          agg(0).getSeq[Long](1).toArray,
          agg(0).getSeq[Long](2).toArray)
        // dim is a live contract, not decoration: a batch of mismatched
        // vectors must fail here, not as a ragged-add crash (or worse,
        // a silent schema mismatch) epochs later
        require(m.s.length == dim,
          s"batch embeddings are ${m.s.length}-dim, Maintainer expects $dim")
        m
      }
    }

    private def toDf(m: Moments): DataFrame = {
      import spark.implicits._
      if (m.n == 0L) EpochStore.emptyFrames(spark, Seq("moments" -> momentsSchema))("moments")
      else Seq((m.n, m.s.toSeq, m.g.toSeq)).toDF("n", "s", "g")
    }

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      // THE ADDITIVE DIFFERENCE from the event-set twins: their distinct
      // merge collapses a replayed committed batch for free; an additive
      // fold would DOUBLE it. The store's epoch ledger is the idempotence
      // guard — a replayed committed epoch is a full no-op (state already
      // contains it, both in memory after restart-load and on disk).
      // ONLY the genuine replay (== latestCommitted) is skipped: an epoch
      // BEHIND the ledger means a fresh checkpoint is running against an
      // old stateDir, and that must fall through to store.save's loud
      // IllegalStateException (the DeltaEpochStore contract) — a >= guard
      // here would silently drop every batch until the ids caught up and
      // serve a component over a permanently partial corpus.
      // Without a store there is no cross-restart replay to guard.
      if (epochId >= 0 && store.exists(_.latestCommitted == epochId)) {
        // durable ledger says committed — but if save() threw AFTER the
        // marker became durable (GC-step failure), the in-memory swap
        // never ran and `moments` is missing this epoch. The additive
        // fold cannot self-heal by re-folding (it would double), so
        // resync from durable state, which IS complete through epochId.
        if (foldedEpoch != epochId) {
          moments = rowsToMoments(loadOrEmpty()("moments"))
          foldedEpoch = epochId
        }
        return
      }
      // delta from the batch ALONE (one IntGram pass); replay after a
      // failed save re-derives the identical triple
      val delta = momentsOf(batch)
      val newMoments = moments.add(delta)
      // save BEFORE the in-memory swap (the FuzzyStream ordering)
      store.foreach(_.save(
        epochId,
        Map("moments" -> toDf(delta)),
        Map("moments" -> toDf(newMoments))))
      moments = newMoments
      if (epochId >= 0) foldedEpoch = epochId
    }
  }

}

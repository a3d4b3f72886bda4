package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over an embedding column (BASELINE.json north star).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     The query side is broadcast (queries ≪ corpus in every retrieval
  *     workload), so the corpus is scanned exactly once with no shuffle of
  *     vectors; only (query_id, corpus_id, score) triples reach the top-k
  *     shuffle.
  *   - [[lshTopK]]: sign-random-projection LSH buckets as the scale path —
  *     each query only scores the corpus vectors in its bucket(s).
  *
  * Scoring is [[graft.functions.CosineSimilarity]] — a codegen'd Catalyst
  * expression, not a UDF.
  */
object Similarity {

  /** Exact top-k: score all pairs, rank per query.
    * Deterministic tie-break: (score desc, corpus id asc).
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // spread: corpus scans are byte-sized by Spark but pair scoring is
    // CPU-bound — parallelize before the crossJoin (see Dedup.spread)
    val c = Dedup.spread(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c
      .join(broadcast(q))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k)
  }

  /** Reduce scored (query_id, neighbor_id, score) pairs to per-query top-k
    * via the TopKByScore TypedImperativeAggregate: map-side partial top-k
    * means the exchange carries ≤ k rows per (partition, query) instead of
    * the full |queries|×|corpus| scored set that a rank-window would
    * shuffle. Ties broken (score desc, neighbor_id asc), identical to the
    * row_number formulation.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("score"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        col("t.neighbor_id").as("neighbor_id"),
        col("t.score").as("score"),
        (col("pos") + 1).cast("int").as("rank")
      )

  /** Exact k-nearest-neighbor GRAPH: every vector's top-k cosine
    * neighbors among all OTHER vectors — the kNN-graph construction verb
    * (the substrate of graph-based ANN indexes, SemDeDup-style cluster
    * refinement, and label-propagation over embedding neighborhoods; the
    * query-set→corpus search x09 answers "find my matches", this answers
    * "wire the corpus to itself"). Exact all-pairs scoring with the a≠b
    * self-pair cut — the correctness baseline [[knnGraphLsh]] is
    * spec-measured against, same brute-force-exemption posture as x09.
    */
  def knnGraphExact(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = Dedup.spread(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c
      .join(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k)
  }

  /** LSH-blocked kNN graph — the 100 TB path for [[knnGraphExact]]:
    * candidates are co-bucketed pairs under `tables` independent sign-RP
    * tables (one [[graft.functions.RpBuckets]] evaluation per vector, the
    * x10/x11 machinery), scored with the exact codegen'd cosine and
    * reduced per node by the TopKByScore partial-top-k aggregate — so
    * precision is exact and only recall is probabilistic, with the same
    * (1−(1−θ/π)^b)^L miss bound as [[lshTopK]]. Candidate volume per node
    * ≈ L·n/2^b (bounded buckets) instead of n; grow `bitsPerTable` with
    * the corpus, `tables` for recall (SimilaritySpec pins a measured
    * recall floor against the exact graph on the real corpus).
    */
  def knnGraphLsh(
      emb: DataFrame,
      k: Int,
      tables: Int = 24,
      bitsPerTable: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (base, candidates) = bandedSelfCandidates(
      emb, idCol, vecCol,
      v => GraftFunctions.rpBuckets(v, tables, bitsPerTable, seed))
    rankTopK(scoreCandidates(base, candidates), k)
  }

  /** [[knnGraphLsh]]'s ORACLE-GRADE twin (x111) — the x91 posture applied
    * to the corpus-onto-itself graph build: identical banding shape
    * (multi-table sign-LSH, shared-bucket self-join, a≠b cut, exact 6-dp
    * cosine, TopKByScore reduction) but with bucket assignment in exact
    * integer arithmetic ([[graft.functions.IntLshBuckets]]), so a SQL
    * engine replays every bucket, the exact candidate edge set, and the
    * exact per-node ranking bit-for-bit. A hash match certifies the
    * banded candidate GENERATION of the 100 TB kNN-graph path — the step
    * [[knnGraphExact]]'s all-pairs oracle and the recall-floor spec could
    * not certify. Same scale law as [[knnGraphLsh]]: candidates per node
    * ≈ L·n/2^b, never all-pairs.
    */
  def knnGraphIntLsh(
      emb: DataFrame,
      k: Int,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (base, candidates) = bandedSelfCandidates(
      emb, idCol, vecCol,
      v => GraftFunctions.intLshBuckets(v, tables, bitsPerTable))
    rankTopK(scoreCandidates(base, candidates), k)
  }

  /** Shared banding skeleton of the self-join ANN family: persist the
    * (id, vec) base once (bucket pass + two score-side joins read it;
    * cleanup is the ContextCleaner's when the caller's frame goes
    * unreferenced — the embeddingNearDupPairsLsh convention), bucket via
    * ONE codegen'd expression evaluation, shared-bucket equi-join with
    * the a≠b cut, distinct.
    */
  private def bandedSelfCandidates(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      bucketsOf: Column => Column,
      queryFilter: Column => Column = _ => lit(true)
  ): (DataFrame, DataFrame) = {
    val base = Dedup.spread(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .localCheckpoint(true) // r16: eager — lazy persist raced concurrent AQE stage jobs (see Bipartite)
    val bucketed = base
      .select(col("id"), posexplode(bucketsOf(col("vec"))).as(Seq("table_id", "bucket")))
    val candidates = bucketed
      // query-side predicate BEFORE the bucket join: an evaluation over a
      // sampled query set (annRecallIntLsh) pays candidate work
      // proportional to the sample, not the corpus; the default keeps the
      // full self-join graph shape for the kNN/near-dup callers.
      .where(queryFilter(col("id")))
      .select(col("id").as("query_id"), col("table_id"), col("bucket"))
      .join(
        bucketed.select(col("id").as("neighbor_id"), col("table_id"), col("bucket")),
        Seq("table_id", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    (base, candidates)
  }

  /** Retrieval-QUALITY evaluation of the banded integer-LSH ANN path
    * against exact ground truth — the index-tuning verb every production
    * retrieval stack runs before shipping a recall/latency config (the
    * measurement behind ann-benchmarks-style recall@k curves and the
    * nprobe/nlist sweeps of IVF tuning). Per sampled query
    * (`id % sampleMod = 0`):
    *
    *   - `n_hits`     — |ANN top-k ∩ exact top-k|
    *   - `recall_ppm` — n_hits · 10⁶ div k (integer ppm, the x83/x132
    *                    exact-arithmetic discipline)
    *   - `rr_ppm`     — 10⁶ div (ANN rank of the exact nearest neighbor),
    *                    0 when the true top-1 is missed entirely (MRR's
    *                    per-query term)
    *
    * Both sides share ONE scoring contract (exact 6-dp rounded cosine,
    * (score desc, id asc) tie-break), so the metrics measure only the
    * candidate-generation miss of the banding, never scorer drift. Scale
    * shape: the ANN side filters the QUERY side of the bucket join to the
    * sample before joining (work ∝ sample · n/2^bits); the exact side is
    * ground truth and inherently sample × corpus — the standard eval
    * posture (a fixed few-hundred-query panel), never corpus², and the
    * panel side is broadcast so the corpus scans once with no vector
    * shuffle. SCALE CONTRACT: `sampleMod` is the panel-size knob — a
    * 100 TB caller passes sampleMod ≈ corpus/panelSize so the panel
    * stays a few hundred queries and the ground-truth stage stays one
    * linear corpus scan; the gate registers `% 10` only because the
    * gate corpora are small.
    */
  def annRecallIntLsh(
      emb: DataFrame,
      k: Int,
      sampleMod: Int,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (base, candidates) = bandedSelfCandidates(
      emb, idCol, vecCol,
      v => GraftFunctions.intLshBuckets(v, tables, bitsPerTable),
      id => id % sampleMod === 0)
    val ann = rankTopK(scoreCandidates(base, candidates), k)
    val exact = panelBruteTopK(base, k, sampleMod)
    val panel = base
      .where(col("id") % sampleMod === 0)
      .select(col("id").as("query_id"))
    recallMetrics(ann, exact, panel, k)
  }

  /** Exact top-k ground truth over the `id % sampleMod = 0` query
    * panel of an (id, vec) frame — ONE definition of the eval family's
    * scoring contract (broadcast panel, self-cut, 6-dp cosine,
    * (score desc, id asc) tie-break) shared by x135's ground truth and
    * both of x144's spaces, so the contract cannot drift between the
    * eval surfaces. Callers pass an already spread/persisted frame
    * (both read it twice: panel + corpus side).
    */
  private def panelBruteTopK(base: DataFrame, k: Int, sampleMod: Int): DataFrame = {
    val queries = base
      .where(col("id") % sampleMod === 0)
      .select(col("id").as("query_id"), col("vec").as("q_vec"))
    rankTopK(
      base.select(col("id").as("neighbor_id"), col("vec").as("c_vec"))
        .join(broadcast(queries))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6)),
      k)
  }

  /** The shared hit/RR arithmetic of the eval family (x135/x144):
    * per panel query, |candidate top-k ∩ truth top-k| and the
    * reciprocal rank of the true nearest in the candidate list, exact
    * integer ppm. Every panel query appears — candidate-empty ones at
    * zero: recall curves averaged over a panel that silently drops
    * misses overstate quality.
    */
  private def recallMetrics(
      candidate: DataFrame,
      exact: DataFrame,
      panel: DataFrame,
      k: Int
  ): DataFrame = {
    val hits = candidate
      .join(
        exact.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    val rr = exact
      .where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
      .join(
        candidate.select(col("query_id"), col("neighbor_id"), col("rank").as("ann_rank")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), coalesce(expr("1000000L div ann_rank"), lit(0L)).as("rr_ppm"))
    panel
      .join(hits, Seq("query_id"), "left")
      .join(rr, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0L) * 1000000L div ${k}L").as("recall_ppm"),
        coalesce(col("rr_ppm"), lit(0L)).as("rr_ppm"))
  }

  /** Maximal-Marginal-Relevance diversification (x145) — the
    * result-set post-processor of every retrieval stack whose corpus
    * contains near-duplicates (Carbonell & Goldstein 1998): a plain
    * top-k returns k copies of the best match; MMR greedily picks the
    * candidate maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * picked, trading relevance for coverage. RAG context assembly is
    * the modern instance — k near-identical passages waste the window.
    *
    * Shape: candidates come from the banded integer-LSH path (top
    * `candK` per query by the exact 6-dp cosine — [[knnGraphIntLsh]]'s
    * machinery), so candidate generation is replayable and never
    * all-pairs; the greedy runs as `k−1` unrolled join/agg steps over
    * the (query, candidate) frame — per-query work is candK²-bounded
    * (the pairwise-sim frame), windows partition by query (thousands of
    * tiny groups, never a global window). The λ-blend runs in INTEGER
    * ppm — relevance and similarity lift exactly from their 6-dp
    * contract (round(score·10⁶) is an exact integer on both engines),
    * then mmr_ppm = (λ₁₀·rel − (10−λ₁₀)·maxSim) div 10 — because the
    * float blend of two 6-dp values lands on exact decimal HALVES,
    * where the engines' round() diverge (measured: 14 one-ulp
    * mismatches per 500 rows before the integer form). Ties break by
    * neighbor id.
    *
    * @param lambdaTenths λ in tenths (7 = the classic 0.7)
    * @return (query_id, pos 1..k, neighbor_id, mmr_ppm) — pos 1's
    *         mmr_ppm is the raw relevance; later rows carry the blend
    */
  def mmrDiversifyIntLsh(
      emb: DataFrame,
      k: Int = 3,
      candK: Int = 10,
      lambdaTenths: Int = 7,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (base, candidates) = bandedSelfCandidates(
      emb, idCol, vecCol,
      v => GraftFunctions.intLshBuckets(v, tables, bitsPerTable))
    val cand = rankTopK(scoreCandidates(base, candidates), candK)
      .withColumn("score_ppm", round(col("score") * 1000000).cast("long"))
      .localCheckpoint(true) // r16: eager — lazy persist raced concurrent AQE stage jobs (see Bipartite)
    val cv = cand
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("n_vec")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("score_ppm"), col("rank"), col("n_vec"))
    // candK²-bounded pairwise sims per query, same 6-dp contract as the
    // relevance scores, lifted to exact ppm
    val sims = cv.as("a")
      .join(cv.as("b"), col("a.query_id") === col("b.query_id"))
      .select(
        col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("a_id"),
        col("b.neighbor_id").as("b_id"),
        round(round(GraftFunctions.cosineSim(col("a.n_vec"), col("b.n_vec")), 6) * 1000000)
          .cast("long").as("sim_ppm"))
      .localCheckpoint(true) // r16: eager — lazy persist raced concurrent AQE stage jobs (see Bipartite)

    val lam = lambdaTenths
    var picks = cand
      .where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("pos"),
        col("score_ppm").as("mmr_ppm"))
    var remaining = cand.where(col("rank") =!= 1)
      .select("query_id", "neighbor_id", "score_ppm")
    for (step <- 2 to k) {
      val valued = remaining
        .join(
          sims.select(col("query_id"), col("a_id").as("neighbor_id"), col("b_id"), col("sim_ppm")),
          Seq("query_id", "neighbor_id"))
        .join(
          picks.select(col("query_id"), col("neighbor_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy("query_id", "neighbor_id", "score_ppm")
        .agg(max("sim_ppm").as("max_sim_ppm"))
        .withColumn("mmr_ppm",
          expr(s"(${lam}L * score_ppm - ${10 - lam}L * max_sim_ppm) div 10L"))
      val pick = valued
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("mmr_ppm").desc, col("neighbor_id"))))
        .where(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(step).as("pos"), col("mmr_ppm"))
      picks = picks.unionByName(pick)
      remaining = remaining
        .join(pick.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_anti")
    }
    picks
  }

  /** Cross-SPACE retrieval-quality evaluation (x144): how much
    * neighborhood structure a transformed (reduced/quantized/rotated)
    * copy of the corpus preserves — exact top-k in the TRANSFORMED
    * space measured against exact top-k in the ORIGINAL space on the
    * same query panel (the measurement behind every
    * "d→r dims costs X recall" table in the OPQ/PQ literature; the
    * compression trade x40/x117 make is only defensible with this
    * number next to it). Both sides brute over the panel — the eval
    * posture of [[annRecallIntLsh]]'s ground-truth stage, with the same
    * panel-size contract: `sampleMod` pins the panel at scale.
    *
    * @param full    (id, vec) original-space frame
    * @param reduced (id, vec) transformed-space frame, same id domain
    */
  def reducedSpaceRecall(
      full: DataFrame,
      reduced: DataFrame,
      k: Int,
      sampleMod: Int
  ): DataFrame = {
    def spreadP(space: DataFrame): DataFrame =
      Dedup.spread(space.select(col("id"), col("vec")))
        .localCheckpoint(true) // r16: eager — lazy persist raced concurrent AQE stage jobs (see Bipartite)
    val exact = panelBruteTopK(spreadP(full), k, sampleMod)
    val cand = panelBruteTopK(spreadP(reduced), k, sampleMod)
    val panel = full
      .where(col("id") % sampleMod === 0)
      .select(col("id").as("query_id"))
    recallMetrics(cand, exact, panel, k)
  }

  /** Attach both vectors to (query_id, neighbor_id) candidates and score
    * with the exact codegen'd cosine under the x09 round-6dp contract.
    */
  private def scoreCandidates(base: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(base.select(col("id").as("query_id"), col("vec").as("q_vec")), "query_id")
      .join(base.select(col("id").as("neighbor_id"), col("vec").as("c_vec")), "neighbor_id")
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))

  /** Hard-negative mining — per query, the top-k most-similar vectors
    * that are NOT semantic duplicates of it (the contrastive-training
    * verb: DPR, Karpukhin et al. 2020 §3.2 — the best negatives are the
    * ones the model confuses; in-batch randoms are too easy, and a
    * positive/duplicate mislabeled as a negative poisons the loss, hence
    * the cluster exclusion). Composes the corpus onto itself
    * ([[knnGraphExact]]'s posture) with [[Dedup.semanticDedup]]'s
    * component roots (threshold = `dupThreshold`): a candidate sharing
    * the query's root is a DUPLICATE, excluded BEFORE the top-k so the
    * rank fills with true negatives rather than truncating.
    *
    * Exact all-pairs form — the oracle baseline (x104), brute-force
    * exemption posture shared with x09/x87. [[hardNegativesLsh]] is the
    * 100 TB path.
    */
  def hardNegativesExact(
      emb: DataFrame,
      k: Int,
      dupThreshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val roots = Dedup
      .semanticDedup(emb, dupThreshold, idCol, vecCol)
      .select(col(idCol).as("id"), col("root_id"))
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = Dedup.spread(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    // roots is |corpus| skinny rows and this is the brute baseline whose
    // query side is ALREADY broadcast — broadcast the root maps too, or
    // the n² scored stream pays two full shuffles just to look up two
    // longs (measured 38 s → ~2 s at sf0.1).
    val scored = c
      .join(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(roots.select(col("id").as("query_id"), col("root_id").as("q_root"))), Seq("query_id"))
      .join(broadcast(roots.select(col("id").as("neighbor_id"), col("root_id").as("c_root"))), Seq("neighbor_id"))
      .where(col("q_root") =!= col("c_root"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k)
  }

  /** LSH-blocked hard negatives — [[hardNegativesExact]] at corpus
    * scale: candidates from `tables` sign-RP bucket joins (the
    * [[knnGraphLsh]] machinery, ≈ L·n/2^b candidates per node), root
    * exclusion joined in BEFORE scoring (a duplicate candidate costs a
    * join row, never a cosine), exact cosine + TopKByScore reduction.
    * Precision exact, recall probabilistic with the standard
    * (1−(1−θ/π)^b)^L miss bound — and mining WANTS near neighbors, the
    * pairs LSH is best at keeping. Duplicate roots from
    * [[Dedup.semanticDedup]] ride the same banded machinery, so no
    * stage is all-pairs.
    */
  def hardNegativesLsh(
      emb: DataFrame,
      k: Int,
      dupThreshold: Double,
      tables: Int = 24,
      bitsPerTable: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    hardNegativesBanded(
      emb, k, dupThreshold, idCol, vecCol,
      v => GraftFunctions.rpBuckets(v, tables, bitsPerTable, seed))

  /** [[hardNegativesLsh]]'s ORACLE-GRADE twin (x112) — the x91 posture
    * applied to the ENTIRE mining pipeline, roots included: duplicate
    * roots come from [[Dedup.semanticDedupIntLsh]] (integer-LSH banded
    * pairs → exact cosine ≥ dupThreshold → connected components), negative
    * candidates from the same integer plane grid's shared-bucket
    * self-join, root exclusion joined in BEFORE scoring, exact 6-dp
    * cosine + TopKByScore reduction — so a SQL engine replays planes →
    * buckets → dup pairs → component closure → roots → candidate edges →
    * exclusion → ranking, end to end. No stage is all-pairs; a hash match
    * certifies the 100 TB mining path itself, which x104's brute oracle
    * could not.
    */
  def hardNegativesIntLsh(
      emb: DataFrame,
      k: Int,
      dupThreshold: Double,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    hardNegativesBanded(
      emb, k, dupThreshold, idCol, vecCol,
      v => GraftFunctions.intLshBuckets(v, tables, bitsPerTable))

  /** ONE-banding-pass core of the LSH hard-negative miners (r16, guide
    * §1.2 pass count / §2 shuffles): the duplicate-pair miner and the
    * negative-candidate generator run the SAME plane grid over the SAME
    * corpus, so the bucket explode, the shared-bucket self-join, the
    * distinct, and the exact cosine are computed ONCE per UNORDERED
    * candidate pair and shared by both stages. The previous shape paid
    * the whole banding pipeline twice (once inside semanticDedup[IntLsh]
    * for the roots, once in bandedSelfCandidates for the mining
    * candidates) and scored each ORDERED pair — three cosine
    * evaluations per unordered pair in total, now one.
    *
    * Semantics are bit-identical to the two-pass form:
    *   - the a<b candidate set symmetrized IS the a≠b candidate set
    *     (shared buckets are symmetric);
    *   - [[graft.functions.CosineSimilarity]] is exactly symmetric
    *     (dot/nx/ny accumulate commutative double ops; the final
    *     expression sqrt(nx)·sqrt(ny) is a commutative product), so the
    *     symmetrized score equals the ordered-pair score bit-for-bit;
    *   - root exclusion AFTER scoring keeps the same surviving set the
    *     exclusion-before-scoring shape kept (the filter commutes with
    *     the score projection);
    *   - the dup pairs feeding the component closure are the identical
    *     (candidates, cosine ≥ dupThreshold) set the near-dup miner
    *     produced.
    * The scored pair set is checkpointed once (two consumers: the
    * component loop and the mining tail — the multi-consumer lineage-cut
    * discipline).
    */
  private def hardNegativesBanded(
      emb: DataFrame,
      k: Int,
      dupThreshold: Double,
      idCol: String,
      vecCol: String,
      bucketsOf: Column => Column
  ): DataFrame = {
    val base = Dedup.spread(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .localCheckpoint(true) // r16: eager — lazy persist raced concurrent AQE stage jobs (see Bipartite)
    val bucketed = base
      .select(col("id"), posexplode(bucketsOf(col("vec"))).as(Seq("table_id", "bucket")))
    val candidates = bucketed
      .select(col("id").as("a_id"), col("table_id"), col("bucket"))
      .join(
        bucketed.select(col("id").as("b_id"), col("table_id"), col("bucket")),
        Seq("table_id", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val scored = candidates
      .join(base.select(col("id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(base.select(col("id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .select(
        col("a_id"),
        col("b_id"),
        round(GraftFunctions.cosineSim(col("a_vec"), col("b_vec")), 6).as("score"))
      .localCheckpoint(true)
    val comps = Cluster.connectedComponents(
      scored.where(col("score") >= dupThreshold).select(col("a_id"), col("b_id")))
    val roots = emb
      .select(col(idCol).as("id"))
      .join(comps.select(col("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("root_id"))
    val sym = scored
      .select(
        explode(
          array(
            struct(
              col("a_id").as("query_id"), col("b_id").as("neighbor_id"), col("score")),
            struct(
              col("b_id").as("query_id"), col("a_id").as("neighbor_id"), col("score"))))
          .as("p"))
      .select(col("p.query_id").as("query_id"), col("p.neighbor_id").as("neighbor_id"), col("p.score").as("score"))
    val negs = sym
      .join(roots.select(col("id").as("query_id"), col("root_id").as("q_root")), Seq("query_id"))
      .join(roots.select(col("id").as("neighbor_id"), col("root_id").as("c_root")), Seq("neighbor_id"))
      .where(col("q_root") =!= col("c_root"))
    rankTopK(negs, k)
  }

  /** Approximate top-k via multi-table sign-RP LSH (OR-amplification, the
    * standard E2LSH scheme): `tables` independent hash tables of
    * `bitsPerTable` hyperplanes each; a corpus vector is a candidate for a
    * query iff they share a bucket in AT LEAST one table. Candidates are
    * scored with the exact codegen'd cosine, so precision is exact and only
    * recall is probabilistic: a neighbor at angle θ is missed with
    * probability (1−(1−θ/π)^b)^L — at cos≈0.5 the defaults (b=4, L=16)
    * miss ≈4% (SimilaritySpec pins a ≥0.8 recall floor on real vectors).
    *
    * Scale: grow `bitsPerTable` with the corpus so expected bucket size
    * stays bounded (candidates/query ≈ L·n/2^b — linear in n for fixed
    * bucket size, vs n per query for brute force); grow `tables` to push
    * recall. All L buckets per vector come from ONE RpBuckets evaluation.
    *
    * PRECONDITION (pinned, plan-guarded): `queries` ≪ `corpus`. The
    * candidate join broadcasts the exploded QUERY side (L rows per query
    * vector) so the corpus — the 100 TB side — never shuffles; the pin is
    * explicit because an AQE sort-merge fallback here would exchange the
    * whole corpus bucket frame. A caller whose query set is too large to
    * broadcast (≳ tens of millions of query×table rows) should batch the
    * queries, not unpin the join. PlanGuardSpec asserts the
    * BroadcastHashJoin and its build side for the x91 twin.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      tables: Int = 16,
      bitsPerTable: Int = 4,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val c = Dedup
      .spread(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
      .select(
        col("neighbor_id"),
        col("c_vec"),
        posexplode(GraftFunctions.rpBuckets(col("c_vec"), tables, bitsPerTable, seed))
          .as(Seq("table_id", "bucket"))
      )
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      posexplode(GraftFunctions.rpBuckets(col(vecCol), tables, bitsPerTable, seed))
        .as(Seq("table_id", "bucket"))
    )
    val scored = c
      .join(broadcast(q), Seq("table_id", "bucket"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    // a pair colliding in several tables scores identically each time —
    // dedup before the top-k so duplicates can't occupy multiple ranks
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("score")).distinct(), k)
  }

  /** [[lshTopK]]'s ORACLE-GRADE twin: identical candidate-generation shape
    * (OR-amplified multi-table sign-LSH, shared-bucket equi-join, exact
    * 6-dp cosine on candidates, TopKByScore ranking) but with the bucket
    * assignment in exact integer arithmetic
    * ([[graft.functions.IntLshBuckets]]: floor-1000 quantization,
    * hash40-derived planes in [−1000, 1000], BIGINT dots) so a SQL engine
    * can replay EVERY bucket — and therefore the exact candidate set and
    * ranking — bit-for-bit. This is what promotes the 100 TB ANN path
    * from "recall spec-pinned" to hash-oracled (x91): a match proves the
    * banding join found precisely the planned candidates, not merely a
    * plausible top-k. Same scale law as lshTopK: candidates/query ≈
    * L·n/2^b, never all-pairs — and the same PRECONDITION: queries ≪
    * corpus, query side broadcast (plan-guarded), corpus never shuffled.
    */
  def intLshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val c = Dedup
      .spread(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
      .select(
        col("neighbor_id"),
        col("c_vec"),
        posexplode(GraftFunctions.intLshBuckets(col("c_vec"), tables, bitsPerTable))
          .as(Seq("table_id", "bucket"))
      )
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      posexplode(GraftFunctions.intLshBuckets(col(vecCol), tables, bitsPerTable))
        .as(Seq("table_id", "bucket"))
    )
    val scored = c
      .join(broadcast(q), Seq("table_id", "bucket"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("score")).distinct(), k)
  }

  /** [[intLshTopK]] over a PRE-BUILT index — the two frames a persisted
    * (or incrementally maintained) ANN index holds: `buckets`
    * (neighbor_id, table_id, bucket — the map-only explode, computed once
    * per vector at ingest) and `vectors` (neighbor_id, c_vec — the
    * verification side). Candidate generation, bucket arithmetic
    * ([[graft.functions.IntLshBuckets]] on the query side), exact 6-dp
    * cosine, and TopKByScore ranking are IDENTICAL to [[intLshTopK]] —
    * the only difference is composition: candidates join the vectors
    * frame by id for scoring instead of carrying c_vec through the bucket
    * explode (result-identical; AnnIndexStreamSpec pins the equality).
    * Same preconditions: queries ≪ corpus, query side broadcast into
    * BOTH the candidate probe and the score join, so neither index frame
    * ever reshuffles for a query — at 100 TB the frames are bucketed
    * parquet keyed by (table_id, bucket) and neighbor_id respectively,
    * the [[graft.operators.Colocate]] posture
    * ([[graft.operators.Dedup.writeNearDupIndexBucketed]]'s shape).
    */
  def intLshTopKFromIndex(
      buckets: DataFrame,
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      posexplode(GraftFunctions.intLshBuckets(col(vecCol), tables, bitsPerTable))
        .as(Seq("table_id", "bucket"))
    )
    // a pair colliding in several tables is one candidate (the same
    // pre-rank dedup intLshTopK applies)
    val cand = buckets
      .join(broadcast(q), Seq("table_id", "bucket"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = cand
      .join(
        broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))),
        Seq("query_id"))
      .join(vectors, Seq("neighbor_id"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    // same pre-rank distinct as intLshTopK: a duplicated vectors row (a
    // RAW DeltaEpochStore union passed unmerged, a replayed ingest) would
    // otherwise seat one neighbor at two ranks and evict the true k-th
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("score")).distinct(), k)
  }

  /** Product-quantization ADC top-k in ORACLE-GRADE integer arithmetic
    * (x117) — the PQ member of the compression family next to SQ8
    * (x40/x41): the corpus is encoded ONCE to `m` sub-space codes
    * ([[graft.functions.IntPqCodes]]: floor-1000 quantization,
    * RANGE-CALIBRATED hash40 codebooks from one VectorMinMax pass,
    * argmin exact integer L2 per subspace — at m=32, ksub=64 a 64-dim
    * float vector compresses to 32 codes, ~10× packed), and search
    * reads ONLY the codes: per pair, [[graft.functions.IntPqDist]]
    * computes the asymmetric distance (full-precision query vs codebook
    * reconstruction — FAISS ADC semantics) in dim integer multiplies,
    * the cost of a dot product over a corpus footprint of m small ints.
    * Brute shape over codes (the x41 SQ8-search posture — the
    * compression is the point; IVF lists or LSH banding compose in
    * front unchanged), query side broadcast. Ranking ASC by distance,
    * ties neighbor asc; every quantity BIGINT, so the oracle replays
    * calibration, codebooks, assignment, and ADC bit-for-bit.
    *
    * Random-in-range codebooks are NOT data-adapted — the price of the
    * oracle (measured recall@5 vs exact cosine on the test embeddings:
    * 0.64 at these defaults, vs 0.02 UNcalibrated — QuantizeSpec pins
    * the floor so the trade is stated, not implied); the production
    * variant trains per-subspace Lloyd codebooks with the
    * [[ivfCentroids]] machinery and swaps them into the same formula.
    */
  def intPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 32,
      ksub: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    // ONE VectorMinMax calibration pass over the corpus (the sq8Ranges
    // machinery): integer bounds mnq_j = floor(min_j·1000) etc. — floor
    // is monotone, so the bound of the floors IS the floor of the bound
    val (mnsD, mxsD) = sq8Ranges(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v")))
    val mns = mnsD.map(x => math.floor(x * 1000.0).toLong).toSeq
    val mxs = mxsD.map(x => math.floor(x * 1000.0).toLong).toSeq
    val codes = Dedup.spread(
      corpus.select(
        col(idCol).as("neighbor_id"),
        GraftFunctions.intPqCodes(col(vecCol), m, ksub, mns, mxs).as("codes")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = codes
      .join(broadcast(q))
      .withColumn(
        "dist",
        GraftFunctions.intPqDist(col("q_vec"), col("codes"), m, ksub, mns, mxs))
      // TopKByScore keeps the LARGEST scores; distances rank ascending,
      // and dist ≤ dim·(3000)² ≪ 2⁵³ rides a double exactly — negate in,
      // negate out
      .withColumn("score", -col("dist").cast("double"))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    rankTopK(scored, k)
      .select(
        col("query_id"),
        col("neighbor_id"),
        (-col("score")).cast("long").as("dist"),
        col("rank"))
  }

  /** Lloyd-TRAINED product-quantization codebooks — the data-adapted
    * production path [[intPqTopK]]'s scaladoc promises: per-subspace
    * k-means with `iters` rounds, each round ONE
    * [[graft.functions.PqTrainSums]] map-side-partial aggregation (the
    * per-subspace-loop alternative runs m driver jobs per round; the
    * posexplode twin shuffles m × corpus rows — the x26 explosion).
    * Driver state is bounded by m·ksub·(dim/m) = dim·ksub doubles (the
    * ivfCentroids contract); init is the `ksub` corpus vectors with the
    * smallest `xxhash64(id, seed)`, sliced per subspace — deterministic
    * and seed-stable (a corpus smaller than ksub wraps, duplicating
    * init entries; Lloyd separates them if the data does). Empty cells
    * keep their previous entry. Returns the flattened codebook
    * [(s·ksub + k)·sub + j].
    */
  def pqTrain(
      corpus: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Seq[Double] = {
    require(m >= 1 && ksub >= 1 && iters >= 0, s"bad PQ config m=$m ksub=$ksub iters=$iters")
    val init: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("v"), xxhash64(col(idCol), lit(seed)).as("h"))
      .orderBy(col("h"))
      .limit(ksub)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = init(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    var books = new Array[Double](m * ksub * sub)
    var s = 0
    while (s < m) {
      var k = 0
      while (k < ksub) {
        var j = 0
        while (j < sub) {
          books((s * ksub + k) * sub + j) = init(k % init.length)(s * sub + j)
          j += 1
        }
        k += 1
      }
      s += 1
    }
    var it = 0
    while (it < iters) {
      val row = corpus
        .agg(GraftFunctions.pqTrainSums(col(vecCol), books.toSeq, m, ksub).as("r"))
        .select(col("r.counts"), col("r.sums"))
        .head()
      val counts = row.getSeq[Long](0)
      val sums = row.getSeq[Double](1)
      val next = books.clone()
      var cell = 0
      while (cell < m * ksub) {
        if (counts(cell) > 0L) {
          var j = 0
          while (j < sub) {
            next(cell * sub + j) = sums(cell * sub + j) / counts(cell)
            j += 1
          }
        }
        cell += 1
      }
      books = next
      it += 1
    }
    books.toSeq
  }

  /** Trained-PQ ADC top-k — [[intPqTopK]] with [[pqTrain]]'s
    * data-adapted codebooks through the same assignment/ADC formulas
    * ([[graft.functions.PqAssign]]/[[graft.functions.PqAdc]], double
    * domain). Float k-means is not SQL-replayable, so this surface is
    * spec-pinned (recall floor vs exact, the x13/knnGraphLsh
    * convention) while x117 certifies the shared machinery bit-for-bit.
    */
  def pqTopKTrained(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 32,
      ksub: Int = 64,
      iters: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val books = pqTrain(corpus, m, ksub, iters, seed, idCol, vecCol)
    val codes = Dedup.spread(
      corpus.select(
        col(idCol).as("neighbor_id"),
        GraftFunctions.pqAssign(col(vecCol), books, m, ksub).as("codes")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = codes
      .join(broadcast(q))
      .withColumn("dist", GraftFunctions.pqAdc(col("q_vec"), col("codes"), books, m, ksub))
      .withColumn("score", -col("dist"))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    rankTopK(scored, k)
      .select(
        col("query_id"),
        col("neighbor_id"),
        (-col("score")).as("dist"),
        col("rank"))
  }

  /** Lloyd-TRAINED product-quantization ADC top-k in ORACLE-GRADE
    * arithmetic (x118) — the surface the r10 verdict asked for: x117
    * certified calibration/assignment/ADC bit-for-bit but shipped
    * data-blind random-in-range codebooks (recall 0.64), while the
    * trained path ([[pqTopKTrained]]) was built but unregistered because
    * float k-means is not SQL-replayable. This variant makes the WHOLE
    * training loop replayable by running Lloyd in the integer domain:
    *
    *   - CALIBRATION: one [[sq8Ranges]] pass → integer per-dim minima
    *     mn_j = floor(min_j·1000); every vector maps to
    *     w_j = floor(v_j·1000) − mn_j (float→double widening exact, one
    *     correctly-rounded multiply, exact floor — the x91 argument), so
    *     corpus vectors live on a non-negative integer grid;
    *   - INIT: the `ksub` corpus vectors with the smallest
    *     (hash40("pq:" ‖ id), id) — the engine-wide md5-splice order,
    *     closed-form on both engines; cell k of every subspace starts at
    *     seed k's slice ([[pqTrain]]'s wrap rule);
    *   - LLOYD ROUNDS: one [[graft.functions.PqTrainSums]] map-side
    *     aggregation per round (integer-valued doubles — sums over the
    *     grid stay ≪ 2⁵³, so double arithmetic IS integer arithmetic);
    *     the update is floor(sum / count) — an IEEE division of two
    *     exact integers plus an exact floor, identical in any engine —
    *     with empty cells keeping their previous entry;
    *   - ASSIGNMENT/ADC: [[graft.functions.PqAssign]] /
    *     [[graft.functions.PqAdc]] over the integer codebooks; squared-L2
    *     sums of integer grid values, BIGINT-rangeable, ranked
    *     (dist asc, neighbor asc).
    *
    * So the DuckDB oracle replays calibration → seeds → every Lloyd
    * round → assignment → ADC exactly, and recall vs exact cosine is a
    * spec-pinned floor (QuantizeSpec) — trained codebooks, oracle-grade.
    *
    * Driver state: ksub seed vectors + the m·ksub·(dim/m) = dim·ksub
    * codebook doubles per round (the [[ivfCentroids]] bounded-state
    * contract); per round the cluster does ONE aggregation pass, the
    * m-driver-round chain being inherent to Lloyd like BPE's merge chain.
    */
  def intPqTopKTrained(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 16,
      ksub: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(m >= 1 && ksub >= 1 && iters >= 0, s"bad PQ config m=$m ksub=$ksub iters=$iters")
    val (mns, dim) = intGridMins(corpus, idCol, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    def intDomain(c: Column): Column = intGridDomain(c, mns)

    val corpusW = Dedup.spread(
      corpus.select(col(idCol), intDomain(col(vecCol)).as("w")))
    val books = trainIntBooks(corpusW, idCol, dim, m, ksub, iters, "pq:")
    val codes = corpusW.select(
      col(idCol).as("neighbor_id"),
      GraftFunctions.pqAssign(col("w"), books.toSeq, m, ksub).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), intDomain(col(vecCol)).as("q_vec"))
    val scored = codes
      .join(broadcast(q))
      .withColumn("dist", GraftFunctions.pqAdc(col("q_vec"), col("codes"), books.toSeq, m, ksub))
      // integer-valued doubles ≪ 2⁵³: negate in, negate out (the intPqTopK rule)
      .withColumn("score", -col("dist"))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    rankTopK(scored, k)
      .select(
        col("query_id"),
        col("neighbor_id"),
        (-col("score")).cast("long").as("dist"),
        col("rank"))
  }

  /** Integer-grid calibration shared by the trained-quantizer family
    * (x118 intPqTopKTrained, x119 intIvfPqTopKTrained): per-dim corpus
    * minima on the floor-1000 grid, plus the dimension. One [[sq8Ranges]]
    * aggregation; 2·dim doubles of driver state.
    */
  private def intGridMins(
      corpus: DataFrame,
      idCol: String,
      vecCol: String
  ): (Array[Long], Int) = {
    val (mnsD, _) = sq8Ranges(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v")))
    val mns: Array[Long] = mnsD.map(x => math.floor(x * 1000.0).toLong)
    (mns, mns.length)
  }

  /** Map a float/double vector column onto the non-negative integer grid:
    * w_j = floor(v_j·1000) − mn_j, as exact integer-valued doubles
    * (float→double widening exact, one correctly-rounded multiply, exact
    * floor — the x91 replayability argument).
    */
  private def intGridDomain(c: Column, mns: Array[Long]): Column =
    zip_with(
      c.cast("array<double>"), lit(mns),
      (x, mn) => floor(x * lit(1000.0)) - mn
    ).cast("array<double>")

  /** The oracle-grade integer Lloyd loop extracted from
    * [[intPqTopKTrained]] (geometry unchanged — x118's oracle replays this
    * exact sequence): hash40(`seedPrefix` ‖ id)-ordered seeds, `iters`
    * [[graft.functions.PqTrainSums]] rounds with the floor(sum/count)
    * update, empty cells carried. `vectors` must expose `idCol` and an
    * integer-grid `w` column; returns the flat m·ksub·(dim/m) codebook.
    * With m = 1, ksub = nlist this IS a coarse quantizer — the x119 IVF
    * composition's trick: one training loop, two roles.
    */
  private def trainIntBooks(
      vectors: DataFrame,
      idCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      iters: Int,
      seedPrefix: String
  ): Array[Double] = {
    val sub = dim / m
    val init: Array[Array[Double]] = vectors
      .select(
        col("w"),
        conv(substring(md5(concat(lit(seedPrefix), col(idCol).cast("string"))), 1, 10), 16, 10)
          .cast("long").as("hv"),
        col(idCol))
      .orderBy(col("hv"), col(idCol))
      .limit(ksub)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "cannot train a quantizer on an empty corpus")
    var books = new Array[Double](m * ksub * sub)
    var s0 = 0
    while (s0 < m) {
      var kk = 0
      while (kk < ksub) {
        var j = 0
        while (j < sub) {
          books((s0 * ksub + kk) * sub + j) = init(kk % init.length)(s0 * sub + j)
          j += 1
        }
        kk += 1
      }
      s0 += 1
    }
    var it = 0
    while (it < iters) {
      val row = vectors
        .agg(GraftFunctions.pqTrainSums(col("w"), books.toSeq, m, ksub).as("r"))
        .select(col("r.counts"), col("r.sums"))
        .head()
      val counts = row.getSeq[Long](0)
      val sums = row.getSeq[Double](1)
      val next = books.clone()
      var cell = 0
      while (cell < m * ksub) {
        if (counts(cell) > 0L) {
          var j = 0
          while (j < sub) {
            // floor(integer/integer) — an IEEE division of two exact
            // integers + exact floor, replayable by any engine
            next(cell * sub + j) = math.floor(sums(cell * sub + j) / counts(cell))
            j += 1
          }
        }
        cell += 1
      }
      books = next
      it += 1
    }
    books
  }

  /** IVFADC (Jégou et al. 2011, "Product quantization for nearest
    * neighbor search" §IV) in ORACLE-GRADE integer arithmetic — the x119
    * surface, and the composition the x117/x118 scaladocs promised
    * ("IVF/LSH banding composes in front unchanged"), now registered:
    *
    *   - COARSE QUANTIZER: [[trainIntBooks]] with m = 1, ksub = `nlist`
    *     (seed prefix "ivf:") — a coarse quantizer IS product quantization
    *     with one subspace spanning the whole vector, so the same Lloyd
    *     loop, the same replayability argument, and the same
    *     [[graft.functions.PqAssign]] expression serve both roles;
    *   - INVERTED LISTS: every corpus vector map-assigns to its nearest
    *     coarse cell (one pass, no shuffle) — `list_id` is the partition
    *     key a 100 TB deployment would bucket the code table by;
    *   - RESIDUAL PQ: the fine codebooks train on r = w − c(list_id)
    *     (exact integer differences), the step that makes IVFADC beat
    *     plain PQ at equal bytes — residual energy is what's left AFTER
    *     the coarse cell explains the vector;
    *   - PROBES: each query computes exact integer L2 to all `nlist`
    *     coarse cells (nlist·dim driver-literal doubles, map-only) and
    *     keeps the `nprobe` nearest (dist asc, list asc — deterministic);
    *   - ADC: candidates are ONLY the vectors in probed lists
    *     (≈ nprobe/nlist of the corpus per query vs ALL of it for
    *     x117/x118), scored by [[graft.functions.PqAdc]] against the
    *     query's PER-LIST residual, ranked (dist asc, neighbor asc).
    *
    * Everything lives on the integer grid (squares ≤ (2·10³·2)² · dim
    * ≪ 2⁵³), so the DuckDB oracle replays BOTH training loops, both
    * assignments, the probe ranking, and ADC bit-for-bit.
    *
    * Scale: the corpus never feeds a per-query scan — the probe join is
    * an equi-join on `list_id` with the (small) query side broadcast, so
    * candidates/query ≈ (nprobe/nlist)·n and grow sublinearly when nlist
    * follows the √n rule. Recall vs exact is a spec-pinned floor
    * (QuantizeSpec); on unclustered corpora it tracks nprobe/nlist, which
    * is the honest IVF trade.
    */
  def intIvfPqTopKTrained(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 4,
      m: Int = 16,
      ksub: Int = 16,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist], got nprobe=$nprobe nlist=$nlist")
    require(m >= 1 && ksub >= 1 && iters >= 0, s"bad PQ config m=$m ksub=$ksub iters=$iters")
    val (mns, dim) = intGridMins(corpus, idCol, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")

    val corpusW = Dedup.spread(
      corpus.select(col(idCol), intGridDomain(col(vecCol), mns).as("w")))
    val coarse = trainIntBooks(corpusW, idCol, dim, 1, nlist, iters, "ivf:")
    val coarseLit = lit(coarse)
    // w − c(list): exact integer differences (array lookup into the flat
    // nlist·dim codebook literal)
    def residual(w: Column, listId: Column): Column =
      transform(
        sequence(lit(0), lit(dim - 1)),
        j => element_at(w, j + 1) - element_at(coarseLit, listId * lit(dim) + j + 1)
      ).cast("array<double>")

    val assigned = corpusW.select(
      col(idCol),
      col("w"),
      element_at(GraftFunctions.pqAssign(col("w"), coarse.toSeq, 1, nlist), 1).as("list_id"))
    // checkpoint the residual table: the fine-training loop (seeds +
    // `iters` PqTrainSums rounds + final assignment) re-reads it once per
    // job, and without truncation each read re-runs scan → quantize →
    // coarse-assign → subtract — the PageRank/CC lineage rule
    val resid = assigned
      .select(col(idCol), col("list_id"), residual(col("w"), col("list_id")).as("w"))
      .localCheckpoint(true)
    val fine = trainIntBooks(resid, idCol, dim, m, ksub, iters, "pq:")
    val codes = resid.select(
      col(idCol).as("neighbor_id"),
      col("list_id"),
      GraftFunctions.pqAssign(col("w"), fine.toSeq, m, ksub).as("codes"))

    // per-query probe ranking: exact integer L2 to every coarse cell,
    // (dist asc, list asc) — all inside one map-only projection
    val qw = queries.select(col(idCol).as("query_id"), intGridDomain(col(vecCol), mns).as("q_w"))
    val probes = qw
      .select(
        col("query_id"),
        col("q_w"),
        explode(
          slice(
            array_sort(
              transform(
                sequence(lit(0), lit(nlist - 1)),
                l => struct(
                  aggregate(
                    sequence(lit(0), lit(dim - 1)),
                    lit(0.0),
                    (acc, j) =>
                      acc + (element_at(col("q_w"), j + 1)
                        - element_at(coarseLit, l * lit(dim) + j + 1))
                        * (element_at(col("q_w"), j + 1)
                          - element_at(coarseLit, l * lit(dim) + j + 1))
                  ).as("d"),
                  l.as("list_id")))),
            1, nprobe)).as("p"))
      .select(
        col("query_id"),
        col("p.list_id").as("list_id"),
        residual(col("q_w"), col("p.list_id")).as("q_res"))

    val scored = codes
      .join(broadcast(probes), Seq("list_id"))
      .withColumn("dist", GraftFunctions.pqAdc(col("q_res"), col("codes"), fine.toSeq, m, ksub))
      // integer-valued doubles ≪ 2⁵³: negate in, negate out (the intPqTopK rule)
      .withColumn("score", -col("dist"))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    rankTopK(scored, k)
      .select(
        col("query_id"),
        col("neighbor_id"),
        (-col("score")).cast("long").as("dist"),
        col("rank"))
  }

  /** Int8 scalar quantization (SQ8) of an embedding column — the standard
    * 4× compression step of large-scale vector search (FAISS
    * `ScalarQuantizer`-style): per-dimension corpus (min, max) calibration,
    * then each component maps to `floor((v−min)·255/(max−min))` clamped to
    * [0, 255]. At 100 TB the point is bytes: a 64-dim float corpus drops
    * from 256 B to 64 B per vector BEFORE any index is built, and integer
    * dot products over codes are exact arithmetic (no FP-order caveats),
    * which is what makes [[sq8TopK]] a hash-stable oracled surface.
    *
    * Shape: ONE [[graft.functions.VectorMinMax]] pass (a single
    * (mins[dim], maxs[dim]) pair per map task into one tiny reduce — the
    * posexplode twin would shuffle dim × corpus rows), whose dim-bounded
    * result is collected and inlined as array literals (driver state
    * bounded by 2×dim doubles — the [[ivfCentroids]] contract), making
    * the quantize itself a map-only pass with NO join. Min/max are
    * exact comparisons and the quantize step is three correctly-rounded
    * IEEE ops + an exact floor, so codes are reproducible bit-for-bit by
    * any engine evaluating the same formula (the DuckDB oracle does).
    * A degenerate dimension (max == min) quantizes to 0.
    */
  def sq8Codes(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val v = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val (mns, mxs) = sq8Ranges(v)
    quantizeWith(v, mns, mxs, idCol)
  }

  /** Collected (mins[dim], maxs[dim]) calibration — one aggregate job,
    * 2×dim doubles of driver state.
    */
  private def sq8Ranges(v: DataFrame): (Array[Double], Array[Double]) = {
    val row = v
      .agg(GraftFunctions.vectorMinMax(col("v")).as("mm"))
      .select(col("mm.mins"), col("mm.maxs"))
      .collect()(0)
    (row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
  }

  private def quantizeWith(
      v: DataFrame,
      mns: Array[Double],
      mxs: Array[Double],
      idCol: String
  ): DataFrame =
    v.select(
      col(idCol),
      transform(
        col("v"),
        (x, i) => {
          val mn = element_at(lit(mns), i + 1)
          val mx = element_at(lit(mxs), i + 1)
          when(mx > mn, least(lit(255L), floor((x - mn) * lit(255.0) / (mx - mn))))
            .otherwise(lit(0L))
            .cast("int")
        }
      ).as("codes")
    )

  /** Approximate top-k over SQ8 codes — the FAISS-SQ8 search semantics:
    * distances are computed on DEQUANTIZED values
    * (`mn_i + code_i·(mx_i−mn_i)/255`), because a raw code dot product
    * ranks in the min-SHIFTED space and correlates poorly with cosine
    * (measured: 0.06 recall vs exact top-5 on the test embeddings — the
    * per-dim `−min` shift dominates the products; QuantizeSpec pins the
    * dequantized form ≥ 0.9). The search reads only the 1-byte codes —
    * that is the 100 TB point: the float corpus never re-enters the plan
    * after calibration — and dequantization is three IEEE ops per element
    * inside the same map task as the codegen'd cosine, with scores under
    * the x09 round-6dp contract and (cos desc, neighbor_id asc) ties.
    * Calibration runs over `all` (queries ∪ corpus must share ranges or
    * scores aren't comparable). `isQuery` must be a predicate over `idCol`
    * alone (it is applied to the quantized frame, which carries only
    * id + codes — no join back to the input, so the corpus is never
    * reshuffled just to attach the split flag).
    */
  def sq8TopK(
      all: DataFrame,
      isQuery: Column,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val v = all.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val (mns, mxs) = sq8Ranges(v)
    val dequant = quantizeWith(v, mns, mxs, idCol)
      .select(
        col(idCol),
        transform(
          col("codes"),
          (c, i) => {
            val mn = element_at(lit(mns), i + 1)
            val mx = element_at(lit(mxs), i + 1)
            mn + c * (mx - mn) / lit(255.0)
          }
        ).as("dv")
      )
    val q = dequant.where(isQuery).select(col(idCol).as("query_id"), col("dv").as("q_vec"))
    val c = Dedup.spread(
      dequant.where(!isQuery).select(col(idCol).as("neighbor_id"), col("dv").as("c_vec"))
    )
    val scored = c
      .join(broadcast(q))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k)
      .withColumnRenamed("score", "cos")
  }

  /** IVF coarse quantizer: `nlist` centroids trained with `iters` rounds of
    * distributed Lloyd k-means. Everything driver-side is bounded by
    * nlist×dim (the quantizer, NOT data-scale state — same contract as the
    * expiry policy's calendar-bounded collect):
    *   - init: the `nlist` corpus vectors with the smallest
    *     `xxhash64(id, seed)` — deterministic, seed-stable, one top-k scan;
    *   - assign: map-only [[graft.functions.NearestCentroids]] (take=1) —
    *     no shuffle of vectors, the quantizer rides inside the expression;
    *   - update: per-list elementwise mean via the
    *     [[graft.functions.VectorAvg]] TypedImperativeAggregate — whole
    *     vectors stay in the map task and ONE (count, sums[dim]) pair per
    *     (list × partition) ships through the exchange, then a ≤ nlist-row
    *     collect. (The posexplode + groupBy(list, pos) formulation this
    *     replaced shuffled dim × corpus rows per round — exactly the
    *     explosion x26's centroids were built to avoid.) Empty lists keep
    *     their previous centroid.
    */
  def ivfCentroids(
      corpus: DataFrame,
      nlist: Int,
      iters: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Array[Array[Double]] = {
    require(nlist >= 1, "need at least one list")
    val init: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("v"), xxhash64(col(idCol), lit(seed)).as("h"))
      .orderBy(col("h"))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    var centroids = init
    var it = 0
    while (it < iters) {
      val cSeq = centroids.map(_.toSeq).toSeq
      val means = corpus
        .select(
          element_at(GraftFunctions.nearestCentroids(col(vecCol), cSeq, 1), 1).as("list_id"),
          col(vecCol).as("v")
        )
        .groupBy(col("list_id"))
        .agg(GraftFunctions.vectorAvg(col("v")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0)) = r.getSeq[Double](1).toArray
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Approximate top-k via IVF-Flat: train a coarse quantizer
    * ([[ivfCentroids]]), assign each corpus vector to its nearest
    * centroid's inverted list (map-only), then score each query ONLY
    * against the `nprobe` lists nearest to it. Candidates per query ≈
    * (nprobe/nlist)·n, vs n for brute force; unlike the LSH path no
    * `distinct` is needed — lists partition the corpus, so a pair can
    * collide at most once.
    *
    * Scale: the corpus-side assignment is one map-only pass (quantizer
    * inside the expression, no shuffle); the probe join broadcasts the
    * exploded query side; grow `nlist` ∝ corpus size to bound list length
    * (the classic IVF √n rule) and `nprobe` to push recall.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "nprobe must be in [1, nlist]")
    val cSeq = ivfCentroids(corpus, nlist, iters, seed, idCol, vecCol).map(_.toSeq).toSeq
    val c = Dedup
      .spread(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
      .withColumn(
        "list_id",
        element_at(GraftFunctions.nearestCentroids(col("c_vec"), cSeq, 1), 1)
      )
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      explode(GraftFunctions.nearestCentroids(col(vecCol), cSeq, nprobe)).as("list_id")
    )
    val scored = c
      .join(broadcast(q), Seq("list_id"))
      .withColumn("score", round(GraftFunctions.cosineSim(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("score")), k)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** Deduplication operators for corpus curation (BASELINE.json north star).
  *
  * Scale design notes (the part that matters at 100 TB):
  *   - Exact/fingerprint dedup: one hash-partitioned shuffle on a 16-byte
  *     digest, never on document text; map-side partial aggregation applies.
  *   - MinHash-LSH: signatures are computed map-side by a single expression
  *     ([[graft.functions.MinHashSignature]] — no explode of shingles, no
  *     shuffle of text); only (band_id, band_hash, doc_id) triples — tens of
  *     bytes per doc per band — are shuffled. Candidate verification joins
  *     back to shingle sets by doc_id.
  *   - Inverted-index n-gram Jaccard: postings lists are pruned by document
  *     frequency before the self-join, the standard guard against the
  *     quadratic blowup of stop-shingles.
  *   - Self-join inputs are materialized once: the expensive sketch
  *     subtree (shingling / MinHash / SimHash) feeds BOTH sides of the
  *     candidate join plus the verification join, and without that Spark
  *     recomputes it per reference (observed 2-4× sketch cost at sf0.1).
  *     One rule: a miner materializes with a `localCheckpoint` it owns,
  *     never a `persist`. The CacheManager keeps a persisted frame until
  *     `unpersist`, so a persist inside an operator that returns a lazy
  *     result stays cached for the session; a checkpoint's blocks are
  *     freed by the ContextCleaner once the returned frame is unreachable.
  *     The one exception is [[NearDupIndex]], a memoized artifact whose
  *     owner releases its four persisted frames with `unpersistAll`
  *     (and [[incrementalClassifyIndexed]], whose two delivery persists
  *     are still open: NearDupBucketedSpec reads the index joins through
  *     their cached plans).
  */
object Dedup {

  /** Spark sizes scan partitions by BYTES (maxPartitionBytes), but sketch
    * computation is CPU-bound per row: a small parquet file read as one
    * partition serializes all shingling/hashing onto one core (observed:
    * 35-180 s single-task stages at sf0.1). Unconditionally repartition
    * compute-heavy inputs to the cluster's parallelism before the heavy
    * expressions — the shuffled bytes are tiny compared to the compute they
    * unlock, and probing the current partitioning via `df.rdd` would force
    * an RDD-lineage materialization of the analyzed plan on every call.
    */
  private[operators] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup by full-text digest: one surviving doc_id (the smallest)
    * per distinct text, plus the group size.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-document segment dedup — the C4/RefinedWeb "remove lines
    * duplicated across documents" curation verb, re-expressed on disjoint
    * `window`-token segments ([[Chunk.tokenWindows]] with stride=window,
    * so the split is the pipeline's own chunking contract). A segment
    * whose exact text already appeared at a smaller (doc, position) is
    * dropped CORPUS-WIDE; every document is then reassembled from its
    * surviving segments in order. Output per doc: segment counts and the
    * md5 of the reassembled text (the hash pins exact reassembly).
    *
    * 100 TB shape: segments shuffle by digest, not text, for the keeper
    * vote — a hash-agg `min(struct(doc,idx))` argmax (the x44 lesson:
    * map-side partials absorb a segment duplicated a million times;
    * a `row_number` window over that partition would be one task's
    * problem). One digest-keyed join labels keepers, one doc-keyed agg
    * reassembles. No window functions, no driver state.
    */
  def segmentDedup(
      docs: DataFrame,
      window: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val chunks = Chunk
      .tokenWindows(docs, window, window, idCol, textCol)
      .select(
        col(idCol),
        col("chunk_idx"),
        col("chunk_text"),
        md5(col("chunk_text")).as("seg_md5"))
    val keepers = chunks
      .groupBy(col("seg_md5"))
      .agg(min(struct(col(idCol).as("kd"), col("chunk_idx").as("ki"))).as("keep"))
    val kept = chunks
      .join(keepers, "seg_md5")
      .where(col(idCol) === col("keep.kd") && col("chunk_idx") === col("keep.ki"))
    val perDoc = chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_segments"))
    val keptAgg = kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            x => x.getField("chunk_text"))).as("dedup_text"))
    perDoc
      .join(keptAgg, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("dedup_text"), lit(""))).as("dedup_md5"))
  }

  /** Fingerprint (normalized-text) dedup — catches whitespace/punctuation/
    * case variants that exact dedup misses.
    */
  def byFingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Docs annotated with distinct word-n-gram shingle sets. */
  def withShingles(docs: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spread(docs.select(col(idCol), col(textCol))).select(
      col(idCol),
      TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n).as("sh")
    )

  // private[graft]: the streaming twin (NearDupStream) must verify with
  // the EXACT same formula, or the pairs ≡ batch prefix contract drifts
  private[graft] def jaccard(aSize: Column, bSize: Column, common: Column): Column =
    common.cast("double") / (aSize + bSize - common).cast("double")

  /** N-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode distinct shingles → self-join on shingle → count shared →
    * Jaccard ≥ threshold.
    *
    * `maxDf` prunes postings whose shingle occurs in more than that many
    * DISTINCT TEXTS (stop-shingles) before the quadratic step. Pruning
    * makes the result the EXACT Jaccard over the df≤maxDf shingle space
    * (set sizes are recounted after pruning, so numerator and denominator
    * agree) — which equals full exact Jaccard iff no shingle exceeds
    * maxDf. A pair held together only by ultra-common shingles can still
    * fall below the threshold; that is the documented, intended trade for
    * killing the stop-shingle blowup at corpus scale. Set
    * `maxDf = Int.MaxValue` for unconditionally exact results.
    *
    * EXACT-DUPLICATE PRE-COLLAPSE, same guard as [[minhashLshPairs]]: an
    * m-copy identical text would otherwise post ×m into the inverted
    * index and mine m²/2 pairs through the shingle join, each verified by
    * a full per-pair count. Mining runs on one min-id representative per
    * distinct text; members fan back out AFTER the threshold (within-
    * class pairs are Jaccard 1 by definition — emitted only for classes
    * whose shingle set survives the prune non-empty, matching the direct
    * algorithm where a fully-pruned doc has no postings and so no pairs;
    * cross-class pairs inherit their representatives' Jaccard, a function
    * of the texts alone). Df therefore counts distinct texts, not copies
    * — the right scale semantics (mirrored pages shouldn't stop-list
    * their own shingles) and identical in any regime where results were
    * exact anyway.
    *
    * Output: (a_id, b_id, jac) with a_id < b_id, rounded to 6 dp.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val classes = sidClasses(docs, n, maxDf, idCol, textCol)
    // both sides of the candidate join probe with their prefixes
    val prefix = classes.select(col("rep_id"), explode(prefixSids(threshold)).as("sid"))
    val candidates = prefix
      .select(col("rep_id").as("a_id"), col("sid"))
      .join(prefix.select(col("rep_id").as("b_id"), col("sid")), Seq("sid"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val repPairs = candidates
      .join(classSide(classes, "a"), "a_id")
      .join(classSide(classes, "b"), "b_id")
      .withColumn(
        "jac",
        round(jaccard(col("a_size"), col("b_size"), size(array_intersect(col("a_sh"), col("b_sh")))), 6))
      .where(col("jac") >= threshold)
    val dupClasses = classes.where(size(col("members")) > 1 && lit(threshold) <= 1.0)
    asInputIds(fanOut(repPairs, dupClasses, "jac", symmetric = true), docs, idCol)
  }

  /** The representative-class frame of the shingle miners: one row per
    * distinct text (md5 class) with its min id `rep_id`, its `members`
    * ids and its shingle set `sh`. One shuffle carries each text ONCE:
    * the class groupBy keeps the min id, the member list AND the text
    * itself (any_value is exact here — every text in an md5 class is
    * identical by construction, the same collision tolerance the digest
    * already accepts), and spread() restores parallelism for the shingle
    * walk. Fan-outs explode the member lists, so no step joins back to
    * the documents.
    */
  private def representatives(docs: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    spread(
      docs
        .groupBy(md5(col(textCol)))
        .agg(
          min(col(idCol)).as("rep_id"),
          collect_list(col(idCol)).as("members"),
          any_value(col(textCol)).as(textCol)))
      .select(
        col("rep_id"),
        col("members"),
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n).as("sh"))

  /** The sid encoder shared by the inverted-index miners and
    * [[buildNearDupIndex]]. `sets` holds (idCol, sh); returns the
    * shingle df counts, the sid table (shingle, sid) of the kept space,
    * and the arrays frame (idCol, osh, sh_size) — each set's kept sids,
    * sorted — holding only sets with a kept shingle.
    *
    * df-prune, then recount per-set sizes over SURVIVING shingles so the
    * Jaccard is exact within the pruned shingle space (see
    * [[ngramJaccardPairs]]). The df count is a groupBy aggregation, NOT
    * count().over(Window): a window has no map-side partial aggregation,
    * so every posting of a stop-shingle would land on ONE task before the
    * prune could drop it — a single-task OOM at corpus scale. groupBy
    * compresses each shingle to one (shingle, count) row per mapper; the
    * heavy-hitter set (df > maxDf) is then at most |postings|/maxDf
    * distinct keys, so it broadcasts, and the anti join drops hot
    * postings map-side before the encode join shuffles them.
    *
    * DICTIONARY-ENCODE the kept shingle space as dense INTEGER ids in
    * (df, shingle) order before building the arrays. The candidate join
    * hashes each prefix element and the verifier intersects whole arrays
    * — doing both over ~30-char strings was the suite's dominant CPU
    * (x06 70 s, x14 83 s at sf0.1). A dense rank is a BIJECTION kept-
    * shingle → int, so intersection sizes are provably unchanged (no
    * hash-collision caveat), int arrays are several× smaller through the
    * verify joins, and ascending-int sort order IS the rarest-first
    * (df, shingle) order the prefix lemma runs on ([[prefixSids]]). Sids
    * come from the two-phase [[GlobalRank]], so no single-partition
    * window.
    */
  private def encodeSids(sets: DataFrame, maxDf: Int, idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val postings = sets.select(col(idCol), explode(col("sh")).as("shingle"))
    val dfCounts = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    val hot = dfCounts.where(col("df") > maxDf).select("shingle")
    val sids = GlobalRank
      .withGlobalRank(dfCounts.where(col("df") <= maxDf), Seq(col("df"), col("shingle")), "sid")
      .select(col("shingle"), col("sid").cast("int").as("sid"))
    val arrays = postings
      .join(broadcast(hot), Seq("shingle"), "left_anti")
      .join(sids, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("sid"))).as("osh"))
      .select(col(idCol), col("osh"), size(col("osh")).as("sh_size"))
    (dfCounts, sids, arrays)
  }

  /** The pair miners' index: [[representatives]] with their sid arrays,
    * (rep_id, members, osh, sh_size), one row per class whose shingle
    * set survived the df prune non-empty. Two owned checkpoints: the
    * representatives feed the df count, the sid table and the encode
    * join, and the index feeds both candidate sides, both verification
    * sides and the within-class fan-out.
    */
  private def sidClasses(docs: DataFrame, n: Int, maxDf: Int, idCol: String, textCol: String): DataFrame = {
    val reps = representatives(docs, n, idCol, textCol).localCheckpoint()
    val (_, _, arrays) = encodeSids(reps, maxDf, "rep_id")
    arrays.join(reps.select(col("rep_id"), col("members")), "rep_id").localCheckpoint()
  }

  /** One verification side of the [[sidClasses]] index, prefixed `p`. */
  private def classSide(classes: DataFrame, p: String): DataFrame =
    classes.select(
      col("rep_id").as(s"${p}_id"),
      col("osh").as(s"${p}_sh"),
      col("sh_size").as(s"${p}_size"),
      col("members").as(s"${p}_members"))

  /** PREFIX FILTERING (AllPairs / PPJoin, Bayardo et al. WWW'07 and Xiao
    * et al. WWW'08), the prefix of the sorted sid array `osh` of size
    * `sh_size`: under any global total order on shingles, two sets with
    * Jaccard ≥ t must share an element within their first
    * p = |S| − ⌈t·|S|⌉ + 1 shingles (and C(A,B) ≥ t forces an element of
    * B within A's first p) — so only the PREFIX needs to enter the
    * inverted index. Ordering by ascending document frequency puts the
    * RAREST shingles in the prefix, which is what collapses the candidate
    * count: a shingle's index bucket mines df²/2 pairs, and the prefix
    * keeps exactly the shingles with the smallest df. Measured at sf0.1
    * (5000 distinct docs, ~52 shingles/doc, t=0.5): 409k candidate pairs
    * vs 2.79M co-occurrence rows for the count-every-co-occurrence join
    * this replaced — 6.8× less quadratic output, bit-identical result.
    * The shape is chosen for the 100× case, where the old join's Σdf²
    * mass concentrates in near-maxDf shingles that a rarest-first prefix
    * excludes unless they are among a doc's (1−t) rarest.
    *
    * The length uses t−1e−6 so a pair whose UNROUNDED score sits a hair
    * below t but rounds up to it at 6 dp (the registered comparison)
    * still satisfies the lemma's premise.
    */
  private def prefixSids(threshold: Double): Column = {
    val length = col("sh_size") - ceil(col("sh_size") * lit(threshold - 1e-6) - lit(1e-9)) + 1
    slice(col("osh"), lit(1), greatest(lit(1), length.cast("int")))
  }

  /** Member-level pairs from verified representative pairs (a_id, b_id,
    * `score`, a_members, b_members): every member pair across two
    * classes inherits its representatives' score, a function of the texts
    * alone, and each class of `dupClasses` (rep_id, members) adds its
    * within-class pairs at 1.0 (exact duplicates). `symmetric` emits
    * a_id < b_id; otherwise the pair keeps its orientation and a ≠ b.
    */
  private def fanOut(
      repPairs: DataFrame,
      dupClasses: DataFrame,
      score: String,
      symmetric: Boolean
  ): DataFrame = {
    val ends =
      if (symmetric) Seq(least(col("a_m"), col("b_m")), greatest(col("a_m"), col("b_m")))
      else Seq(col("a_m"), col("b_m"))
    val cross = repPairs
      .select(explode(col("a_members")).as("a_m"), col("b_members"), col(score))
      .select(col("a_m"), explode(col("b_members")).as("b_m"), col(score))
      .select(ends(0).as("a_id"), ends(1).as("b_id"), col(score))
    val within = dupClasses
      .select(explode(col("members")).as("a_id"), col("members"))
      .select(col("a_id"), explode(col("members")).as("b_id"))
      .where(if (symmetric) col("a_id") < col("b_id") else col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as(score))
    cross.unionByName(within)
  }

  /** `pairs` with a_id and b_id as nullable as the input's id column:
    * ids exploded from a collected member list are typed non-null, and
    * the inverted-index miners' output schema follows their input's.
    */
  private def asInputIds(pairs: DataFrame, docs: DataFrame, idCol: String): DataFrame =
    if (!docs.schema(idCol).nullable) pairs
    else {
      def nullable(c: String) =
        GraftSqlBridge.column(KnownNullable(GraftSqlBridge.expression(col(c)))).as(c)
      pairs.select(nullable("a_id"), nullable("b_id"), col(pairs.columns(2)))
    }

  /** MinHash-LSH near-dup candidate pairs, verified with exact Jaccard.
    *
    * k = numHashes = bands * rowsPerBand. Docs sharing ≥1 identical band of
    * the signature become candidates; candidates are verified against the
    * true shingle-set Jaccard and filtered at `threshold`. With (bands=16,
    * rowsPerBand=8) the LSH S-curve is steep around j≈0.8.
    *
    * EXACT-DUPLICATE PRE-COLLAPSE (the LSH skew guard): identical texts
    * band identically, so banding every member of an m-copy class puts m
    * rows in each of its band buckets and the candidate join mines m²/2
    * pairs per class — then verifies each with an array_intersect over the
    * full shingle sets. Web corpora are full of exact duplicates (boiler-
    * plate, mirrored pages), so at 100 TB one popular page is a quadratic
    * hot bucket. Instead: collapse each distinct text (md5 class) to its
    * min-id representative, run banding + verification on representatives
    * only, then fan members back out AFTER verification — within-class
    * pairs are exact duplicates (Jaccard 1 by definition, no verification
    * needed), and a cross-class member pair inherits its representatives'
    * verified Jaccard because Jaccard is a function of the texts alone.
    * Candidate volume becomes quadratic in DISTINCT texts per bucket, never
    * in copies; the (inherent) quadratic output of a duplicate class is
    * emitted by exploding the member list the representative carries from
    * the collapse, not mined from band buckets.
    */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    // ONE representative frame feeds every later step: the eager
    // localCheckpoint evaluates the shingles and the band signature once.
    // Both sides of the band join, the two verification joins and both
    // fan-outs read it, so no step goes back to the documents.
    val reps = representatives(docs, n, idCol, textCol)
      // (band_id, band_hash) source in ONE expression evaluation per doc:
      // MinHashBands computes the k-hash signature internally and emits the
      // per-band fold, so no projection rewrite can duplicate the signature
      // computation (see MinHashBands scaladoc for the failure mode). NULL
      // for a doc too short to shingle, which then never bands.
      .withColumn("sig_bands",
        when(size(col("sh")) > 0, GraftFunctions.minhashBands(col("sh"), bands, rowsPerBand)))
      .localCheckpoint()

    val banded = reps.select(
      col("rep_id"), posexplode(col("sig_bands")).as(Seq("band_id", "band_hash")))
    val candidates = banded
      .select(col("rep_id").as("a_id"), col("band_id"), col("band_hash"))
      .join(banded.select(col("rep_id").as("b_id"), col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    // verification fetches each side's members along with its shingles
    def side(p: String) =
      reps.select(col("rep_id").as(s"${p}_id"), col("sh").as(s"${p}_sh"), col("members").as(s"${p}_members"))
    val repPairs = candidates
      .join(side("a"), "a_id")
      .join(side("b"), "b_id")
      .withColumn(
        "jac",
        round(
          jaccard(
            size(col("a_sh")),
            size(col("b_sh")),
            size(array_intersect(col("a_sh"), col("b_sh")))),
          6))
      .where(col("jac") >= threshold)
    // within-class pairs come from classes with copies whose shingle set
    // is non-empty — the banding path's guard (a doc too short to shingle
    // never pairs)
    fanOut(repPairs, reps.where(size(col("members")) > 1 && size(col("sh")) > 0), "jac", symmetric = true)
  }

  /** SimHash near-dup pairs: 64-bit signature per doc (map-side expression),
    * 4×16-bit band blocking (any pair within Hamming distance ≤3 shares at
    * least one exact band), verified with bit_count(xor) ≤ maxHamming.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sig = spread(docs.select(col(idCol), col(textCol))).select(
      col(idCol),
      GraftFunctions.simhash64(TextAnalysis.tokens(col(textCol))).as("sim")
    )
    hammingBandPairs(sig, maxHamming, idCol)
  }

  /** SimHash near-dup pairs over the MD5-derived signature
    * ([[graft.functions.SimHashMd5Bands]]) — identical blocking and
    * verification to [[simhashPairs]], but every bit of the signature is
    * reproducible in any engine with `md5()`, so this variant carries a
    * full DuckDB oracle (x28) instead of a spec-only golden. The 64-bit
    * signature is reassembled from the four bands (band 0 = most
    * significant 16 bits).
    */
  def simhashMd5Pairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sig = spread(docs.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        GraftFunctions.simhashMd5Bands(TextAnalysis.tokens(col(textCol))).as("b")
      )
      .select(
        col(idCol),
        (shiftleft(element_at(col("b"), 1).cast("long"), 48) bitwiseOR
          shiftleft(element_at(col("b"), 2).cast("long"), 32) bitwiseOR
          shiftleft(element_at(col("b"), 3).cast("long"), 16) bitwiseOR
          element_at(col("b"), 4).cast("long")).as("sim")
      )
    hammingBandPairs(sig, maxHamming, idCol)
  }

  /** Band-blocked Hamming join shared by the simhash variants AND the
    * image-aHash near-dup path (x30): 4×16-bit bands of `sim`, so any pair
    * within Hamming distance ≤3 shares at least one exact band (pigeonhole
    * — zero false negatives), then exact verification with bit_count(xor).
    * Input: (idCol, sim: long).
    */
  def hammingPairs(sig: DataFrame, maxHamming: Int, idCol: String): DataFrame =
    hammingBandPairs(sig, maxHamming, idCol)

  private def hammingBandPairs(sig: DataFrame, maxHamming: Int, idCol: String): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only for hamming <= 3")
    val bandVals = (0 until 4).map(b =>
      shiftright(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = sig
      .select(
        col(idCol),
        col("sim"),
        posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val"))
      )
      .localCheckpoint(eager = false)
    val l = banded.select(col(idCol).as("a_id"), col("sim").as("a_sim"), col("band_id"), col("band_val"))
    val r = banded.select(col(idCol).as("b_id"), col("sim").as("b_sim"), col("band_id"), col("band_val"))
    l.join(r, Seq("band_id", "band_val"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sim", "b_sim")
      .distinct()
      .withColumn("hamming", GraftFunctions.hamming64(col("a_sim"), col("b_sim")))
      .where(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs. Auto-selects the pair-generation
    * strategy by corpus size (`knownCount` if the caller has one, else the
    * optimizer's row-count statistic when defined, else a ZERO-JOB
    * estimate from its size statistic over a schema-derived bytes-per-row
    * with `vecDim` as the array width — never a count scan, see the body
    * comment):
    *   - n ≤ `lshAbove`: exact all-pairs block-nested-loop
    *     ([[embeddingNearDupPairsExact]]) — below ~10⁵ docs the quadratic
    *     pair space (≤ ~10¹⁰ codegen'd cosines across the cluster) is
    *     cheaper than LSH's table fan-out, and the result is exact;
    *   - n > `lshAbove`: sign-random-projection blocking
    *     ([[embeddingNearDupPairsLsh]]) with `bitsPerTable` grown as
    *     log₂(n / targetBucket) so expected bucket size stays ~2k docs —
    *     the 100 TB path: candidate volume scales ~linearly in n instead
    *     of quadratically.
    * Both branches verify candidates with the exact codegen'd cosine, so
    * precision is always exact; only LSH recall is probabilistic (see
    * [[embeddingNearDupPairsLsh]] for the recall math).
    */
  def embeddingNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      lshAbove: Long = 100000L,
      knownCount: Long = -1L,
      vecDim: Int = 64
  ): DataFrame = {
    // The branch is a POSTURE choice (both branches are correct), so it
    // must not cost a scan job to make. Resolution order:
    //   1. `knownCount` — callers with an exact count (an ingest ledger,
    //      catalog stats) pass it; this is ALSO the escape hatch for
    //      callers whose RESULT must be layout-independent, since the
    //      byte fallback below depends on storage encoding.
    //   2. The optimizer's ROW-COUNT statistic when it is defined (CBO
    //      stats, a cached relation, a local relation) — exact or
    //      near-exact, and layout-independent.
    //   3. sizeInBytes / schema-derived bytes-per-row — for a fresh
    //      parquet relation sizeInBytes is the file-listing byte total
    //      (zero jobs). The divisor is computed from the ACTUAL schema
    //      (`vecDim` × element size for array columns + fixed field
    //      sizes), so a 768-dim corpus with vecDim passed correctly no
    //      longer over-counts n ~12× the way a hard-coded 256 B divisor
    //      did. Residual bias: parquet compression makes sizeInBytes an
    //      UNDER-estimate of in-memory bytes, so n is UNDER-estimated —
    //      which leans toward the exact branch; `lshAbove`'s 10× margin
    //      below the ~10⁶-row pain point absorbs that lean, and callers
    //      above it should pass knownCount rather than trust a
    //      storage-layout estimate.
    val n: Long =
      if (knownCount >= 0L) knownCount
      else {
        val stats = emb.queryExecution.optimizedPlan.stats
        stats.rowCount match {
          case Some(rc) => rc.min(BigInt(Long.MaxValue)).toLong.max(1L)
          case None =>
            val bytesPerRow = math.max(1L, emb.schema.fields.map { f =>
              f.dataType match {
                case ArrayType(et, _) => vecDim.toLong * et.defaultSize + 8L
                case dt               => dt.defaultSize.toLong
              }
            }.sum)
            (stats.sizeInBytes / bytesPerRow)
              .min(BigInt(Long.MaxValue)).toLong.max(1L)
        }
      }
    if (n <= lshAbove)
      embeddingNearDupPairsExact(emb, threshold, idCol, vecCol)
    else {
      val bits = math.max(2, math.ceil(
        math.log(n.toDouble / 2000.0) / math.log(2.0)).toInt)
      embeddingNearDupPairsLsh(emb, threshold, bitsPerTable = bits, idCol = idCol, vecCol = vecCol)
    }
  }

  /** Exact all-pairs formulation (the small-corpus branch of
    * [[embeddingNearDupPairs]] and the correctness baseline the LSH branch
    * is spec-tested against).
    */
  def embeddingNearDupPairsExact(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val a = spread(emb.select(col(idCol).as("a_id"), col(vecCol).as("a_vec")))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"))
    // broadcast side PINNED (the Similarity.bruteForceTopK posture): left
    // to size estimates, the planner can flip the nested-loop build side
    // and stream the UNSPREAD parquet side — one scan task then carries
    // the whole O(n²) cosine loop (observed in the r15 before-bench: x11
    // wall 4.15 s ≈ cpu 4.38 s, one busy core of 32). Pinning b as the
    // broadcast keeps the spread side streamed, so the pair loop always
    // inherits the repartition's parallelism.
    // INPUT-SIZE CEILING (r16, ADVICE): the pin is safe by construction —
    // this exact variant is only reachable through embeddingNearDupPairs'
    // size gate (n ≤ lshAbove, default 10⁵ rows ≈ tens of MB of vectors,
    // far under the 8 GB / 512M-row broadcast cap); a caller invoking
    // embeddingNearDupPairsExact DIRECTLY on an unbounded corpus accepts
    // the broadcast of b as its stated contract (the all-pairs O(n²)
    // cosine loop is the scale wall long before the broadcast is).
    a.crossJoin(broadcast(b))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos", round(GraftFunctions.cosineSim(col("a_vec"), col("b_vec")), 6))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Embedding-cosine near-dup pairs with sign-random-projection blocking —
    * the 100 TB path: candidates are generated only for pairs that share a
    * bucket in at least one of `tables` independent RP hash tables
    * (OR-amplification), then verified with the exact codegen'd cosine, so
    * precision is always exact and only recall is probabilistic.
    *
    * Recall math: a pair at angle θ collides in one table with probability
    * (1−θ/π)^bitsPerTable; missing ALL tables has probability
    * (1−(1−θ/π)^b)^L. At cos=0.45 (θ≈1.10 rad) with the defaults
    * (b=2, L=24) that is ≈2·10⁻⁶ per pair — and the planes are
    * deterministic functions of `seed`, so a verified corpus stays verified.
    * Raise `bitsPerTable` as the corpus grows to keep buckets small (bucket
    * count per table = 2^b); raise `tables` to push recall.
    */
  def embeddingNearDupPairsLsh(
      emb: DataFrame,
      threshold: Double,
      tables: Int = 24,
      bitsPerTable: Int = 2,
      seed: Int = 42,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    bandedNearDupPairs(
      emb, threshold, idCol, vecCol,
      v => GraftFunctions.rpBuckets(v, tables, bitsPerTable, seed))

  /** [[embeddingNearDupPairsLsh]]'s ORACLE-GRADE twin (x113) — the x91
    * posture applied to the SELF-join near-dup miner: identical banding
    * shape (multi-table sign-LSH, shared-bucket a<b equi-join, exact 6-dp
    * cosine ≥ threshold) but with bucket assignment in exact integer
    * arithmetic ([[graft.functions.IntLshBuckets]]: floor-1000
    * quantization, hash40-derived planes in [−1000, 1000], BIGINT dots),
    * so a SQL engine replays EVERY bucket — and therefore the exact
    * candidate set and the exact surviving pairs — bit-for-bit. A hash
    * match certifies the banded candidate GENERATION of the 100 TB
    * near-dup path, which the spec-only ≡-exact check could not. Same
    * scale law: candidate volume ≈ L·n²/2^b per table worst case but
    * ~L·n·bucketSize in practice, never all-pairs; recall at angle θ is
    * 1−(1−(1−θ/π)^b)^L — high-cosine (true-duplicate) pairs are the ones
    * LSH keeps best.
    */
  def embeddingNearDupPairsIntLsh(
      emb: DataFrame,
      threshold: Double,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    bandedNearDupPairs(
      emb, threshold, idCol, vecCol,
      v => GraftFunctions.intLshBuckets(v, tables, bitsPerTable))

  /** Shared banding skeleton of the two near-dup miners above: bucket via
    * `bucketsOf` (one codegen'd expression evaluation per vector, all
    * tables at once), shared-bucket a<b candidate join, distinct, exact
    * 6-dp cosine verify ≥ threshold.
    */
  private def bandedNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      idCol: String,
      vecCol: String,
      bucketsOf: Column => Column
  ): DataFrame = {
    val base = spread(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .localCheckpoint(eager = false)
    // all tables' buckets from ONE codegen'd expression evaluation
    val bucketed = base
      .select(
        col("id"),
        posexplode(bucketsOf(col("vec"))).as(Seq("table_id", "bucket"))
      )
      .localCheckpoint(eager = false)
    val l = bucketed.select(col("id").as("a_id"), col("table_id"), col("bucket"))
    val r = bucketed.select(col("id").as("b_id"), col("table_id"), col("bucket"))
    val candidates = l
      .join(r, Seq("table_id", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val va = base.select(col("id").as("a_id"), col("vec").as("a_vec"))
    val vb = base.select(col("id").as("b_id"), col("vec").as("b_vec"))
    candidates
      .join(va, "a_id")
      .join(vb, "b_id")
      .withColumn("cos", round(GraftFunctions.cosineSim(col("a_vec"), col("b_vec")), 6))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkinson, Aiken 2003 — the MOSS
    * local fingerprinting): for every window of `w` consecutive k-gram
    * hashes, select the MINIMUM hash, ties broken by RIGHTMOST position;
    * the distinct selected (hash, pos) pairs are the document's
    * fingerprints. The winnowing guarantee: any shared substring of
    * length ≥ w + k − 1 between two documents yields at least one shared
    * fingerprint (every length-w window selects), at an expected density
    * of 2/(w+1) — the third near-dup family next to MinHash (global
    * Jaccard) and SimHash (global cosine-ish): LOCAL, position-bearing
    * matches, the primitive behind plagiarism/clone detection.
    *
    * Engine-exact selection trick: encode each gram as
    * `h · 2²⁰ + (2²⁰ − 1 − pos)` — the window MIN of the encoding is the
    * min-hash with rightmost-position tie-break in ONE ordinary `min`
    * frame window, identical in Spark and any SQL engine (h is the 40-bit
    * [[graft.operators.DistinctSketch.hash40]]; pos < 2²⁰ is enforced, a
    * per-document gram cap far above real documents).
    *
    * Documents with fewer than `w` grams select nothing (no full window
    * exists) — they are exact-dedup territory by construction.
    *
    * 100 TB shape: ONE doc-keyed exchange; the frame window runs inside
    * each document's sorted run (bounded by document length, the x22
    * doc-bounded-window posture), everything before it is map-side
    * (tokenize → gram → hash → encode).
    */
  def winnowFingerprints(
      docs: DataFrame,
      k: Int,
      w: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    // materialize the gram arrays BEFORE the generator (the §8.4 trap
    // ngramNovelty documents: a live gram expression under posexplode
    // re-runs the tokenize/slice/concat pipeline interpreted per exploded
    // row — measured 10.8 s → ~3 s at sf0.1 here); the checkpoint's
    // blocks are dropped by the ContextCleaner once the plan is
    // unreferenced.
    // spread() first — the x34 rule: the tokenize→gram stage is the CPU
    // cost and must not inherit the scan's file-count parallelism (one
    // parquet file = one task = wall ≈ cpu on a 32-core host, measured
    // 8.25 s wall / 9.9 s cpu at sf0.1 before this line)
    val sized = spread(docs)
      .select(
        col(idCol),
        TextAnalysis.rawNgrams(TextAnalysis.tokens(col(textCol)), k).as("grams"))
      .localCheckpoint(eager = false)
    val grams = sized
      // n_grams rides along from the array size — not a second
      // full-partition count window over the exploded rows
      .select(
        col(idCol), size(col("grams")).as("n_grams"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .where(col("pos") < lit(1 << 20))
      .withColumn(
        "enc",
        DistinctSketch.hash40(col("gram")) * lit(1L << 20)
          + (lit((1L << 20) - 1) - col("pos")))
    val fw = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val sel = grams
      .withColumn("sel", min(col("enc")).over(fw.rowsBetween(0, w - 1)))
      .where(col("pos") <= col("n_grams") - w)
    sel
      .select(
        col(idCol),
        expr(s"sel div ${1L << 20}L").as("fp_hash"),
        (lit((1L << 20) - 1) - expr(s"sel % ${1L << 20}L")).cast("int").as("fp_pos"))
      .distinct()
  }

  /** Incremental-ingest classification — the dedup decision a CONTINUOUSLY
    * GROWING corpus makes per new batch: for each incoming document,
    * is it an exact copy of something already indexed, a near-duplicate
    * of it, or genuinely novel? (The batch-at-rest operators x01/x06
    * answer "what duplicates exist"; this answers "what should this
    * delivery add", the question an ingestion pipeline actually asks.)
    *
    * Classification, in precedence order:
    *   - `exact`: byte-identical text exists in the index (md5 digest
    *     equi-join — ONE digest-keyed shuffle, never text);
    *   - `near`:  some indexed doc clears the n-gram Jaccard threshold
    *     ([[ngramJaccardPairs]] over the two-sided union — the inverted
    *     shingle index + df prune + exact verify machinery, reused
    *     verbatim; only cross-side pairs count);
    *   - `novel`: neither.
    * `match_id` is the LOWEST matching index id under the winning class —
    * deterministic, and the natural "attach to existing cluster" key.
    *
    * Requires disjoint id spaces between batch and index (ingestion ids
    * are monotone in practice). Scale shape: everything is keyed joins
    * and the already-bounded pair mining; the classification itself is
    * two id-keyed LEFT joins. This from-scratch posture re-mines the
    * index side per delivery — the amortized production posture is
    * [[buildNearDupIndex]] + [[incrementalClassifyIndexed]], which hoist
    * the index-side mining into a one-time build.
    */
  def incrementalClassify(
      newDocs: DataFrame,
      index: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val newD = newDocs.select(col(idCol).as("new_id"), col(textCol).as("new_text"))
    val idxD = index.select(col(idCol).as("old_id"), col(textCol).as("old_text"))

    val exact = newD
      .select(col("new_id"), md5(col("new_text")).as("dg"))
      .join(idxD.select(md5(col("old_text")).as("dg"), col("old_id")), "dg")
      .groupBy("new_id")
      .agg(min(col("old_id")).as("exact_match"))

    val pairs = ngramJaccardPairs(
      newD.select(col("new_id").as(idCol), col("new_text").as(textCol))
        .unionAll(idxD.select(col("old_id").as(idCol), col("old_text").as(textCol))),
      n, threshold, maxDf, idCol, textCol)
    val near = pairs
      // both orientations from ONE scan of the pair-mining subtree (the
      // connectedComponents single-scan trick) — a unionAll of two
      // selects would evaluate the miner twice
      .select(
        explode(
          array(
            struct(col("a_id").as("x"), col("b_id").as("y")),
            struct(col("b_id").as("x"), col("a_id").as("y"))
          )).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .join(newD.select(col("new_id")), col("x") === col("new_id"))
      .join(idxD.select(col("old_id")), col("y") === col("old_id"))
      .groupBy("new_id")
      .agg(min(col("old_id")).as("near_match"))

    newD
      .select(col("new_id"))
      .join(exact, Seq("new_id"), "left")
      .join(near, Seq("new_id"), "left")
      .select(
        col("new_id").as(idCol),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** N-gram CONTAINMENT pairs — Broder's asymmetric resemblance relation
    * (SEQUENCES '97): C(A,B) = |S(A) ∩ S(B)| / |S(A)|, the fraction of
    * A's shingles that also appear in B. High containment at low Jaccard
    * is the QUOTE/EXCERPT signature — a short document embedded in a much
    * longer one (press-release reposts, quoted answers, boilerplate-
    * wrapped articles), invisible to every symmetric miner in the engine
    * (x06 Jaccard, x07 MinHash, x08 SimHash, x74 winnowing summarize
    * resemblance, and a 50-shingle doc inside a 5000-shingle doc has
    * Jaccard ≤ 0.01). Emits ORDERED pairs (a contained-in b, a ≠ b).
    *
    * Mining uses the one-sided prefix bound: under any global total order
    * on shingles, C(A,B) ≥ t forces an element of B within A's first
    * |S(A)| − ⌈t·|S(A)|⌉ + 1 shingles — so only the CONTAINED side
    * explodes a prefix; the containing side is probed through its full
    * (df-pruned) postings. With rarest-first sid order the prefix holds
    * A's lowest-df shingles, so candidate volume is Σ_sid dfPrefix(sid) ·
    * df(sid), bounded by the maxDf prune — never |A|·|B| and never
    * all-pairs. Like x06, `maxDf` freezes the result to the EXACT
    * containment over the df ≤ maxDf shingle space (sizes recounted after
    * the prune, numerator and denominator agree).
    *
    * Exact-duplicate pre-collapse, same skew guard as x06/x07: mining
    * runs on one min-id representative per distinct text; members fan
    * back out AFTER verification (identical texts contain each other at
    * 1.0 — emitted both directions for classes whose pruned shingle set
    * is non-empty; cross-class ordered pairs inherit their
    * representatives' containment, a function of the texts alone).
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val classes = sidClasses(docs, n, maxDf, idCol, textCol)
    // only the contained side explodes a prefix; the containing side is
    // probed through its full kept postings
    val prefixA = classes.select(col("rep_id").as("a_id"), explode(prefixSids(threshold)).as("sid"))
    val fullB = classes.select(col("rep_id").as("b_id"), explode(col("osh")).as("sid"))
    val candidates = prefixA
      .join(fullB, Seq("sid"))
      .where(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val repPairs = candidates
      .join(classSide(classes, "a"), "a_id")
      .join(classSide(classes, "b"), "b_id")
      .withColumn(
        "cont",
        round(
          size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") / col("a_size").cast("double"),
          6))
      .where(col("cont") >= threshold)
    val dupClasses = classes.where(size(col("members")) > 1 && lit(threshold) <= 1.0)
    asInputIds(fanOut(repPairs, dupClasses, "cont", symmetric = false), docs, idCol)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023 — "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * the EMBEDDING-space dedup POLICY that turns x11's cosine pair miner
    * into a keep/drop decision — documents whose embeddings clear the
    * cosine threshold form semantic-duplicate groups (transitively, via
    * connected components — SemDeDup's within-cluster pruning closure),
    * and each group keeps exactly ONE representative: the minimum id,
    * the same deterministic canonical-keep rule as x44. Text-identical
    * docs are a special case (cosine 1); the semantic layer additionally
    * collapses paraphrases/translations/re-renders that every
    * shingle-based family misses.
    *
    * Output per embedding row: (vec_id, root_id, keep) — root_id the
    * component minimum (itself for singletons), keep = (vec_id ==
    * root_id). The kept set is a pure function of the corpus: rerunning
    * on any partitioning keeps the same rows.
    *
    * 100 TB shape: pair mining is [[embeddingNearDupPairs]]'s auto
    * exact↔LSH posture (never all-pairs above the cutover), components
    * are [[Cluster.connectedComponents]]'s one-shuffle-per-round
    * min-label propagation, and the policy itself is ONE left join +
    * map-side comparison.
    */
  def semanticDedup(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    rootsFromPairs(emb, embeddingNearDupPairs(emb, threshold, idCol, vecCol), idCol)

  /** [[semanticDedup]] with [[embeddingNearDupPairsIntLsh]] as the pair
    * miner — the fully-banded, ORACLE-REPLAYABLE form of the SemDeDup
    * policy (the roots stage of x112): integer-LSH candidates → exact
    * cosine ≥ threshold → connected components → min-id keeper, every
    * stage of which a SQL engine can recompute bit-for-bit. Recall of the
    * duplicate classes follows the banding math in
    * [[embeddingNearDupPairsIntLsh]] (true duplicates sit at high cosine,
    * where table collision probability is highest).
    */
  def semanticDedupIntLsh(
      emb: DataFrame,
      threshold: Double,
      tables: Int = 8,
      bitsPerTable: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    rootsFromPairs(
      emb,
      embeddingNearDupPairsIntLsh(emb, threshold, tables, bitsPerTable, idCol, vecCol),
      idCol)

  /** The keep/drop tail shared by the SemDeDup variants: components over
    * the mined pairs, then ONE left join attaches (root_id, keep) to every
    * corpus row (singletons root to themselves).
    */
  private def rootsFromPairs(emb: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comps = Cluster.connectedComponents(pairs)
    emb
      .select(col(idCol))
      .join(comps.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("comp"), col(idCol)).as("root_id"),
        (coalesce(col("comp"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** The persisted near-dup index artifact for amortized incremental
    * ingest — everything [[incrementalClassifyIndexed]] needs per
    * delivery, built ONCE by [[buildNearDupIndex]] from the at-rest
    * corpus (and, in production, written as bucketed parquet):
    *
    *   - `digests`:  (text_md5, min_old_id) — one row per distinct index
    *     text; the exact-match side AND the per-class lowest index id;
    *   - `lookup`:   (shingle, sid, in_stop) — the FROZEN shingle
    *     statistics: every index shingle, with its dense integer id in
    *     (index-df, shingle) order when kept (df ≤ maxDf) or
    *     `in_stop = true` when stop-listed. One row per distinct shingle
    *     — at scale this is the frame to bucket by `shingle` so each
    *     delivery's posting lookup shuffles only the delivery side;
    *   - `arrays`:   (old_id, osh, sh_size) — per distinct index text,
    *     the sorted kept-sid array and its size (the verification side);
    *   - `prefixes`: (sid, old_id) — the AllPairs/PPJoin prefix postings
    *     of every index class under `threshold` (candidate side; bucket
    *     by `sid` in production).
    *
    * All four frames are persisted MEMORY_AND_DISK by the builder.
    */
  final case class NearDupIndex(
      n: Int,
      threshold: Double,
      maxDf: Int,
      digests: DataFrame,
      lookup: DataFrame,
      arrays: DataFrame,
      prefixes: DataFrame
  ) {
    /** Release the four persisted frames (blocking=false): call when the
      * index is replaced so its cached partitions don't linger until the
      * ContextCleaner happens to collect the frame references. */
    def unpersistAll(): Unit = {
      digests.unpersist(); lookup.unpersist(); arrays.unpersist(); prefixes.unpersist()
    }
  }

  /** One-time index build for [[incrementalClassifyIndexed]] — hoists the
    * index-side mining that [[incrementalClassify]] re-runs per delivery
    * (x67's whole per-run cost at 100 TB is re-shingling the at-rest
    * corpus) into a reusable artifact. Semantics are FROZEN-INDEX: the
    * document-frequency statistics (stop set, prefix order) are fixed at
    * build time from the index's distinct texts — a delivery never
    * re-weights them. This is the posture real ingestion pipelines run
    * (the corpus defines the statistics; a daily delivery is noise
    * against 100 TB), and it diverges from the from-scratch union
    * semantics of [[incrementalClassify]] only when a delivery would push
    * a shingle's union df across `maxDf` (spec-pinned: equality whenever
    * no stop-flip occurs, which is always at gate corpus sizes).
    */
  def buildNearDupIndex(
      index: DataFrame,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): NearDupIndex = {
    // one shuffle carries each text once: distinct-text classes keep
    // min id + the text itself
    val reps = index
      .select(col(idCol), col(textCol))
      .groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("old_id"), any_value(col(textCol)).as("__text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val digests = reps
      .select(col("text_md5"), col("old_id").as("min_old_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shingled = withShingles(
      reps.select(col("old_id").as(idCol), col("__text").as(textCol)),
      n, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // frozen df over distinct index texts, encoded in the same rarest-
    // first sid order the pair miners mine under
    val (dfCounts, sids, sidArrays) =
      encodeSids(shingled.select(col(idCol).as("old_id"), col("sh")), maxDf, "old_id")
    val lookup = dfCounts
      .join(sids, Seq("shingle"), "left")
      .select(col("shingle"), col("sid"), (col("df") > maxDf).as("in_stop"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val arrays = sidArrays.persist(StorageLevel.MEMORY_AND_DISK)
    val prefixes = arrays
      .select(col("old_id"), explode(prefixSids(threshold)).as("sid"))
      .select(col("sid"), col("old_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // MATERIALIZE the artifact before releasing reps: persist/unpersist is
    // bookkeeping, and an unpersist here with the four frames still lazy
    // would mean the first delivery recomputes the full-index md5 groupBy
    // instead of reading the cache the build paid to declare. Eager build
    // is also the posture's point — the one-time cost belongs here.
    digests.count(); lookup.count(); arrays.count(); prefixes.count()
    reps.unpersist()
    shingled.unpersist()
    NearDupIndex(n, threshold, maxDf, digests, lookup, arrays, prefixes)
  }

  /** Per-delivery classification against a [[buildNearDupIndex]] artifact
    * — [[incrementalClassify]]'s output contract (doc_id, status exact >
    * near > novel, match_id = lowest matching index id) at the amortized
    * cost: ONLY the delivery is shingled; the index contributes four
    * keyed joins against its persisted frames.
    *
    * Per-delivery plan (delivery d ≪ index I):
    *   1. exact: d's digests join `digests` — one md5-keyed join;
    *   2. delivery-ONLY classes (anti join on digest) are shingled and
    *      joined ONCE against `lookup` — stop shingles drop, kept-seen
    *      shingles take their sid, kept-UNSEEN shingles stay with null
    *      sid and count toward the set size but never the intersection
    *      (no index doc contains them — they only dilute Jaccard's
    *      denominator, exactly as the union semantics would);
    *   3. candidates: d's prefix sids join `prefixes` — the delivery
    *      side carries an explicit `broadcast()` hint, so the probe is a
    *      pinned map-side BroadcastHashJoin of the index postings, no
    *      index shuffle (asserted by DedupSpec's plan check);
    *   4. verify: candidate pairs pull d's and the index's sid arrays by
    *      key and intersect — jac = common/(|A|+|B|−common), rounded 6dp,
    *      thresholded, min index id per class, fanned to class members.
    *
    * New docs whose text exists in the index classify `exact` without
    * entering near mining at all (their near match is shadowed by
    * precedence in [[incrementalClassify]] too, so outputs agree);
    * new-vs-new near pairs never classify, same as x67. Requires disjoint
    * id spaces, same as [[incrementalClassify]].
    */
  def incrementalClassifyIndexed(
      newDocs: DataFrame,
      idx: NearDupIndex,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val newD = newDocs.select(col(idCol).as("new_id"), col(textCol).as("new_text"))
    val classes = newD
      .groupBy(md5(col("new_text")).as("text_md5"))
      .agg(min(col("new_id")).as("new_rep"), any_value(col("new_text")).as("new_text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = newD.select(md5(col("new_text")).as("text_md5"), col("new_id"))
    val exact = members
      .join(idx.digests, "text_md5")
      .select(col("new_id"), col("min_old_id").as("exact_match"))
    val dOnly = classes
      .join(idx.digests.select("text_md5"), Seq("text_md5"), "left_anti")
    val dPost = withShingles(
      dOnly.select(col("new_rep").as(idCol), col("new_text").as(textCol)),
      idx.n, idCol, textCol)
      .select(col(idCol).as("new_rep"), explode(col("sh")).as("shingle"))
    // ONE shingle-keyed lookup join: in_stop → drop; sid → seen; no match
    // → kept-unseen (sid null). collect_list skips nulls, count doesn't.
    val sized = dPost
      .join(idx.lookup, Seq("shingle"), "left")
      .where(coalesce(col("in_stop"), lit(false)) === lit(false))
      .groupBy("new_rep")
      .agg(
        count(lit(1)).as("sh_size"),
        sort_array(collect_list(col("sid"))).as("osh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // prefix under the shared frozen order, unseen-last: slice clamps at
    // the array end, so a prefix reaching into unseen territory simply
    // contributes fewer probe sids (unseen shingles can't collide anyway)
    val dPrefix = sized.select(col("new_rep"), explode(prefixSids(idx.threshold)).as("sid"))
    // The posture's precondition is delivery ≪ index, so the probe MUST
    // be a map-side broadcast of the delivery prefix against the index
    // postings — pinned with an explicit hint rather than left to AQE,
    // whose silent sort-merge fallback at a 100 TB index would shuffle
    // the whole postings frame.
    val candidates = broadcast(dPrefix)
      .join(idx.prefixes, "sid")
      .select("new_rep", "old_id")
      .distinct()
    val near = candidates
      .join(sized.select(col("new_rep"), col("osh").as("d_osh"), col("sh_size").as("d_size")), "new_rep")
      .join(idx.arrays.select(col("old_id"), col("osh").as("i_osh"), col("sh_size").as("i_size")), "old_id")
      .withColumn("common", size(array_intersect(col("d_osh"), col("i_osh"))))
      .withColumn(
        "jac",
        round(jaccard(col("d_size"), col("i_size"), col("common")), 6))
      .where(col("jac") >= idx.threshold)
      .groupBy("new_rep")
      .agg(min(col("old_id")).as("near_match"))
    val nearMembers = dOnly
      .select(col("text_md5"), col("new_rep"))
      .join(near, "new_rep")
      .join(members, "text_md5")
      .select(col("new_id"), col("near_match"))
    newD
      .select(col("new_id"))
      .join(exact, Seq("new_id"), "left")
      .join(nearMembers, Seq("new_id"), "left")
      .select(
        col("new_id").as(idCol),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** Persist a [[NearDupIndex]] as four BUCKETED parquet tables — the
    * at-rest form of the artifact at 100 TB, where "persisted
    * MEMORY_AND_DISK" is a per-session cache, not an artifact. Each frame
    * is bucketed (and sorted) by exactly the key
    * [[incrementalClassifyIndexed]] joins it on:
    *
    *   - `digests`  by `text_md5` (exact-match join + delivery anti-join),
    *   - `lookup`   by `shingle`  (the posting lookup — the scaladoc
    *     promise "deliveries shuffle only themselves" made concrete),
    *   - `arrays`   by `old_id`   (the verification pull),
    *   - `prefixes` by `sid`      (the candidate probe; its small-delivery
    *     fast path is the pinned broadcast, but at delivery sizes past
    *     the broadcast threshold the join falls back to shuffle — and
    *     with the bucket this fallback, too, moves zero index bytes).
    *
    * With the bucket written once, every later delivery's keyed joins
    * plan with NO Exchange on the index side — Catalyst reads the
    * bucketed scan's HashPartitioning and shuffles only the delivery
    * frames to it (NearDupBucketedSpec pins the exchange-free plan on the
    * real x75 frames). The write-time shuffle is paid once and amortized
    * over every delivery, the same trade [[Colocate]] documents.
    */
  def writeNearDupIndexBucketed(
      idx: NearDupIndex,
      buckets: Int,
      prefix: String = "graft_ndidx"
  ): Unit = {
    Colocate.writeBucketed(idx.digests, s"${prefix}_digests", "text_md5", buckets)
    Colocate.writeBucketed(idx.lookup, s"${prefix}_lookup", "shingle", buckets)
    Colocate.writeBucketed(idx.arrays, s"${prefix}_arrays", "old_id", buckets)
    Colocate.writeBucketed(idx.prefixes, s"${prefix}_prefixes", "sid", buckets)
  }

  /** Re-open a [[writeNearDupIndexBucketed]] artifact. The returned
    * frames are the bucketed TABLES themselves (no persist — the on-disk
    * bucket is the artifact; `unpersistAll()` degrades to a no-op), so
    * every [[incrementalClassifyIndexed]] join against them inherits the
    * bucket's output partitioning. The caller supplies the same
    * (n, threshold, maxDf) the index was built with — they are mining
    * parameters, not data, exactly as a production artifact would carry
    * them in its manifest.
    */
  def loadNearDupIndexBucketed(
      spark: SparkSession,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000,
      prefix: String = "graft_ndidx"
  ): NearDupIndex =
    NearDupIndex(
      n, threshold, maxDf,
      spark.table(s"${prefix}_digests"),
      spark.table(s"${prefix}_lookup"),
      spark.table(s"${prefix}_arrays"),
      spark.table(s"${prefix}_prefixes"))
}

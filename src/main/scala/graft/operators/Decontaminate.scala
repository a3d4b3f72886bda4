package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Train/eval decontamination: flag corpus documents that share word
  * n-grams with an evaluation set, the standard guard against test-set
  * leakage into training data.
  *
  * Two pair-generation strategies, identical outputs:
  *   - [[overlap]]: BROADCAST the eval set's distinct gram set — right
  *     when eval grams fit the broadcast budget (benchmarks usually do);
  *     the corpus is touched in ONE map-side pass and the only shuffle is
  *     the final per-doc count.
  *   - [[overlapBloom]]: when the eval gram set outgrows the broadcast
  *     budget, ship only a BLOOM FILTER of it (bits ≈ 1.44·n·log2(1/fpp) —
  *     ~12 MB for 10⁷ grams at 1% fpp, vs gigabytes of strings), probe
  *     map-side, and exact-verify the few surviving candidates with a
  *     shuffle join. Bloom filters have NO false negatives, so the exact
  *     join sees every true hit and the output is IDENTICAL to
  *     [[overlap]] — false positives only cost a little extra join input.
  *     Uses Spark's own runtime-filter machinery (BloomFilterAggregate /
  *     BloomFilterMightContain) for the distributed build + codegen probe.
  */
object Decontaminate {

  private def evalGramsOf(evalSet: DataFrame, n: Int, textCol: String): DataFrame =
    evalSet
      .select(TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n).as("sh"))
      // materialized: overlapBloom's TWO consumers (bloom build + exact-
      // verify join) would otherwise each recompute the eval shingling
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .select(explode(col("sh")).as("gram"))
      .distinct()

  private def corpusGramsOf(corpus: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    Dedup
      .withShingles(corpus, n, idCol, textCol)
      // materialize the shingle ARRAYS once: both the size and the explode
      // below read them. The CacheManager keeps the entry until it is
      // unpersisted.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // long, not int: aligns with BIGINT gram counts in SQL engines (the
      // DuckDB oracle) so hash-compares see identical dtypes
      .select(col(idCol), size(col("sh")).cast("long").as("n_grams"), explode(col("sh")).as("gram"))

  private def rollup(hits: DataFrame, idCol: String): DataFrame =
    hits
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .select(
        col(idCol),
        col("n_hit_grams"),
        col("n_grams"),
        round(col("n_hit_grams").cast("double") / col("n_grams"), 4).as("contamination")
      )

  /** Per-corpus-doc overlap report against the eval set's n-gram universe.
    *
    * Output (only docs with ≥1 hit): (idCol, n_hit_grams, n_grams,
    * contamination) where `n_grams` is the doc's distinct-shingle count and
    * `contamination` = n_hit_grams / n_grams rounded to 4 dp. Callers drop
    * or review docs above a contamination threshold.
    */
  def overlap(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    rollup(
      corpusGramsOf(corpus, n, idCol, textCol)
        .join(broadcast(evalGramsOf(evalSet, n, textCol)), "gram"),
      idCol
    )

  /** Bloom-prefiltered variant for eval sets too large to broadcast —
    * same output as [[overlap]] (see object scaladoc). `expectedGrams`
    * sizes the filter; `numBits` defaults to ~10 bits/item (≈1% fpp).
    * Requires [[GraftFunctions.register]] on the session.
    */
  def overlapBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int,
      expectedGrams: Long = 1000000L,
      numBits: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val bits = if (numBits > 0) numBits else expectedGrams * 10
    val evalGrams = evalGramsOf(evalSet, n, textCol)
    val bf = evalGrams
      .select(GraftFunctions.bloomAgg(col("gram"), expectedGrams, bits).as("bf"))
      .head()
      .getAs[Array[Byte]](0)
    val corpusGrams = corpusGramsOf(corpus, n, idCol, textCol)
    val candidates =
      if (bf == null) corpusGrams.where(lit(false)) // empty eval set → no hits
      else corpusGrams.where(GraftFunctions.bloomMightContain(lit(bf), col("gram")))
    // exact verify on the tiny candidate set — removes bloom false
    // positives, so results match overlap() exactly; plain join (no
    // broadcast hint): AQE picks the strategy for the shrunken input
    rollup(candidates.join(evalGrams, "gram"), idCol)
  }
}

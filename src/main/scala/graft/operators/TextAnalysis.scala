package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (BASELINE.json north
  * star): tokenization, shingling, stats, quality scoring, language-ID
  * heuristic, fingerprinting. All built-in expressions → whole-stage
  * codegen, embarrassingly parallel (no shuffle at all) — the 100 TB shape
  * is "one pass over the corpus".
  */
object TextAnalysis {

  /** Whitespace word tokens of a (trimmed) text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles, in first-occurrence order. Documents
    * shorter than n shingle to an empty array (they can only exact-match).
    * One compiled walk ([[graft.functions.WordShingles]]) computes the
    * same array as [[shinglesHof]], whose per-window lambda runs
    * interpreted on every row. `n` must be at least 1.
    */
  def shingles(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WordShingles(org.apache.spark.sql.GraftSqlBridge.expression(toks), n))

  /** The Column-algebra formulation of [[shingles]] — the documented
    * semantics, spec-pinned equal to the expression path.
    */
  private[graft] def shinglesHof(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))
        )
      )
    ).otherwise(array().cast("array<string>"))

  /** Canonical normalization for fingerprinting: lowercase, non-alphanumeric
    * → space, collapse runs, trim. Shared by the md5 fingerprint and its
    * DuckDB oracle (same regex semantics on both engines).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** Stable 32-hex-char document fingerprint over normalized text. */
  def fingerprintMd5(text: Column): Column = md5(normalize(text))

  /** Obfuscation-resistant normalization for word-list filtering (x108):
    * lowercase, fold the classic leet confusables (0→o 1→i 3→e 4→a 5→s
    * 7→t @→a $→s — the UTS #39 confusables idea restricted to the ASCII
    * substitutions wordlist evasion actually uses), then collapse every
    * non-letter run to one space. "c4$ino" and "CASINO" and "ca.si.no"
    * all fold to tokens containing "casino"... the last one does NOT
    * (separators split tokens) — that variant needs the x31
    * substring machinery; this fold targets in-token substitution, the
    * common evasion. Pure builtins (lower/translate/regexp_replace):
    * codegen'd, map-only, replayable verbatim in DuckDB.
    */
  def foldConfusables(text: Column): Column =
    trim(
      regexp_replace(
        translate(lower(text), "013457@$", "oieastas"),
        "[^a-z]+", " "))

  /** Tokens of the confusable-folded text that appear in `words` — the
    * word-list (badwords / spam / NSFW) filter primitive; multiplicity
    * preserved so thresholds can count occurrences.
    */
  def wordListHits(text: Column, words: Seq[String]): Column =
    filter(
      split(foldConfusables(text), "\\s+"),
      t => t.isin(words.map(w => w: Any): _*))

  /** Per-document stats: char count, token count, distinct-token count,
    * avg token length, type-token ratio.
    */
  def withTextStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .withColumn("n_chars_c", length(col(textCol)))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
      .withColumn(
        "avg_token_len",
        round(
          aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") / size(toks),
          4
        )
      )
      .withColumn(
        "type_token_ratio",
        round(size(array_distinct(toks)).cast("double") / size(toks), 4)
      )
  }

  /** BPE-ish token count: alphabetic runs, digit runs, and single
    * non-alphanumeric marks each count as one token (a cheap proxy for
    * subword tokenizer cost estimation at corpus scale).
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Marker vocabularies for the language-ID heuristic. Real stopword
    * heads of each language; deterministic and tiny so the heuristic is a
    * pure map-side expression.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "los", "de", "y", "que", "en", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans")
  )

  /** N-gram/stopword language-ID heuristic: count marker-token hits per
    * language over the token array; argmax with deterministic tie-break
    * (marker-list order above, then "und" = undetermined when no marker
    * hits at all).
    */
  def langIdScores(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit): _*)))
    }

  /** One token walk per reference (r16): the Column-algebra form below
    * ([[langIdHof]], kept as the documented algebra and spec twin)
    * inlines `size(filter(toks, isin))` once per language per reference
    * — a single screened langId expanded to ~24 independent tokenize +
    * array-filter evaluations per row in the committed x127 plan dump.
    * [[graft.functions.LangIdArgmax]] computes the identical argmax
    * (same hit rule, same marker-order tie-break, same "und" fallback,
    * NULL token array → "und" exactly like the when-chain) in one pass,
    * and shrinks every screen-bearing plan by the inlined CASE chain.
    */
  def langId(toks: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.LangIdArgmax(
        org.apache.spark.sql.GraftSqlBridge.expression(toks),
        langMarkers))

  /** The Column-algebra formulation of [[langId]] — the documented
    * argmax/tie-break semantics, spec-pinned equal to the expression
    * path on real corpus text.
    */
  private[graft] def langIdHof(toks: Column): Column = {
    val scores = langIdScores(toks)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Raw (non-distinct) n-gram occurrence list — for repetition measures,
    * where multiplicity is the signal that [[shingles]]' distinct sets
    * deliberately discard.
    */
  def rawNgrams(toks: Column, n: Int): Column =
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))
      )
    ).otherwise(array().cast("array<string>"))

  /** Corpus vocabulary: the k most frequent word n-grams with their total
    * occurrence counts (every occurrence counts — frequency, not document
    * frequency), ties broken by the gram itself so the result is a
    * deterministic set.
    *
    * 100 TB shape: one explode + one hash aggregation with map-side
    * partials (each mapper emits at most its distinct-gram count), then a
    * global top-k that Spark plans as TakeOrderedAndProject — per-partition
    * heaps of size k merged on the driver, NEVER a single-partition sort
    * of the full vocabulary. k rows of driver state, same bounded-state
    * contract as the IVF quantizer.
    */
  def topNgramVocab(
      docs: DataFrame,
      n: Int,
      k: Int,
      textCol: String = "text"
  ): DataFrame =
    docs
      // same §8.4 generator trap as ngramNovelty below: materialize the
      // gram arrays before explode so the tokenize/slice/concat pipeline
      // runs once inside codegen, not interpreted per exploded row
      .select(rawNgrams(tokens(col(textCol)), n).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .select(explode(col("grams")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)

  /** Per-document n-gram novelty: how many of a doc's DISTINCT shingles
    * see their FIRST corpus occurrence (minimum doc id over all docs
    * containing the shingle) in this very document. High novelty = new
    * content entering the corpus in id order; near-zero = the document
    * restates earlier material — a dedup-adjacent diversity signal
    * (id order stands in for ingestion order).
    *
    * Novelty is reported as parts-per-million via INTEGER division — the
    * all-integer x17 contract; the caller can divide by 1e6 in display
    * space where bit-identity no longer matters.
    *
    * 100 TB shape: two hash aggregations, both with map-side partials, and
    * one join keyed by doc id. The novel-count never joins back per gram:
    * grouping min(doc_id) by shingle then counting BY THAT MINIMUM gives
    * each doc's novel-gram count directly, so per-gram rows collapse to at
    * most one row per document before any join. The doc-id join's build
    * side is that collapsed table (≤ one row per doc, two ints wide).
    */
  /** Cross-document duplicate n-gram fraction — the corpus-level
    * duplication profile quality gates report (Gopher's dup-ngram
    * metrics are INTRA-doc, x18; SlimPajama/Gopher-style corpus audits
    * additionally ask "what fraction of this document's n-grams appear
    * in OTHER documents?" — the signal that finds template farms and
    * mirror clusters BEFORE pair mining): per doc, the ppm share of its
    * DISTINCT n-grams whose corpus document frequency is ≥ 2.
    *
    * Distinct-per-doc shingles mean df counts DOCUMENTS (self-repetition
    * cannot inflate it — the x06 distinct-text discipline), and a gram
    * shared only by a doc with ITSELF is invisible, so the signal is
    * strictly cross-document. Shape: shingle arrays materialized once
    * (both the postings and the sizes read them), ONE shingle-keyed
    * exchange for df, the join back
    * reusing that partitioning, one doc-keyed rollup. Docs with no
    * grams (< n tokens) report dup_ppm = −1 (the x70 sentinel).
    */
  def crossDocDupGramFraction(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sized = docs
      .select(col(idCol), shingles(tokens(col(textCol)), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posted = sized.select(col(idCol), explode(col("sh")).as("shingle"))
    val dfTab = posted.groupBy("shingle").agg(count(lit(1)).as("df"))
    val dup = posted
      .join(dfTab, Seq("shingle"))
      .where(col("df") >= 2)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup"))
    sized
      .select(col(idCol), size(col("sh")).cast("long").as("n_grams"))
      .join(dup, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(
          col("n_grams") > 0,
          floor((coalesce(col("n_dup"), lit(0L)) * 1000000L) / col("n_grams")))
          .otherwise(lit(-1L))
          .cast("long")
          .as("dup_ppm"))
  }

  def ngramNovelty(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    // materialize the shingle arrays BEFORE the generator and the double
    // reference below: the two branches (postings + per-doc sizes) would
    // each recompute the tokenize + shingle walk. The CacheManager keeps
    // the entry until it is unpersisted.
    val sized = docs
      .select(
        col(idCol),
        shingles(tokens(col(textCol)), n).as("sh")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val novel = sized
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .groupBy("shingle")
      .agg(min(col(idCol)).as("first_id"))
      .groupBy(col("first_id").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
    sized
      .select(col(idCol), size(col("sh")).as("n_shingles"))
      .join(novel, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        // floor-form integer division (the memory'd round4 pattern): the
        // double quotient is correctly rounded and |numerator| ≪ 2^53, so
        // floor(double(a)/double(b)) == a div b exactly — a misrounding
        // would need k·b − a < b·k·2⁻⁵³ < 1, impossible for integers.
        when(
          col("n_shingles") > 0,
          floor((coalesce(col("n_novel"), lit(0L)) * 1000000L) / col("n_shingles"))
        ).cast("long").as("novelty_ppm")
      )
  }

  /** Max multiplicity of any single token, computed WITHOUT a shuffle: sort
    * the token array, then fold it counting the longest run of equal
    * adjacent elements. The group-by-token formulation needs an explode +
    * two aggregations per doc; this stays inside one row, so repetition
    * scoring keeps the map-only 100 TB shape of the other text stats.
    */
  def topTokenCount(toks: Column): Column =
    aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best")
    )

  /** Gopher-style within-document repetition signals (used as quality
    * pre-filters: heavily repetitive docs are boilerplate/spam):
    * top-token occupancy and duplicate 2-/3-gram occurrence fractions.
    * Entirely map-side.
    *
    * The raw counts come from ONE hand-rolled expression
    * ([[graft.functions.RepetitionCounts]]) instead of the
    * `aggregate`/`transform` Column folds: higher-order functions run on
    * Catalyst's interpreted path and cost ~6 ms/doc (≈30 s of noop-write
    * bench wall at sf0.1); the plain-JVM walk is ~100× cheaper. The
    * fractions below are the SAME Column arithmetic as before over the
    * same integers, so results are bit-identical.
    */
  def withRepetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    def dupFrac(d: Column, t: Column): Column =
      round(
        when(t > 0, lit(1.0) - d.cast("double") / t).otherwise(lit(0.0)),
        4
      )
    docs
      .withColumn("rep_c", graft.functions.GraftFunctions.repetitionCounts(toks))
      .withColumn(
        "top_token_frac",
        round(col("rep_c.top_run").cast("double") / size(toks), 4))
      .withColumn("dup_2gram_frac", dupFrac(col("rep_c.dup2_distinct"), col("rep_c.dup2_total")))
      .withColumn("dup_3gram_frac", dupFrac(col("rep_c.dup3_distinct"), col("rep_c.dup3_total")))
      .drop("rep_c")
  }

  /** Corpus TF-IDF: the top-`k` terms of every document by tf·idf with
    * smoothed idf (ln((N+1)/(df+1)) + 1, sklearn's `smooth_idf` form — never
    * zero, never divides by zero).
    *
    * Distributed shape (the textbook one, each stage linear in its input):
    *   1. explode tokens → partial-agg count by (doc, term)  — shuffle 1 (tf)
    *   2. tf → count docs per term                           — shuffle 2 (df; vocabulary-sized)
    *   3. tf ⋈ df on term                                    — AQE picks broadcast when the
    *      vocabulary fits (it does at test SF); web-scale vocabularies (1e8+ typo-heavy
    *      terms) fall back to a shuffle join on `term` — which both sides are already
    *      hash-partitioned by, so AQE can elide the tf-side exchange.
    *   4. top-k per doc via row_number — partition key is the DOC, whose group size is
    *      bounded by the doc's own vocabulary, so the window never sees skew no matter
    *      how large the corpus grows.
    *
    * Ranking uses the ROUNDED score (6 dp) with term as tie-break, so any
    * cross-engine ulp divergence in ln() cannot reorder the cut line.
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.select(col(idCol)).count() // column-pruned scan; one scalar job, like MLlib's IDF fit
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfc, "term")
      .withColumn(
        "tfidf",
        round(col("tf") * (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + lit(1.0)), 6)
      )
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Shannon entropy of the character distribution, in nats — the classic
    * cheap detector for machine-generated noise (base64 blobs, hex dumps,
    * key-mash spam score HIGH; natural language sits ~2.5-3.2 nats).
    *
    * Map-only like the other text stats: sort the char array, fold runs of
    * equal chars accumulating Σ run·ln(run) (same sorted-run trick as
    * [[topTokenCount]]), then H = ln(n) − Σ/n. The explode/groupBy
    * formulation (the DuckDB oracle uses it) shuffles one row PER
    * CHARACTER — 100 TB of text becomes 100 T shuffle rows; this stays one
    * row per doc.
    *
    * Rounded via floor(H·10⁴+0.5)/10⁴ (see [[qualityScore]] — IEEE-stable
    * across engines). Empty/NULL text → 0.0.
    */
  def charEntropy(text: Column): Column = {
    // Σ run·ln(run) and n from one hand-rolled pass
    // ([[graft.functions.CharRunEntropySums]] — replicates the sorted-run
    // Column fold term-for-term, so the double is bit-identical; the fold
    // itself ran interpreted and cost ~1.5 ms/doc). H and the IEEE-stable
    // rounding stay in Column space, unchanged.
    val sums = graft.functions.GraftFunctions.charRunEntropySums(text)
    val n = sums.getField("n").cast("double")
    val h = log(n) - sums.getField("acc") / n
    when(text.isNull || length(text) === 0, lit(0.0))
      .otherwise(floor(h * lit(10000.0) + lit(0.5)) / lit(10000.0))
  }

  /** Composite quality score in [0,1]: length saturation, alpha ratio,
    * stopword presence, type-token ratio — the standard cheap pre-filters
    * applied before expensive LLM-data curation stages.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val alphaRatio =
      (length(regexp_replace(text, "[^A-Za-z ]", "")).cast("double") + lit(1.0)) /
        (length(text).cast("double") + lit(1.0))
    val enMarkers = langMarkers.head._2
    val stopRatio = size(filter(toks, t => t.isin(enMarkers.map(lit): _*))).cast("double") / nTok
    val stopScore = least(stopRatio * lit(10.0), lit(1.0))
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val q = lit(0.3) * lenScore + lit(0.3) * alphaRatio + lit(0.2) * stopScore + lit(0.2) * ttr
    // floor(q*1e4 + 0.5)/1e4 instead of round(q, 4): Spark's round() rounds
    // the SHORTEST-DECIMAL rendering of the double (BigDecimal.valueOf) while
    // SQL engines round the binary value, so a score whose shortest rendering
    // is exactly a midpoint (observed: 0.72325 at sf0.1) flips between .7232
    // and .7233 across engines. This form is pure IEEE multiply/add/floor —
    // bit-identical on any engine evaluating the same double.
    floor(q * lit(10000.0) + lit(0.5)) / lit(10000.0)
  }

  /** EXACT corpus heavy hitters — every token whose corpus frequency is at
    * least phi = phiNum/phiDenom — via the two-phase sketch+recount shape:
    *
    *   1. one [[graft.functions.MisraGriesTokens]] aggregate pass produces
    *      a candidate SUPERSET (O(partitions × k) sketch entries cross the
    *      exchange; with k >= 2·phiDenom/phiNum the averaging bound in the
    *      aggregate's scaladoc proves no phi-heavy token is missed), plus
    *      the exact corpus token total from the same pass;
    *   2. an exact recount of ONLY the candidates — explode, filter to the
    *      broadcast candidate set (an InSet before the exchange, so the
    *      non-candidate long tail never shuffles), hash-aggregate with
    *      map-side partials (≤ |candidates| rows per map task), integer
    *      threshold compare (cnt · phiDenom >= total · phiNum — no
    *      doubles in the cut, the x17 lesson).
    *
    * The one-phase alternative (groupBy over every token, HAVING) shuffles
    * a row per distinct token per partition; at 100 TB the open vocabulary
    * (URLs, hex ids, typos) makes that exchange the bottleneck while the
    * answer only wants the few-hundred heavy tokens. Frequencies ship as
    * integer ppm via integer division — exact on any engine.
    *
    * phi is a rational, not a double, so the threshold is exact; k is the
    * sketch width (caller guarantees k >= 2·phiDenom/phiNum).
    */
  def heavyTokens(
      docs: DataFrame,
      phiNum: Long,
      phiDenom: Long,
      k: Int,
      textCol: String = "text"
  ): DataFrame = {
    require(k.toLong * phiNum >= 2L * phiDenom, s"k=$k too small for phi=$phiNum/$phiDenom")
    val toks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(tokens(col(textCol)).as("toks"))
      // scanned twice (sketch pass, recount pass) — keep the tokenized form
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = toks
      .agg(
        graft.functions.GraftFunctions.misraGriesTokens(col("toks"), k).as("cands"),
        sum(size(col("toks"))).cast("long").as("total"))
      .head()
    val cands = probe.getSeq[String](0)
    // sum(size(toks)) over zero rows is NULL — an empty / all-blank corpus
    // has no heavy tokens, and must not NPE (or divide by zero) here.
    if (probe.isNullAt(1) || probe.getLong(1) == 0L) {
      toks.unpersist()
      val spark = docs.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("freq_ppm", org.apache.spark.sql.types.LongType))))
    }
    val total = probe.getLong(1)
    // ≤ k rows survive the cut — materialize them eagerly (localCheckpoint
    // truncates lineage off the cached scan) so `toks` can be unpersisted
    // HERE instead of leaking a cached dataset per invocation for the
    // session lifetime (x43 alone runs 3× per bench).
    val counted = toks
      .select(explode(col("toks")).as("token"))
      .where(col("token").isin(cands: _*))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit(phiDenom) >= lit(total * phiNum))
      .localCheckpoint()
    toks.unpersist()
    counted
      .withColumn("freq_ppm", expr(s"cnt * 1000000L div ${total}L"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Collocation (phrase) mining by the word2vec phrase score (Mikolov et
    * al. 2013, "Distributed representations of words and phrases"):
    * score(a,b) = (count(ab) − δ) · N / (count(a) · count(b)) over
    * adjacent token pairs — high score means a and b co-occur far more
    * than their independent frequencies predict, i.e. "new york" is a
    * phrase and "the table" is not. δ discounts rare pairs that would
    * otherwise score high by accident.
    *
    * Integer contract: `lift_x1000 = (cnt_pair − δ)·N·1000 div
    * (cnt_a·cnt_b)` (0 when the discount exhausts the pair count), and
    * `is_phrase = lift_x1000 ≥ threshold·1000` — no doubles near the
    * driver hash, cross-engine exact. With N up to ~2^40 tokens,
    * cnt·N·1000 fits a BIGINT for any pair count up to ~2^13 · its
    * unigram counts — overflow-safe at the corpus sizes the engine
    * contracts (the oracle replays the same BIGINT arithmetic).
    *
    * 100 TB shape: bigram and unigram counts are each ONE explode + hash
    * aggregation with map-side partials (the x38 vocabulary shape); the
    * scalar N rides a broadcast 1-row frame. The unigram joins run BOTH
    * ways:
    *   - `broadcastUnigrams = true` broadcasts the unigram table — right
    *     when the vocabulary is bounded (curated corpora, token-id
    *     streams);
    *   - `false` plans two shuffle joins keyed on the word — the open-web
    *     posture, where vocabulary grows with the corpus and no side
    *     broadcasts. Pair rows shuffle twice, but never more than the
    *     pair table itself — no all-pairs term anywhere.
    */
  def collocations(
      docs: DataFrame,
      delta: Long,
      thresholdX1000: Long,
      broadcastUnigrams: Boolean = true,
      textCol: String = "text"
  ): DataFrame = {
    val toks = docs
      .select(tokens(col(textCol)).as("toks"))
      // scanned twice (unigram pass, bigram pass): cache the tokenized
      // form, then cut both counted tables loose (they are
      // vocabulary-sized) so the cache does not outlive the call
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("cnt_w"))
      .localCheckpoint()
    val pairs = toks
      .select(
        when(size(col("toks")) >= 2,
          transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => struct(
              element_at(col("toks"), i + 1).as("w1"),
              element_at(col("toks"), i + 2).as("w2"))
          )).otherwise(array().cast("array<struct<w1:string,w2:string>>"))
          .as("bg"))
      .select(explode(col("bg")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt_pair"))
      .localCheckpoint()
    toks.unpersist()

    // the corpus token total is ONE long of driver state (uni is already
    // materialized by the localCheckpoint) — inline it as a literal
    // rather than attaching a 1-row frame, which would plan an NLJ
    val nRow = uni.agg(sum(col("cnt_w"))).head()
    // sum over zero rows is NULL — the heavyTokens empty-corpus lesson
    val nTotal = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val u1 = uni.select(col("w").as("w1"), col("cnt_w").as("cnt_w1"))
    val u2 = uni.select(col("w").as("w2"), col("cnt_w").as("cnt_w2"))
    pairs
      .join(if (broadcastUnigrams) broadcast(u1) else u1, "w1")
      .join(if (broadcastUnigrams) broadcast(u2) else u2, "w2")
      .select(
        col("w1"), col("w2"), col("cnt_pair"), col("cnt_w1"), col("cnt_w2"),
        expr(s"greatest(cnt_pair - ${delta}L, 0L) * ${nTotal}L * 1000L div (cnt_w1 * cnt_w2)")
          .as("lift_x1000"))
      .withColumn("is_phrase", col("lift_x1000") >= lit(thresholdX1000))
  }

  /** N-gram language-model fluency scoring — the perplexity-filtering verb
    * of corpus curation (CCNet, Wenzek et al. 2020: score every document
    * against an LM trained on a trusted reference corpus; gibberish and
    * boilerplate score low). The model is the classic bigram LM with
    * stupid backoff (Brants et al. 2007): each adjacent pair (w1, w2)
    * scores the conditional `count_ref(w1 w2) / count_ref(w1)` when the
    * reference saw the bigram, else backs off to `0.4 · count_ref(w2) / N`.
    *
    * Integer contract (nothing float-rendered near the driver hash): the
    * conditional is `cnt_b · 1_000_000 div cnt_w1` ppm, the backoff is
    * `cnt_w2 · 400_000 div N` ppm (0.4 folded into the scale), and the
    * document score is the m-weighted integer mean
    * `Σ m·p_ppm div Σ m` — the ARITHMETIC mean of conditional
    * probabilities, chosen because it is exactly replayable on both
    * engines; true perplexity (the geometric mean) is the same plumbing
    * with `ln` in the scoring projection and a rounding convention, and is
    * the named float swap-in for consumers that want it. Ranking behavior
    * matches the curation use: fluent reference-like text scores high,
    * unseen-vocabulary text scores 0.
    *
    * 100 TB shape: the model build is the [[collocations]] shape — one
    * explode + map-side-partial hash aggregation each for unigrams and
    * bigrams over the REFERENCE, N is one long of driver state inlined as
    * a literal (the no-NLJ scalar rule). Scoring collapses the target to
    * per-document distinct pairs with multiplicity (map-side partials
    * absorb repeated pairs), builds a pair-score table over the DISTINCT
    * target pairs only (three vocabulary-sized left joins — never a join
    * per occurrence), joins it back once, and aggregates per document.
    * `broadcastModel = true` broadcasts the pair-score table (bounded
    * vocabulary posture); `false` plans it as a shuffle join keyed
    * (w1, w2) — the open-web posture. Documents with fewer than two
    * tokens surface with n_pairs = 0 and a NULL score.
    */
  def lmFluency(
      refDocs: DataFrame,
      targetDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      broadcastModel: Boolean = true
  ): DataFrame = {
    def pairStructs(toks: Column): Column =
      when(size(toks) >= 2,
        transform(
          sequence(lit(0), size(toks) - 2),
          i => struct(
            element_at(toks, i + 1).as("w1"),
            element_at(toks, i + 2).as("w2"))
        )).otherwise(array().cast("array<struct<w1:string,w2:string>>"))

    // --- reference model: unigram + bigram count tables (vocab-sized) ---
    val refToks = refDocs
      .select(tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = refToks
      .select(explode(col("toks")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("cnt_w"))
      .localCheckpoint()
    val big = refToks
      .select(pairStructs(col("toks")).as("bg"))
      .select(explode(col("bg")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt_b"))
      .localCheckpoint()
    refToks.unpersist()
    val nRow = uni.agg(sum(col("cnt_w"))).head()
    // sum over zero rows is NULL (the heavyTokens empty-corpus lesson);
    // clamp to 1 so an empty reference scores everything 0, not ÷0
    val nTotal = math.max(if (nRow.isNullAt(0)) 0L else nRow.getLong(0), 1L)

    // --- target side: per-doc distinct pairs with multiplicity ---
    val sized = targetDocs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDocPairs = sized
      .select(col(idCol), explode(pairStructs(col("toks"))).as("p"))
      .groupBy(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("m"))

    // pair-score table over DISTINCT target pairs only: three left joins
    // at vocabulary scale, then ONE join back onto the occurrence table
    val u1 = uni.select(col("w").as("w1"), col("cnt_w").as("cnt_w1"))
    val u2 = uni.select(col("w").as("w2"), col("cnt_w").as("cnt_w2"))
    val scored = perDocPairs
      .select("w1", "w2")
      .distinct()
      .join(big, Seq("w1", "w2"), "left")
      .join(u1, Seq("w1"), "left")
      .join(u2, Seq("w2"), "left")
      .select(
        col("w1"), col("w2"),
        when(col("cnt_b").isNotNull,
          expr("cnt_b * 1000000L div cnt_w1"))
          .otherwise(expr(s"coalesce(cnt_w2, 0L) * 400000L div ${nTotal}L"))
          .as("p_ppm"),
        col("cnt_b").isNotNull.as("hit"))
    val perDoc = perDocPairs
      .join(if (broadcastModel) broadcast(scored) else scored, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        sum(col("m")).as("n_pairs"),
        sum(when(col("hit"), col("m")).otherwise(lit(0L))).as("n_hit"),
        expr("sum(m * p_ppm) div sum(m)").as("fluency_ppm"))
    sized
      .select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("fluency_ppm"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.operators.{Decontaminate, LinearModel, WebArc}

/** Incremental web-corpus curation over an unbounded CRAWL stream — the
  * twenty-first batch/stream twin and the capstone of the family: "a new
  * crawl arrived; curate it against what I already kept", maintained so
  * that after every micro-batch the curated set equals
  * [[graft.operators.WebArc.pipeline]] (x146) over the UNION of every
  * document delivered so far — WARC walk, screens, exact dedup, MinHash
  * near-dup with the greedy keep-first rule preserved ACROSS epochs,
  * decontamination, model screen, calibrated keep, per-source cap,
  * packing.
  *
  * The state decomposes by each stage's fold algebra:
  *
  *   - `minPages` (one row per screen-passing DISTINCT text): the
  *     exact-dedup survivor under the keep-min fold —
  *     [[CurationStream]]'s algebra. A later batch delivering a SMALLER
  *     page_id demotes the previous survivor, which can flip the class's
  *     doc parity (the training label!), its source quota, and the
  *     direction of every near-dup drop it participates in — all handled
  *     because everything downstream is a VIEW over this fold.
  *   - a composed [[NearDupStream.Maintainer]] at the arc's operating
  *     point (3-shingles, θ 0.5, 32×4 bands): verified near-dup PAIRS
  *     are text-level facts (Jaccard of two fixed texts never changes),
  *     so its class-pair state is exactly the cross-epoch memory the
  *     greedy rule needs; the per-epoch fold is candidate-bound, never
  *     corpus-bound. Which SIDE of a verified pair drops is decided in
  *     the view from the CURRENT min pages (a demotion can reverse it).
  *   - `classFlags` (one row per distinct text): decontamination verdict
  *     vs the FIXED eval universe and the planted-model screen verdict —
  *     both pure text functions, computed once per NEW class, map-side.
  *
  * EMISSION IS VIEW-FORCED (the PageRank/Perceptron/Calibration end of
  * the taxonomy), necessarily: stage 9 TRAINS a perceptron on the
  * current survivor set and isotonic-calibrates its scores, so a single
  * new page can move every weight, every score, every bin — there is no
  * emission delta to stream. `curated()` assembles the screened view
  * from state and runs the batch twin's OWN stages 9–11
  * ([[WebArc.curatedFromScreened]] + [[WebArc.packCurated]]) — stream ≡
  * batch by shared code over state whose algebra (keep-min, text-level
  * pair facts, per-class flags) is provably order-free.
  *
  * RESTART SAFETY — both stores follow the [[EpochStore]] contract
  * (frames first, commit marker second, GC to two epochs) under ONE
  * stateDir (`<dir>/arc`, `<dir>/neardup`); both folds are IDEMPOTENT
  * (keep-min cannot lower a minimum that already includes the batch;
  * the class upsert and the near-dup fold are anti-join-guarded), so a
  * crash between the two saves or between save and offset commit
  * re-folds the batch into whichever store fell behind and lands both
  * at the same state — no cross-store transaction needed. A maintainer
  * WITHOUT a stateDir against an existing checkpoint silently loses the
  * kept corpus, so `start()` refuses that combination (the
  * [[ComponentsStream]] restart trap).
  *
  * Scale posture: per-batch work is map-side screens over the delivery
  * plus candidate-bound LSH probes; state is O(distinct passing texts)
  * — the one O(corpus-text) frame is the class text/shingle retention,
  * the same disclosed trade as [[NearDupStream.Maintainer]]'s
  * `repShingles` (a production deployment compacts it to a KV store;
  * fold logic unchanged). The view costs what batch stages 9–11 cost —
  * paid when the selection is READ, not per delivery.
  */
object ArcStream extends StreamTwin {

  final case class Doc(doc_id: Long, source: String, text: String)

  type In = Doc
  type Mt = Maintainer

  private val minPagesSchema = StructType(Seq(
    StructField("text_md5", StringType),
    StructField("page_id", LongType),
    StructField("doc_id", LongType),
    StructField("rec_idx", IntegerType),
    StructField("source", StringType),
    StructField("host", StringType),
    StructField("lang_pred", StringType),
    StructField("n_tokens", LongType)))

  private val classFlagsSchema = StructType(Seq(
    StructField("text_md5", StringType),
    StructField("main_text", StringType),
    StructField("contaminated", BooleanType),
    StructField("model_keep", BooleanType)))

  final class Maintainer(
      spark: SparkSession,
      evalDocs: DataFrame,
      model: LinearModel.HashedLinearModel,
      cap: Int = 10,
      minIsoPpm: Long = 500000L,
      trainDim: Int = 512,
      trainRounds: Int = 3,
      packCapacity: Long = 256L,
      packGroups: Int = 8,
      stateDir: Option[String] = None
  ) extends EpochMaintainer(
        spark, stateDir, Seq("minPages" -> minPagesSchema, "classFlags" -> classFlagsSchema),
        (d, frames) => new EpochStore(spark, s"$d/arc", frames)) {
    GraftFunctions.register(spark)

    // the eval universe is FIXED for the maintainer's lifetime (the
    // decontamination target a curation service pins per release);
    // checkpointed once so per-batch probes never rescan its source
    private val evalTexts =
      evalDocs.select(col("text")).localCheckpoint(true)

    private[graft] val nearDup = new NearDupStream.Maintainer(
      spark, n = 3, threshold = 0.5, bands = 32, rowsPerBand = 4,
      stateDir = stateDir.map(d => s"$d/neardup"))

    private val initial: Map[String, DataFrame] = loadOrEmpty()

    @volatile private var minPages: DataFrame = initial("minPages")
    @volatile private var classFlags: DataFrame = initial("classFlags")

    /** The exact-dedup survivor table (one row per distinct passing
      * text, carrying its current min page).
      */
    def state: DataFrame = minPages

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      // stages 1–4 map-side on the delivery: WARC walk + extract +
      // screens (pure text functions — the screen-first equivalence)
      val screened = WebArc
        .screenPages(WebArc.textPages(
          batch.select(col("doc_id").cast(LongType), col("source"), col("text"))))
        .localCheckpoint(true)

      // near-dup pair state: text-level facts, candidate-bound fold
      nearDup.update(
        screened.select(col("page_id").as("doc_id"), col("main_text").as("text")),
        epochId)

      // per-class flags for classes this maintainer has never seen —
      // both verdicts are pure functions of the text, so once is enough
      val newClasses = screened
        .groupBy(col("text_md5"))
        .agg(min(col("page_id")).as("page_id"), any_value(col("main_text")).as("main_text"))
        .join(classFlags.select(col("text_md5")), Seq("text_md5"), "left_anti")
        .localCheckpoint(true)
      val contaminated = Decontaminate
        .overlapBloom(
          corpus = newClasses.select(col("page_id"), col("main_text")),
          evalSet = evalTexts.select(col("text").as("main_text")),
          n = 3, expectedGrams = 100000L,
          idCol = "page_id", textCol = "main_text")
        .where(col("contamination") >= 0.5)
        .select(col("page_id"))
      val screenedByModel = LinearModel
        .classify(newClasses, "main_text", model)
        .where(col("dot1") > col("dot0"))
        .select(col("page_id"))
      val newFlags = newClasses
        .join(contaminated.withColumn("contaminated", lit(true)), Seq("page_id"), "left")
        .join(screenedByModel.withColumn("model_keep", lit(true)), Seq("page_id"), "left")
        .na.fill(false, Seq("contaminated", "model_keep"))
        .select(col("text_md5"), col("main_text"), col("contaminated"), col("model_keep"))
      classFlags = classFlags.unionByName(newFlags).localCheckpoint(true)

      // the keep-min fold (idempotent: re-folding a delivered page
      // cannot lower a minimum that already includes it)
      minPages = minPages
        .unionByName(screened.select(
          col("text_md5"), col("page_id"), col("doc_id"), col("rec_idx"),
          col("source"), col("host"), col("lang_pred"), col("n_tokens")))
        .groupBy(col("text_md5"))
        .agg(min(struct(
          col("page_id"), col("doc_id"), col("rec_idx"), col("source"),
          col("host"), col("lang_pred"), col("n_tokens"))).as("m"))
        .select(
          col("text_md5"), col("m.page_id").as("page_id"),
          col("m.doc_id").as("doc_id"), col("m.rec_idx").as("rec_idx"),
          col("m.source").as("source"), col("m.host").as("host"),
          col("m.lang_pred").as("lang_pred"), col("m.n_tokens").as("n_tokens"))
        .localCheckpoint(true)
      store.foreach(_.save(epochId, Map(
        "minPages" -> minPages, "classFlags" -> classFlags)))
    }

    /** The curated corpus — after batch i, ≡ [[WebArc.pipeline]] over
      * every document of batches 1..i. View-forced: assembles the
      * screened set from state (current survivors minus near-dup drops
      * minus contaminated minus model-rejected) and runs the batch
      * twin's own stages 9–11.
      */
    def curated(): DataFrame = {
      val screened = screenedView()
      if (screened.isEmpty) WebArc.emptyArcOutput(spark)
      else
        WebArc.packCurated(
          WebArc.curatedFromScreened(screened, cap, minIsoPpm, trainDim, trainRounds),
          packCapacity, packGroups)
    }

    /** The curated pages BEFORE packing (None when the corpus curates
      * to empty) — read by [[MediaArcStream]], whose fused view pairs
      * maintained images with these pages.
      */
    private[graft] def curatedPages(): Option[DataFrame] = {
      val screened = screenedView()
      if (screened.isEmpty) None
      else Some(WebArc.curatedFromScreened(screened, cap, minIsoPpm, trainDim, trainRounds))
    }

    /** The screened view over state: current survivors minus near-dup
      * drops minus contaminated minus model-rejected, in the batch
      * arc's `screened` shape; checkpointed (stage 9 trains multi-pass
      * over it).
      */
    private def screenedView(): DataFrame = {
      // which side of a verified class pair drops is a function of the
      // CURRENT min pages (a keep-min demotion can reverse it), so the
      // drop set is derived here, never stored
      val curMin = minPages
        .join(nearDup.classesState.select(col("text_md5"), col("rep_id")), "text_md5")
        .select(col("rep_id"), col("page_id"))
      val a = curMin.select(col("rep_id").as("a_rep"), col("page_id").as("a_page"))
      val b = curMin.select(col("rep_id").as("b_rep"), col("page_id").as("b_page"))
      val ndDrop = nearDup.verifiedRepPairs
        .join(a, "a_rep").join(b, "b_rep")
        .select(greatest(col("a_page"), col("b_page")).as("page_id"))
        .distinct()
      minPages
        .join(classFlags.select(
          col("text_md5"), col("main_text"), col("contaminated"), col("model_keep")),
          "text_md5")
        .join(ndDrop, Seq("page_id"), "left_anti")
        .where(!col("contaminated") && col("model_keep"))
        .select(
          col("page_id"), col("doc_id"), col("rec_idx"), col("source"),
          col("host"), col("text_md5"), col("lang_pred"), col("n_tokens"),
          col("main_text"),
          when(col("doc_id") % 2 === 0, 1L).otherwise(-1L).as("y"))
        .localCheckpoint(true)
    }
  }

}

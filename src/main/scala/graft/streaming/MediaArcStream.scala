package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.operators.{LinearModel, MediaArc}

/** Incremental MULTIMODAL curation over an unbounded crawl stream — the
  * twenty-second batch/stream twin: after every micro-batch, `curated()`
  * equals [[MediaArc.pipeline]] (x150) over the union of every document
  * delivered so far — aligned (image, curated text) pairs maintained as
  * crawl epochs land, both modality routes incremental.
  *
  * Composition over invention: the TEXT route delegates wholesale to an
  * [[ArcStream.Maintainer]] (the 21st twin — keep-min survivors,
  * cross-epoch near-dup facts, per-class flags); the IMAGE route adds
  * the three frames a live image-dedup index needs:
  *
  *   - `images`: one row per DECODABLE image the gate passed (ids, dims,
  *     measured bytes, the 64-bit aHash and its halves) — fold is an
  *     anti-join-guarded append, since image identity (img_id) is
  *     injective and a hash of fixed pixels never changes;
  *   - `imgBands`: the 4×16-bit Hamming posting lists — what a new
  *     batch's images PROBE, so the per-epoch pair mining is
  *     candidate-bound, never corpus-bound (an old×old pair can never
  *     newly qualify);
  *   - `imgPairs`: verified pairs at radius 3 (a_id < b_id). The greedy
  *     keep-first drop (any pair drops the larger id) is a VIEW over
  *     this set, so a later epoch's smaller-id image retroactively
  *     evicts an image kept epochs ago, exactly as the batch rule
  *     decides on the union.
  *
  * The fused emission is view-forced twice over — the text side trains
  * a model per read (the [[ArcStream]] argument), and the image cap is
  * a window over the current kept set — so `curated()` assembles both
  * routes from state and runs the batch twin's OWN fusion projection
  * ([[MediaArc.fusePairs]]).
  *
  * The AUDIO and VIDEO routes (x154/x156) ride along on one decoded-
  * stats table each: both dedups are EXACT (fingerprint / signature),
  * so screen → keep-first dedup → cap is a pure VIEW over state —
  * [[Maintainer.curatedAudio]]/[[Maintainer.curatedVideo]] equal their
  * batch twins over the union after every micro-batch, with the same
  * retroactive-eviction property (a later epoch's smaller-id clip
  * evicts an identical clip kept epochs ago).
  *
  * RESTART SAFETY: four [[EpochStore]]s under one stateDir (the text
  * twin's two plus `<dir>/images` and `<dir>/clips`); every fold is
  * idempotent (anti-join-guarded appends; a replayed batch mines no new
  * candidates because its images are no longer fresh), so any crash
  * interleaving of the four saves heals by re-fold — the [[ArcStream]]
  * cross-store argument, extended by two stores.
  */
object MediaArcStream extends StreamTwin {

  final case class Doc(doc_id: Long, source: String, text: String)

  type In = Doc
  type Mt = Maintainer

  private val imagesSchema = StructType(Seq(
    StructField("img_id", LongType),
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("img_j", IntegerType),
    StructField("n_bytes", LongType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("n_px", LongType),
    StructField("sim", LongType),
    StructField("ahash_hi", LongType),
    StructField("ahash_lo", LongType)))

  private val bandsSchema = StructType(Seq(
    StructField("band_id", IntegerType),
    StructField("band_val", LongType),
    StructField("img_id", LongType)))

  private val pairsSchema = StructType(Seq(
    StructField("a_id", LongType),
    StructField("b_id", LongType)))

  private val audioSchema = StructType(Seq(
    StructField("aud_id", LongType),
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("aud_j", IntegerType),
    StructField("n_bytes", LongType),
    StructField("n_samples", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sum_sq", LongType),
    StructField("sum_abs", LongType),
    StructField("peak", IntegerType),
    StructField("zero_cross", IntegerType)))

  private val videoSchema = StructType(Seq(
    StructField("vid_id", LongType),
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("vid_j", IntegerType),
    StructField("n_bytes", LongType),
    StructField("n_sampled", IntegerType),
    StructField("sig", StringType)))

  final class Maintainer(
      spark: SparkSession,
      evalDocs: DataFrame,
      model: LinearModel.HashedLinearModel,
      capText: Int = 10,
      capImg: Int = 10,
      capAud: Int = 10,
      capVid: Int = 10,
      minIsoPpm: Long = 500000L,
      trainDim: Int = 512,
      trainRounds: Int = 3,
      stateDir: Option[String] = None
  ) extends EpochMaintainer(
        spark, stateDir,
        Seq("images" -> imagesSchema, "imgBands" -> bandsSchema, "imgPairs" -> pairsSchema),
        (d, frames) => new EpochStore(spark, s"$d/images", frames)) {
    GraftFunctions.register(spark)

    private[graft] val text = new ArcStream.Maintainer(
      spark, evalDocs, model, cap = capText, minIsoPpm = minIsoPpm,
      trainDim = trainDim, trainRounds = trainRounds,
      stateDir = stateDir.map(d => s"$d/text"))

    private val initial: Map[String, DataFrame] = loadOrEmpty()

    // the clip routes (audio + video) need only their decoded-stats
    // tables: both dedups are EXACT (fingerprint / signature), so the
    // greedy keep-first drop is a window VIEW over state — no pair
    // mining, no posting lists. A fourth store keeps the image store's
    // on-disk layout untouched for old stateDirs.
    private val clipSchemas = Seq(
      "audio" -> audioSchema, "video" -> videoSchema)
    private val clipStore: Option[EpochStore] =
      stateDir.map(d => new EpochStore(spark, s"$d/clips", clipSchemas))
    private val clipInitial: Map[String, DataFrame] = clipStore
      .flatMap(_.load())
      .getOrElse(EpochStore.emptyFrames(spark, clipSchemas))

    @volatile private var images: DataFrame = initial("images")
    @volatile private var imgBands: DataFrame = initial("imgBands")
    @volatile private var imgPairs: DataFrame = initial("imgPairs")
    @volatile private var audio: DataFrame = clipInitial("audio")
    @volatile private var video: DataFrame = clipInitial("video")

    /** The live decodable-image table. */
    def imageState: DataFrame = images

    /** The live decoded-clip tables. */
    def audioState: DataFrame = audio
    def videoState: DataFrame = video

    private def bandsOf(df: DataFrame): DataFrame = {
      val bandVals = (0 until 4).map(b =>
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)))
      df.select(
          col("img_id"),
          posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
        .select(col("band_id"), col("band_val"), col("img_id"))
    }

    private[graft] def update(batch: DataFrame, epochId: Long): Unit = {
      text.update(batch, epochId)
      // one walk+decode pass over the delivery, map-side gate included
      val gated = MediaArc
        .gatedImages(
          batch.select(col("doc_id").cast(LongType), col("source"), col("text")))
        .localCheckpoint(true)
      // replay guard: an image already folded mines nothing new
      val fresh = gated
        .join(images.select(col("img_id")), Seq("img_id"), "left_anti")
        .localCheckpoint(true)
      val freshBands = bandsOf(fresh).localCheckpoint(true)
      val fullBands = imgBands.unionByName(freshBands).localCheckpoint(true)
      // candidates: NEW bands probe the full posting lists (new×old and
      // new×new; old×old pairs cannot newly qualify — hashes are fixed)
      val cand = freshBands
        .select(col("band_id"), col("band_val"), col("img_id").as("p_id"))
        .join(
          fullBands.select(col("band_id"), col("band_val"), col("img_id").as("q_id")),
          Seq("band_id", "band_val"))
        .where(col("p_id") =!= col("q_id"))
        .select(
          least(col("p_id"), col("q_id")).as("a_id"),
          greatest(col("p_id"), col("q_id")).as("b_id"))
        .distinct()
      val sims = images.select(col("img_id"), col("sim"))
        .unionByName(fresh.select(col("img_id"), col("sim")))
      val newPairs = cand
        .join(sims.select(col("img_id").as("a_id"), col("sim").as("a_sim")), "a_id")
        .join(sims.select(col("img_id").as("b_id"), col("sim").as("b_sim")), "b_id")
        .where(GraftFunctions.hamming64(col("a_sim"), col("b_sim")) <= 3)
        .select(col("a_id"), col("b_id"))

      images = images.unionByName(fresh).localCheckpoint(true)
      imgBands = fullBands
      imgPairs = imgPairs.unionByName(newPairs).localCheckpoint(true)
      store.foreach(_.save(epochId, Map(
        "images" -> images, "imgBands" -> imgBands, "imgPairs" -> imgPairs)))

      // clip routes: one walk+decode pass each, anti-join-guarded append
      // (clip identity is injective and decoded stats are fixed, so a
      // replayed batch folds nothing). Screen/dedup/cap stay VIEWS.
      val docsCols = batch
        .select(col("doc_id").cast(LongType), col("source"), col("text"))
      val freshAudio = MediaArc
        .gatedAudio(docsCols)
        .join(audio.select(col("aud_id")), Seq("aud_id"), "left_anti")
      audio = audio
        .unionByName(freshAudio.select(audioSchema.fieldNames.map(col).toSeq: _*))
        .localCheckpoint(true)
      val freshVideo = MediaArc
        .gatedVideo(docsCols)
        .join(video.select(col("vid_id")), Seq("vid_id"), "left_anti")
      video = video
        .unionByName(freshVideo.select(videoSchema.fieldNames.map(col).toSeq: _*))
        .localCheckpoint(true)
      clipStore.foreach(_.save(epochId, Map("audio" -> audio, "video" -> video)))
    }

    /** The curated audio clips — after batch i, ≡ [[MediaArc.audioRoute]]
      * (x154) over every document of batches 1..i: the batch twin's own
      * screen/dedup/cap verbs run as a view over the decoded-stats
      * state, so a later epoch's smaller-id clip retroactively evicts a
      * fingerprint-identical clip kept epochs ago.
      */
    def curatedAudio(): DataFrame =
      MediaArc.capAudio(
          MediaArc.dedupAudio(MediaArc.screenAudio(audio)), capAud)
        .select(
          col("doc_id"), col("source"), col("aud_j"), col("aud_id"),
          col("n_samples"), col("sample_rate"), col("duration_ms"),
          col("sum_sq"), col("sum_abs"), col("peak"), col("zero_cross"))

    /** The curated video clips — after batch i, ≡ [[MediaArc.videoRoute]]
      * (x156) over every document of batches 1..i (the [[curatedAudio]]
      * argument on the signature dedup).
      */
    def curatedVideo(): DataFrame =
      MediaArc.capVideo(
          MediaArc.dedupVideo(MediaArc.screenVideo(video)), capVid)
        .select(
          col("doc_id"), col("source"), col("vid_j"), col("vid_id"),
          col("n_bytes"), col("n_sampled"), col("sig"))

    /** The curated multimodal pairs — after batch i, ≡
      * [[MediaArc.pipeline]] over every document of batches 1..i.
      */
    def curated(): DataFrame = {
      val drops = imgPairs.select(col("b_id").as("img_id")).distinct()
      val kept = images.join(drops, Seq("img_id"), "left_anti")
      val capped = MediaArc.capImages(kept, capImg)
      text.curatedPages() match {
        case None => MediaArc.emptyPairsOutput(spark)
        case Some(pages) =>
          MediaArc.fusePairs(
            capped,
            pages.select(col("doc_id"), col("page_id"), col("lang_pred"), col("n_tokens")))
      }
    }
  }

}

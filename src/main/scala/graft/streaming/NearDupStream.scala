package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.operators.Dedup

/** Incremental MinHash-LSH near-dup mining over an unbounded DOCUMENT
  * stream — the eleventh batch/stream twin, and the missing piece of the
  * incremental-corpus story the r10 verdict named: ingest twins (x67/x75)
  * and the components maintainer existed, but the band index itself was
  * batch-only, so every new shard re-banded the whole corpus.
  *
  * The maintained state is exactly the structure a 100 TB incremental
  * dedup service keeps warm:
  *   - `bandIndex` (band_id, band_hash, rep_id): the LSH posting lists —
  *     tens of bytes per DISTINCT text, the thing new documents probe;
  *   - `classes`/`members`: the exact-duplicate pre-collapse carried
  *     across batches (the [[Dedup.minhashLshPairs]] skew guard — an
  *     m-copy boilerplate page arriving over m batches still never mines
  *     m²/2 band candidates, because only its first copy is ever banded);
  *   - `repShingles` (rep_id, sh): the verification side. This is the one
  *     O(corpus-text) table; a production deployment swaps it for a
  *     compacted shingle/KV store or signature-only verification — the
  *     INDEX and the fold logic are unchanged, which is why it is kept a
  *     separate frame;
  *   - `repPairs`: verified representative pairs, so a member arriving
  *     late inherits its class's verified neighbors without re-probing.
  *
  * Per micro-batch the fold is candidate-bound, never corpus-bound: new
  * texts are md5-collapsed against `classes`, only genuinely-new
  * representatives are shingled and banded, candidates come from the
  * equi-join of the NEW bands against the maintained index (new×old and
  * new×new — an old×old pair can never newly qualify because Jaccard of
  * two fixed texts never changes), and verification is the same exact
  * 6-dp Jaccard as the batch operator. Emission is the PAIR DELTA — every
  * member-level pair involving at least one document of this batch:
  * within-class duplicates (jac 1.0), the full member fan-out of
  * newly-verified rep pairs, and late members joining previously-verified
  * rep pairs. Accumulated emissions therefore satisfy the twin-program
  * prefix contract, which NearDupStreamSpec pins after every micro-batch:
  *
  *   pairs(batches 1..i) ≡ Dedup.minhashLshPairs(docs of batches 1..i)
  *
  * including pairs whose two documents arrived in different batches.
  *
  * Like [[ComponentsStream]], connectivity of the state is GLOBAL (a new
  * doc can pair with any prior doc), so the twin is a `foreachBatch`
  * maintainer, not per-key state; frames are localCheckpoint'd per batch
  * (§8.9 lineage-truncation rule) and the fold is idempotent under batch
  * replay (re-folding docs whose md5 classes already exist adds no new
  * reps, no new bands, and the emission delta for them dedups against
  * `members`).
  *
  * RESTART SAFETY: with a `stateDir` the Maintainer persists all six
  * frames per epoch through [[EpochStore]] (every frame first, one
  * commit marker second, GC to two epochs); the fold's replay guard
  * (left_anti on `members`) makes a marker-but-no-offset replay a
  * no-op, and a mid-epoch crash falls back one epoch and re-folds.
  */
object NearDupStream extends StreamTwin {

  final case class Doc(doc_id: Long, text: String)

  type In = Doc
  type Mt = Maintainer

  // the six state frames, schema-declared once for both the fresh
  // empties and the EpochStore restart loader
  private val frameSchemas: Seq[(String, StructType)] = Seq(
    "classes" -> StructType(Seq(
      StructField("text_md5", StringType), StructField("rep_id", LongType),
      StructField("shingled", org.apache.spark.sql.types.BooleanType))),
    "members" -> StructType(Seq(
      StructField("rep_id", LongType), StructField("member_id", LongType))),
    "bandIndex" -> StructType(Seq(
      StructField("band_id", org.apache.spark.sql.types.IntegerType),
      StructField("band_hash", LongType), StructField("rep_id", LongType))),
    "repShingles" -> StructType(Seq(
      StructField("rep_id", LongType),
      StructField("sh", org.apache.spark.sql.types.ArrayType(StringType)))),
    "repPairs" -> StructType(Seq(
      StructField("a_rep", LongType), StructField("b_rep", LongType),
      StructField("jac", DoubleType))),
    "allPairs" -> StructType(Seq(
      StructField("a_id", LongType), StructField("b_id", LongType),
      StructField("jac", DoubleType))))

  final class Maintainer(
      spark: SparkSession,
      n: Int = 3,
      threshold: Double = 0.5,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      stateDir: Option[String] = None
  ) extends EpochMaintainer(spark, stateDir, frameSchemas, new EpochStore(spark, _, _)) {

    private val initial: Map[String, DataFrame] = loadOrEmpty()

    @volatile private var classes: DataFrame = initial("classes")
    @volatile private var members: DataFrame = initial("members")
    @volatile private var bandIndex: DataFrame = initial("bandIndex")
    @volatile private var repShingles: DataFrame = initial("repShingles")
    @volatile private var repPairs: DataFrame = initial("repPairs")
    @volatile private var allPairs: DataFrame = initial("allPairs")

    /** Accumulated emitted pairs — after batch i, ≡ the batch operator
      * over every document of batches 1..i.
      */
    def pairs: DataFrame = allPairs

    /** The live LSH posting lists (band_id, band_hash, rep_id). */
    def index: DataFrame = bandIndex

    /** The exact-dup class table (text_md5, rep_id, shingled) — read by
      * [[ArcStream]] to map verified class pairs onto its own keep-min
      * survivor table.
      */
    private[streaming] def classesState: DataFrame = classes

    /** The verified representative pairs (a_rep, b_rep, jac) — the
      * text-level near-dup facts [[ArcStream]]'s greedy keep-first view
      * derives its drop set from.
      */
    private[streaming] def verifiedRepPairs: DataFrame = repPairs

    private[graft] def update(newDocs: DataFrame, epochId: Long): Unit = {
      GraftFunctions.register(spark)
      val b = newDocs
        .select(col("doc_id").cast(LongType), col("text"))
        .withColumn("text_md5", md5(col("text")))
      // replay guard: a doc id already folded (same batch re-delivered)
      // must not fan out pairs twice
      val fresh = b.join(members.select(col("member_id").as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)

      // ---- class upsert (the cross-batch exact-dup pre-collapse) ------
      val hitExisting = fresh
        .join(classes.select(col("text_md5"), col("rep_id")), "text_md5")
        .select(col("rep_id"), col("doc_id").as("member_id"))
      val freshTexts = fresh.join(classes.select(col("text_md5")), Seq("text_md5"), "left_anti")
      val newClasses = freshTexts
        .groupBy(col("text_md5"))
        .agg(min(col("doc_id")).as("rep_id"), any_value(col("text")).as("text"))
        .localCheckpoint(true)
      val newClassMembers = freshTexts
        .select(col("text_md5"), col("doc_id").as("member_id"))
        .join(newClasses.select(col("text_md5"), col("rep_id")), "text_md5")
        .select(col("rep_id"), col("member_id"))
      val newMembers = hitExisting.unionByName(newClassMembers).localCheckpoint(true)

      // ---- band only the genuinely-new representatives ----------------
      val newSh = Dedup
        .withShingles(newClasses.select(col("rep_id").as("doc_id"), col("text")), n)
        .select(col("doc_id").as("rep_id"), col("sh"))
        .localCheckpoint(true)
      val newShNon = newSh.where(size(col("sh")) > 0)
      val newBanded = newShNon
        .select(
          col("rep_id"),
          posexplode(GraftFunctions.minhashBands(col("sh"), bands, rowsPerBand))
            .as(Seq("band_id", "band_hash")))
        .select(col("band_id"), col("band_hash"), col("rep_id"))
        .localCheckpoint(true)

      // ---- candidates: new bands probe the maintained index -----------
      // (old×old can never newly qualify — Jaccard of fixed texts is
      // constant — so the probe side is only this batch's new reps)
      val fullIndex = bandIndex.unionByName(newBanded)
      val cand = newBanded
        .select(col("band_id"), col("band_hash"), col("rep_id").as("p_rep"))
        .join(fullIndex.select(col("band_id"), col("band_hash"), col("rep_id").as("q_rep")),
          Seq("band_id", "band_hash"))
        .where(col("p_rep") =!= col("q_rep"))
        .select(
          least(col("p_rep"), col("q_rep")).as("a_rep"),
          greatest(col("p_rep"), col("q_rep")).as("b_rep"))
        .distinct()
      val shAll = repShingles.unionByName(newSh)
      val newRepPairs = cand
        .join(shAll.select(col("rep_id").as("a_rep"), col("sh").as("a_sh")), "a_rep")
        .join(shAll.select(col("rep_id").as("b_rep"), col("sh").as("b_sh")), "b_rep")
        .withColumn("common", size(array_intersect(col("a_sh"), col("b_sh"))))
        .withColumn("jac",
          round(Dedup.jaccard(size(col("a_sh")), size(col("b_sh")), col("common")), 6))
        .where(col("jac") >= threshold)
        .select(col("a_rep"), col("b_rep"), col("jac"))
        .localCheckpoint(true)

      // ---- emission: every member pair involving ≥1 new document ------
      val membersAll = members.unionByName(newMembers).localCheckpoint(true)
      val shingledReps = classes.where(col("shingled")).select(col("rep_id"))
        .unionByName(newClasses.join(newShNon, Seq("rep_id"), "left_semi").select(col("rep_id")))
      // (1) within-class: a new member pairs with every other member of a
      // shingled class (exact duplicates, jac 1.0 by definition)
      val within = newMembers
        .join(shingledReps, "rep_id")
        .join(membersAll.select(col("rep_id"), col("member_id").as("other_id")), "rep_id")
        .where(col("member_id") =!= col("other_id"))
        .select(
          least(col("member_id"), col("other_id")).as("a_id"),
          greatest(col("member_id"), col("other_id")).as("b_id"),
          lit(1.0).as("jac"))
      // (2) newly-verified rep pairs fan out over their FULL member sets
      val mA = membersAll.select(col("rep_id").as("a_rep"), col("member_id").as("a_m"))
      val mB = membersAll.select(col("rep_id").as("b_rep"), col("member_id").as("b_m"))
      val crossNew = newRepPairs.join(mA, "a_rep").join(mB, "b_rep")
        .select(least(col("a_m"), col("b_m")).as("a_id"),
          greatest(col("a_m"), col("b_m")).as("b_id"), col("jac"))
      // (3) late members inherit previously-verified rep pairs
      val nmA = newMembers.select(col("rep_id").as("a_rep"), col("member_id").as("a_m"))
      val nmB = newMembers.select(col("rep_id").as("b_rep"), col("member_id").as("b_m"))
      val crossOld = repPairs.join(nmA, "a_rep").join(mB, "b_rep")
        .select(col("a_m"), col("b_m"), col("jac"))
        .unionByName(repPairs.join(mA, "a_rep").join(nmB, "b_rep")
          .select(col("a_m"), col("b_m"), col("jac")))
        .select(least(col("a_m"), col("b_m")).as("a_id"),
          greatest(col("a_m"), col("b_m")).as("b_id"), col("jac"))
      // localCheckpoint each part before the union: Spark's Union
      // constraint rewrite (UnionBase.rewriteConstraints) throws
      // `key not found` when a child's inherited filter constraint
      // references an attribute outside the first child's output map —
      // checkpointed relations carry no constraints, and the three parts
      // are micro-batch-sized anyway
      val newPairs = within.localCheckpoint(true)
        .unionByName(crossNew.localCheckpoint(true))
        .unionByName(crossOld.localCheckpoint(true))
        .distinct()

      // ---- state swap -------------------------------------------------
      classes = classes.unionByName(
        newClasses.select(col("text_md5"), col("rep_id"))
          .join(newShNon.select(col("rep_id"), lit(true).as("shingled")), Seq("rep_id"), "left")
          .na.fill(false, Seq("shingled"))
          .select(col("text_md5"), col("rep_id"), col("shingled")))
        .localCheckpoint(true)
      members = membersAll
      bandIndex = fullIndex.localCheckpoint(true)
      repShingles = shAll.localCheckpoint(true)
      repPairs = repPairs.unionByName(newRepPairs).localCheckpoint(true)
      allPairs = allPairs.unionByName(newPairs).localCheckpoint(true)
      store.foreach(_.save(epochId, Map(
        "classes" -> classes, "members" -> members, "bandIndex" -> bandIndex,
        "repShingles" -> repShingles, "repPairs" -> repPairs, "allPairs" -> allPairs)))
    }
  }

}

package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cluster, Dedup, QualityFilter, Scrub, TextAnalysis}

/** `curation_batch`: one generated corpus through the staged curation
  * chain, each stage writing parquet the next one reads:
  * `Dedup.exact` → `Dedup.minhashLshPairs` → `Cluster.connectedComponents`
  * → `Cluster.canonical` → `TextAnalysis.qualityScore` +
  * `QualityFilter.gopherFilter` → `Scrub.withPiiRedaction`.
  * One op is one pass of the whole chain over the corpus.
  *
  * MinHash runs 32 bands × 4 rows (128 hashes, as the 16 × 8 default):
  * a pair at Jaccard 0.8 then becomes a candidate with probability
  * 1 − (1 − 0.8⁴)³² ≈ 1 − 5·10⁻⁸, so the planted-pair recall check does
  * not fail by chance.
  */
final class CurationBatch(spark: SparkSession, seed: Long, tracer: Tracer, dir: String, docs: Int)
    extends Workload {
  import spark.implicits._
  import CurationBatch._

  private val corpus = new CorpusGen(seed).corpus(docs)
  private val corpusPath = s"$dir/corpus"
  corpus.docs.toDF().repartition(4).write.parquet(corpusPath)

  private def out(i: Int, stage: String) = s"$dir/pass$i/$stage"

  def before(i: Int, traced: Boolean): Long = docs.toLong

  def run(i: Int, traced: Boolean): Unit = {
    def stage(name: String)(body: => Unit): Unit = if (traced) tracer.span(name, i)(body) else body
    val body = () => {
      val all = spark.read.parquet(corpusPath)
      stage("operators.dedup_exact") {
        Dedup.exact(all).write.parquet(out(i, "exact"))
      }
      val kept = all.join(
        spark.read.parquet(out(i, "exact")).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      stage("operators.minhash_pairs") {
        Dedup.minhashLshPairs(kept, N, Threshold, Bands, Rows).write.parquet(out(i, "pairs"))
      }
      stage("operators.components") {
        Cluster.connectedComponents(spark.read.parquet(out(i, "pairs"))).write.parquet(out(i, "components"))
      }
      stage("operators.canonical") {
        val scored = kept.select(col("doc_id").as("id"), length(col("text")).cast("double").as("score"))
        Cluster.canonical(scored, spark.read.parquet(out(i, "components"))).write.parquet(out(i, "canonical"))
      }
      stage("functions.quality") {
        val canon = all.join(
          spark.read.parquet(out(i, "canonical")).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        QualityFilter.gopherFilter(canon.withColumn("quality", TextAnalysis.qualityScore(col("text"))))
          .write.parquet(out(i, "quality"))
      }
      stage("functions.scrub") {
        Scrub.withPiiRedaction(spark.read.parquet(out(i, "quality"))).write.parquet(out(i, "scrubbed"))
      }
    }
    if (traced) tracer.op(i)(body()) else body()
  }

  // ---- the plain-Scala reference -------------------------------------
  private lazy val texts: Map[Long, String] = corpus.docs.map(d => d.doc_id -> d.text).toMap
  private lazy val classes: Map[String, Vector[Long]] =
    corpus.docs.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.doc_id).sorted }
  private lazy val keepOf: Map[Long, Long] =
    classes.values.flatMap(ids => ids.map(_ -> ids.head)).toMap
  private lazy val shingled: Map[Long, Set[String]] =
    classes.values.map(_.head).map(id => id -> Models.shingles(texts(id), N)).toMap
  /** Planted near-duplicate pairs of distinct kept texts with Jaccard ≥ 0.8. */
  private lazy val mustFind: Set[(Long, Long)] = corpus.variants.flatMap { case (a, b) =>
    val (ka, kb) = (keepOf(a), keepOf(b))
    val p = (math.min(ka, kb), math.max(ka, kb))
    if (ka != kb && Models.jaccard(shingled(ka), shingled(kb)) >= 0.8) Some(p) else None
  }.toSet

  private def gopherKeeps(text: String): Boolean = {
    val toks = text.trim.split("\\s+")
    val n = toks.length.toLong
    val chars = toks.map(_.length.toLong).sum
    val stops = toks.toSet.intersect(CorpusGen.Stopwords.toSet).size
    n >= 30 && n <= 90 && 30 * n <= 10 * chars && 10 * chars <= 52 * n && stops >= 2
  }

  /** Stage `stage` of every pass that wrote it, read in one job: pass → rows of `cols`. */
  private def readAll(ops: Int, stage: String, cols: Column*): Map[Int, Array[Row]] = {
    val paths = (0 until ops).map(out(_, stage)).filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) Map.empty
    else spark.read.parquet(paths: _*)
      .select(regexp_extract(input_file_name(), "/pass(\\d+)/", 1).cast("int") +: cols: _*)
      .collect().groupBy(_.getInt(0))
  }

  /** Check every stage of one pass against the reference; returns the stages that differ. */
  private def failures(stage: String => Array[Row]): Seq[String] = {
    def longs(r: Row) = (r.getLong(1), r.getLong(2))
    // exact: one row per distinct text, keep = min id, n = class size
    val exact = stage("exact").map(longs).toSet
    val exactOk = exact == classes.values.map(ids => (ids.head, ids.length.toLong)).toSet
    // pairs: each verified at the threshold; every planted ≥ 0.8 pair found
    val pairs = stage("pairs").map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val pairsOk = pairs.forall { case (a, b, j) =>
      val ref = Models.jaccard(shingled(a), shingled(b))
      a < b && ref >= Threshold && math.abs(j - BigDecimal(ref).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9
    } && mustFind.subsetOf(pairs.map(p => (p._1, p._2)).toSet)
    // components: min reachable id over the reported pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b, _) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val comps = stage("components").map(longs).toSet
    val vertices = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val compsOk = comps == vertices.map(v => (v, find(v)))
    // canonical: per component, the longest text, ties to the smaller id
    val canon = stage("canonical").map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val refCanon = classes.values.map(_.head).groupBy(id => if (vertices(id)) find(id) else id).map { case (c, ids) =>
      (c, ids.maxBy(id => (texts(id).length, -id)), ids.size.toLong)
    }.toSet
    val canonOk = canon == refCanon
    // quality: the Gopher survivors of the canonical docs
    val quality = stage("quality").map(_.getLong(1)).toSet
    val qualityOk = quality == refCanon.map(_._2).filter(id => gopherKeeps(texts(id)))
    // scrub: no planted PII string survives
    val scrubbed = stage("scrubbed").map(r => (r.getLong(1), r.getString(2)))
    val secrets = corpus.pii.map(_._2)
    val piiDocs = corpus.pii.map(_._1).toSet
    val scrubOk = scrubbed.length == quality.size && scrubbed.exists(r => piiDocs(r._1)) &&
      scrubbed.forall { case (_, t) => !secrets.exists(t.contains) }
    Seq("exact" -> exactOk, "pairs" -> pairsOk, "components" -> compsOk, "canonical" -> canonOk,
      "quality" -> qualityOk, "scrub" -> scrubOk).collect { case (s, false) => s }
  }

  def check(ops: Int): Seq[Int] = {
    def longs(names: String*) = names.map(n => col(n).cast("long"))
    val stages = scala.util.Try(Map(
      "exact" -> readAll(ops, "exact", longs("keep_id", "n_copies"): _*),
      "pairs" -> readAll(ops, "pairs", longs("a_id", "b_id") :+ col("jac").cast("double"): _*),
      "components" -> readAll(ops, "components", longs("id", "comp"): _*),
      "canonical" -> readAll(ops, "canonical", longs("comp_id", "keep_id", "n_members"): _*),
      "quality" -> readAll(ops, "quality", longs("doc_id"): _*),
      "scrubbed" -> readAll(ops, "scrubbed", longs("doc_id") :+ col("text_redacted"): _*)))
    (0 until ops).filter { i =>
      // a pass that wrote no rows for a stage reads as empty; one that never wrote it fails below
      val bad = stages.flatMap(st => scala.util.Try {
        require(st.keys.forall(k => Files.exists(Paths.get(out(i, k)))), s"pass $i is missing a stage output")
        failures(k => st(k).getOrElse(i, Array.empty[Row]))
      }).fold(e => Seq(e.toString), identity)
      if (bad.nonEmpty) System.err.println(s"pass $i differs from the reference: ${bad.mkString(", ")}")
      bad.nonEmpty
    }
  }

  def layers(traced: Seq[Int], fixed: Seq[Int]): Map[String, Double] = {
    val L = Layers(tracer, traced, fixed)
    val ops = Seq("dedup_exact", "minhash_pairs", "components", "canonical").map("operators." + _)
    val fns = Seq("quality", "scrub").map("functions." + _)
    val opMetrics = ops.map { o =>
      L.time(o) ++ L.counts(o, "jobs", "stages", "shuffle_bytes", "spill_bytes") ++
        Map(s"$o.rows_out" -> L.count(o, "output_rows"))
    }
    // rows entering each map-only stage: the canonical survivors, then the Gopher survivors
    val rowsIn = Map("functions.quality" -> "operators.canonical", "functions.scrub" -> "functions.quality")
    val fnMetrics = fns.map { f =>
      val cpu = L.timed(f, "executor_cpu_s")
      val in = L.count(rowsIn(f), "output_rows")
      L.time(f) ++ cpu ++ Map(s"$f.cpu_ns_per_row" -> (if (in > 0) cpu.values.head * 1e9 / in else 0.0))
    }
    (opMetrics ++ fnMetrics).reduce(_ ++ _)
  }
}

object CurationBatch {
  val N = 3
  val Threshold = 0.5
  val Bands = 32
  val Rows = 4
}

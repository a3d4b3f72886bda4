package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.streaming.NearDupStream

/** `neardup_stream`: the curation corpus fed in fixed-size epochs to
  * `NearDupStream.start` (file-drop docs dir, `AvailableNow`, checkpoint)
  * with a maintainer persisting its state under a `stateDir`. One op is
  * one epoch. The first measured epoch first restarts the maintainer from
  * that `stateDir`, as a process restart would.
  *
  * It runs the same MinHash code as `curation_batch`, but incrementally,
  * so a change that makes the fold corpus-bound or adds materializations
  * shows here. Its epochs cost several seconds each and grow with the
  * state, which is why it is not among the workloads BENCHMARK.json runs.
  */
final class NearDupEpochs(spark: SparkSession, seed: Long, tracer: Tracer, dir: String,
    perEpoch: Int, restartAt: Int) extends Workload {
  import spark.implicits._
  import CurationBatch.{Bands, N, Rows, Threshold}

  private val gen = new CorpusGen(seed)
  private var corpus = gen.corpus(perEpoch * 8)
  private val docsDir = s"$dir/docs"
  private val ckpt = s"$dir/checkpoint"
  private val stateDir = s"$dir/state"
  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def maintainer() = new NearDupStream.Maintainer(spark, N, Threshold, Bands, Rows, Some(stateDir))
  private var m = maintainer()
  private var fed = 0

  def before(i: Int, traced: Boolean): Long = {
    if (corpus.docs.length < (i + 1) * perEpoch) corpus = gen.corpus(corpus.docs.length * 2)
    corpus.docs.slice(i * perEpoch, (i + 1) * perEpoch).toDF().coalesce(1).write.mode("append").parquet(docsDir)
    perEpoch.toLong
  }

  def run(i: Int, traced: Boolean): Unit = {
    val epoch = () => {
      if (i == restartAt) tracer.span("streaming.resume", i) {
        m = maintainer()
        require(m.resumed, "restart found no committed epoch")
      }
      val docs = spark.readStream.schema("doc_id long, text string").parquet(docsDir).as[NearDupStream.Doc]
      NearDupStream.start(docs, m, Some(ckpt), Trigger.AvailableNow()).awaitTermination()
    }
    if (traced) tracer.op(i)(tracer.span("streaming.epoch", i)(epoch())) else epoch()
    fed = i + 1
  }

  override def after(i: Int, traced: Boolean): Unit =
    if (traced) tracer.named("streaming.epoch", i).foreach(
      _.add("state_bytes", fs.getContentSummary(new Path(stateDir)).getLength.toDouble))

  /** The accumulated pairs must equal the batch operator over every doc fed. */
  def check(ops: Int): Seq[Int] = {
    val all = corpus.docs.take(fed * perEpoch).toDF()
    val want = Dedup.minhashLshPairs(all, N, Threshold, Bands, Rows).as[(Long, Long, Double)].collect().toSet
    val got = m.pairs.as[(Long, Long, Double)].collect()
    if (got.length == want.size && got.toSet == want) Seq.empty else 0 until ops
  }

  def layers(traced: Seq[Int], fixed: Seq[Int]): Map[String, Double] = {
    val L = Layers(tracer, traced, fixed)
    L.time("streaming.epoch") ++ L.counts("streaming.epoch", "jobs", "checkpoint_jobs", "shuffle_bytes") ++
      L.gap("streaming.epoch") ++
      L.samples("streaming.state_bytes", traced.flatMap(i => tracer.named("streaming.epoch", i)).map(_.count("state_bytes"))) ++
      L.samples("streaming.resume_s", tracer.all.filter(_.name == "streaming.resume").map(_.wallS)) ++
      L.samples("streaming.trigger_overhead_s", L.opSpans.map(_.count("trigger_overhead_s")))
  }
}

package graftbench

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{ScheduledRunner, Schemas}
import graft.operators.OptionsPipeline
import graft.sinks.ParquetSink

/** `options_ticks`: consecutive hourly cron ticks through
  * `ScheduledRunner.runTick` (file-drop snapshot dir, `AvailableNow`,
  * checkpoint) into one growing `ParquetSink`. One op is one tick.
  *
  * A traced tick makes the same calls `PipelineStream.runOne` makes (tail
  * read, `runBatch`, append), each inside its own span, so the layers can
  * be timed from here without touching the engine.
  */
final class OptionsTicks(spark: SparkSession, seed: Long, tracer: Tracer, dir: String) extends Workload {

  private val gen = new ChainGen(seed)
  private val model = new Models.OptionsChain(300)
  private val snap = s"$dir/snapshots"
  private val sink = s"$dir/sink"
  private val ckpt = s"$dir/checkpoint"
  private val expected = scala.collection.mutable.Map.empty[Int, Vector[Models.OptRow]]
  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Snapshot files are written with the plain parquet writer, not a
  // Spark job, so staging a tick's input neither warms nor loads Spark.
  private val tickerType = MessageTypeParser.parseMessageType(
    Schemas.ticker.fields.map { f =>
      if (f.name == "src_seq") "optional int64 src_seq;" else s"optional binary ${f.name} (UTF8);"
    }.mkString("message ticker { ", " ", " }"))

  private def writeSnapshot(rows: Seq[Tick], path: String): Unit = {
    val w = ExampleParquetWriter.builder(new Path(path)).withType(tickerType)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(tickerType)
    try rows.foreach { t =>
      val g = groups.newGroup()
      Seq("symbol" -> t.symbol, "contract_type" -> t.contract_type, "strike_price" -> t.strike_price,
        "spot_price" -> t.spot_price, "mark_price" -> t.mark_price, "oi_contracts" -> t.oi_contracts)
        .foreach { case (k, v) => if (v != null) g.append(k, v) }
      g.append("src_seq", t.src_seq)
      w.write(g)
    } finally w.close()
  }

  def before(i: Int, traced: Boolean): Long = {
    val raw = gen.snapshot(i)
    val (today, d, t) = gen.clock(i)
    expected(i) = model.tick(raw, today, d, t)
    if (traced && fs.exists(new Path(sink))) tracer.span("bench.state_rows", i) {
      tracer.count("rows", ParquetSink.readStateTail(spark, sink, 300).count().toDouble)
    }
    writeSnapshot(raw, s"$snap/tick-$i.parquet")
    raw.length.toLong
  }

  def run(i: Int, traced: Boolean): Unit =
    if (!traced)
      ScheduledRunner.runTick(spark, OptionsPipeline.Hourly, snap, sink, ckpt,
        Trigger.AvailableNow(), () => gen.clock(i))
    else tracer.op(i) {
      val (today, d, t) = gen.clock(i)
      spark.readStream.schema(Schemas.ticker).parquet(snap)
        .writeStream
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val state = tracer.span("sinks.read_state_tail", i) {
            if (fs.exists(new Path(sink)))
              ParquetSink.readStateTail(spark, sink, 300).select("SYMBOL", "Close", "OI", "state_seq")
            else ParquetSink.emptyState(spark)
          }
          val out = tracer.span("operators.run_batch", i) {
            OptionsPipeline.runBatch(batch.toDF(), state, OptionsPipeline.Hourly, today, d, t)
          }
          tracer.span("sinks.append", i) { ParquetSink.append(out, sink, batchId) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    }

  override def after(i: Int, traced: Boolean): Unit =
    if (traced) tracer.named("sinks.append", i).headOption.foreach { s =>
      val files = Option(fs.listStatus(new Path(sink))).toSeq.flatten
        .filter(_.getPath.getName == s"batch_id=$i")
        .flatMap(st => fs.listStatus(st.getPath).toSeq)
        .count(_.getPath.getName.endsWith(".parquet"))
      s.add("files", files.toDouble)
    }

  /** Every sink row, batch by batch in `sink_seq` order, must equal the
    * model's rows for that tick. Returns the ticks that differ.
    */
  def check(ops: Int): Seq[Int] = {
    val got = spark.read.parquet(sink)
      .select((Schemas.sinkColumns :+ "sink_seq" :+ "batch_id").map(col): _*)
      .collect()
      .groupBy(_.getAs[Number]("batch_id").intValue)
      .map { case (b, rows) =>
        b -> rows.sortBy(_.getAs[Long]("sink_seq")).toVector.map { r =>
          Models.OptRow(r.getString(0), r.getString(1), r.getString(2), r.getDouble(3), r.getString(4),
            r.getDouble(5), r.getString(6), r.getDouble(7), r.getLong(8), r.getDouble(9), r.getLong(10))
        }
      }
    (0 until ops).filter(i => !got.get(i).contains(expected(i)))
  }

  def layers(traced: Seq[Int], fixed: Seq[Int]): Map[String, Double] = {
    val L = Layers(tracer, traced, fixed)
    L.time("sinks.read_state_tail") ++ L.counts("sinks.read_state_tail", "jobs") ++
      Map("sinks.read_state_tail.rows" -> L.count("bench.state_rows", "rows")) ++
      L.time("operators.run_batch") ++ L.counts("operators.run_batch", "jobs", "stages") ++
      L.time("sinks.append") ++ L.counts("sinks.append", "jobs", "stages", "tasks", "shuffle_bytes", "files") ++
      L.gap("sinks.append") ++
      L.samples("streaming.trigger_overhead_s", L.opSpans.map(_.count("trigger_overhead_s")))
  }
}

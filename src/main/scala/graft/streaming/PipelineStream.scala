package graft.streaming

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.OptionsPipeline
import graft.sinks.ParquetSink

/** The reference's SCHEDULER loop as a Structured Streaming query
  * (SURVEY.md §3 entry point 3: GitHub Actions cron → `main()` →
  * fetch → diff-vs-sheet-tail → append to sheet, main.py:353-396).
  *
  * Each micro-batch IS one reference run: `foreachBatch` executes the full
  * batch lifecycle — read the sink's tail-N back as state (the sheet
  * re-read, main.py:252-264), run [[OptionsPipeline.runBatch]], append the
  * result with a monotone `sink_seq` ([[ParquetSink.append]]). The sink
  * doubles as the state store exactly as the reference's sheet does, so
  * consecutive micro-batches chain Open/OI_Change the same way consecutive
  * cron runs do.
  *
  * What streaming adds over cron (SURVEY.md §2.5): checkpointed batch ids
  * give at-least-once delivery, and the trigger replaces the external
  * scheduler. The append is not idempotent: [[ParquetSink.append]] never
  * checks for an existing `batch_id=N`, so a replay after a crash between
  * the write and the commit log re-appends the batch (an exactly-once
  * sink is ROADMAP item 1). `clock` is injected so batch
  * timestamps stay run-constant and tests stay deterministic (same reason
  * runBatch takes `batchDate`/`batchTime` instead of reading the wall
  * clock, §7.4).
  *
  * Scale: everything inside the batch is the runBatch plan (typed-parse
  * cache, released when the append returns; broadcast delta join); the
  * state read is a bounded top-N whose directory choice reads footers on
  * the driver. The one cross-batch serialization point is the sink append
  * — inherent to the reference's chain-through-the-sink design, not to
  * this adapter.
  */
object PipelineStream {

  /** Wire a streaming ticker source into the per-batch lifecycle.
    *
    * @param raw        streaming DataFrame in Schemas.ticker shape
    * @param sinkPath   parquet sink path (also the state store)
    * @param policy     Hourly or Weekly
    * @param clock      () => (today, batchDate, batchTime) sampled once per
    *                   micro-batch, like the reference's run-constant stamp
    * @param stateTail  how many sink rows to read back as state (ref: 300)
    * @param checkpoint checkpoint dir for exactly-once batch ids
    */
  def start(
      raw: DataFrame,
      sinkPath: String,
      policy: OptionsPipeline.Policy,
      clock: () => (LocalDate, LocalDate, LocalTime),
      stateTail: Int = 300,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val writer = raw.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        runOne(batch.toDF(), sinkPath, policy, clock, stateTail, batchId)
        ()
      }
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** One micro-batch = one reference run (also directly callable for tests
    * and for cron-style batch deployments that skip the streaming wrapper).
    */
  def runOne(
      batch: DataFrame,
      sinkPath: String,
      policy: OptionsPipeline.Policy,
      clock: () => (LocalDate, LocalDate, LocalTime),
      stateTail: Int,
      batchId: Long
  ): Unit = {
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(sinkPath),
      spark.sparkContext.hadoopConfiguration
    )
    val state =
      if (fs.exists(new org.apache.hadoop.fs.Path(sinkPath)))
        ParquetSink.readStateTail(spark, sinkPath, stateTail)
          .select("SYMBOL", "Close", "OI", "state_seq")
      else ParquetSink.emptyState(spark)
    val (today, batchDate, batchTime) = clock()
    OptionsPipeline.withBatch(batch, state, policy, today, batchDate, batchTime)(
      ParquetSink.append(_, sinkPath, batchId))
  }
}

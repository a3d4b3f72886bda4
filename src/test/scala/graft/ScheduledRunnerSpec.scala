package graft

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.streaming.Trigger

import graft.operators.OptionsPipeline
import graft.sinks.ParquetSink

/** The cron-cadence deployment shape: each ScheduledRunner.runTick with
  * Trigger.AvailableNow must behave exactly like one reference cron run —
  * process ONLY the snapshot files that arrived since the previous tick
  * (file-source offsets in the checkpoint), chain Open/OI_Change through
  * the sink tail across ticks, and be a no-op when nothing new arrived
  * (a crash-rerun of the same tick must not double-append).
  */
class ScheduledRunnerSpec extends SparkSpec {
  import spark.implicits._
  import ScheduledRunnerSpec.RawTick

  private val today = LocalDate.of(2025, 10, 15)
  private val d17 = "171025"

  private def snapshot(mark: String, oi: String, seqBase: Long) = Seq(
    RawTick(s"C-ETH-100-$d17", "call_options", "100", "100.0", mark, oi, seqBase),
    RawTick(s"P-ETH-95-$d17", "put_options", "95", "100.0", "2.0", "20", seqBase + 1)
  )

  test("two cron ticks: incremental file pickup, sink-chained deltas, idle tick is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_sched").toString
    val snapDir = s"$root/snapshots"
    val sink = s"$root/sink/data"
    val ckpt = s"$root/ckpt"
    def tick(time: LocalTime): Unit =
      ScheduledRunner.runTick(
        spark, OptionsPipeline.Hourly, snapDir, sink, ckpt,
        Trigger.AvailableNow(), () => (today, today, time))

    // tick 1: first snapshot file — appends against the absent sink
    snapshot("8.5", "80", 0L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(10, 0, 0))
    val b1 = spark.read.parquet(sink).collect()
    assert(b1.length === 2)
    assert(b1.forall(_.getDouble(b1.head.fieldIndex("Open")) === 0.0))
    assert(b1.forall(_.getLong(b1.head.fieldIndex("OI_Change")) === 0L))

    // tick 2: one NEW file — only it is processed, and its rows read the
    // tick-1 sink rows back as state (the sheet-as-state chain)
    snapshot("9.0", "85", 10L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(11, 0, 0))
    val all = spark.read.parquet(sink).collect()
    assert(all.length === 4)
    val t11 = all.filter(_.getString(all.head.fieldIndex("Time")) == "11:00:00")
    assert(t11.length === 2)
    val call = t11.find(_.getString(t11.head.fieldIndex("Option_Type")) == "Call").get
    assert(call.getDouble(call.fieldIndex("Open")) === 8.5)  // tick-1 close
    assert(call.getLong(call.fieldIndex("OI_Change")) === 5L) // 85 − 80

    // tick 3: nothing new landed — the cron rerun appends NOTHING
    tick(LocalTime.of(12, 0, 0))
    assert(spark.read.parquet(sink).count() === 4)
  }

  /** A fresh snapshot dir / sink / checkpoint and a tick function over them. */
  private def cron(name: String, policy: OptionsPipeline.Policy) = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    val dirs = (s"$root/snapshots", s"$root/sink/data", s"$root/ckpt")
    val tick = (time: LocalTime) =>
      ScheduledRunner.runTick(
        spark, policy, dirs._1, dirs._2, dirs._3, Trigger.AvailableNow(), () => (today, today, time))
    (dirs, tick)
  }

  /** A 40-contract hourly chain, all inside the ±7% band: strikes
    * 190..209 × call/put on one expiry, spot 200.
    */
  private def chain(markBump: Int, seqBase: Long) =
    (0 until 40).map { i =>
      val strike = 190 + i / 2
      val (kind, tag) = if (i % 2 == 0) ("call_options", "C") else ("put_options", "P")
      RawTick(s"$tag-ETH-$strike-$d17", kind, strike.toString, "200.0",
        s"${1 + i + markBump}.0", s"${10 * i + markBump}", seqBase + i)
    }

  test("job budget: a warm tick runs ≤ 5 Spark jobs, the state-tail read none") {
    val ((snapDir, sink, _), tick) = cron("graft_sched_jobs", OptionsPipeline.Hourly)
    (0 until 3).foreach { i =>
      chain(i, 100L * i).toDF().write.mode("append").parquet(snapDir)
      tick(LocalTime.of(10 + i, 0, 0))
    }
    assert(new java.io.File(sink).list().count(_.startsWith("batch_id=")) >= 2)

    assert(SparkSpec.jobsOf(ParquetSink.readStateTail(spark, sink, 300)) === 0)
    // the batch's one job: the snapshot checkpoint that observes the expiries
    assert(SparkSpec.jobsOf(OptionsPipeline.runBatch(chain(9, 900L).toDF(), ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly, today, today, LocalTime.of(12, 30, 0))) === 1)
    chain(3, 300L).toDF().write.mode("append").parquet(snapDir)
    val jobs = SparkSpec.jobsOf(tick(LocalTime.of(13, 0, 0)))
    assert(jobs > 0 && jobs <= 5, s"a warm tick ran $jobs Spark jobs")
    assert(spark.read.parquet(sink).where("Time = '13:00:00'").count() === 40L)
  }

  test("ticks release their typed cache: no persistent RDD or cache entry survives") {
    val ((snapDir, _, _), tick) = cron("graft_sched_cache", OptionsPipeline.Hourly)
    val cacheEntries = () => org.apache.spark.sql.GraftTestCacheBridge.cachedEntries(spark)
    val entries0 = cacheEntries()
    val mark = SparkSpec.rddMark()
    (0 until 3).foreach { i =>
      chain(i, 100L * i).toDF().write.mode("append").parquet(snapDir)
      tick(LocalTime.of(10 + i, 0, 0))
    }
    assert(cacheEntries() === entries0)
    // only the ticks' own RDDs count: earlier suites' checkpoints may be freed meanwhile
    val left = SparkSpec.persistentSince(mark)
    assert(left.isEmpty, s"RDDs made by the ticks still persistent after GC: $left")
  }

  /** Janino compiles in this JVM so far: every codegen-cache miss is one. */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A cron over 40-contract chains on four expiries, 15-18 Oct, whose
    * tick at (day, hour) returns the units it compiled.
    */
  private def codegenCron(name: String) = {
    val ((snapDir, sink, ckpt), _) = cron(name, OptionsPipeline.Hourly)
    val tick = (day: LocalDate, hour: Int) => {
      chain(hour, 100L * hour).map { t =>
        val exp = s"${15 + t.src_seq.toInt % 4}1025"
        t.copy(symbol = t.symbol.replace(d17, exp))
      }.toDF().write.mode("append").parquet(snapDir)
      val before = compiles()
      ScheduledRunner.runTick(spark, OptionsPipeline.Hourly, snapDir, sink, ckpt,
        Trigger.AvailableNow(), () => (day, day, LocalTime.of(hour, 0, 0)))
      compiles() - before
    }
    (sink, tick)
  }

  test("a warm tick compiles no code") {
    val (sink, tick) = codegenCron("graft_sched_codegen")
    tick(today, 10)
    tick(today, 11)

    // the append's per-batch values are what the inlined literals gave:
    // batch_id = N and sink_seq = N·2³² + 1.. in canonical order
    val rows = spark.read.parquet(sink).orderBy("sink_seq").collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("sink_seq"),
        r.getAs[String]("Expiry_Date"), r.getAs[String]("SYMBOL")))
      .toSeq
    assert(rows.map(_._1).distinct === Seq(0, 1))
    rows.groupBy(_._1).foreach { case (b, rs) =>
      assert(rs.length === 30) // the 18 Oct expiry is not a target on the 15th
      assert(rs.map(_._2) === (1 to rs.length).map(p => (b.toLong << 32) + p))
      assert(rs.map(r => (r._3, r._4)) === rs.map(r => (r._3, r._4)).sorted)
    }
    // and the Spark row schema in the footer keeps its nullability
    val file = new java.io.File(s"$sink/batch_id=1").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(file.length === 1)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.head.toURI), spark.sparkContext.hadoopConfiguration))
    val footer =
      try reader.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      ("SYMBOL", StringType, true), ("Date", StringType, false), ("Time", StringType, false),
      ("Future_Price", DoubleType, true), ("Expiry_Date", StringType, true),
      ("Strike", DoubleType, true), ("Option_Type", StringType, false),
      ("Close", DoubleType, true), ("OI", LongType, true), ("Open", DoubleType, true),
      ("OI_Change", LongType, true), ("sink_seq", LongType, false)
    ).map { case (n, t, nullable) => StructField(n, t, nullable) })
    assert(DataType.fromJson(footer) === expected)

    // the same plan on the next snapshot reuses every generated class
    val warm = tick(today, 12)
    assert(warm === 0L, s"a warm same-day tick compiled $warm codegen units")
  }

  test("a day-rollover tick compiles no code: the new expiry targets are not inlined") {
    val (_, tick) = codegenCron("graft_sched_rollover")
    (10 to 12).foreach(tick(today, _))
    // targets move from 15-17 Oct to 16-18 Oct; their count stays 3
    val rollover = tick(today.plusDays(1), 0)
    info(s"day-rollover tick compiled $rollover codegen units")
    assert(rollover === 0L)
  }

  test("two weekly ticks: ±25% band, W1/W2 Fridays, sink-chained deltas") {
    val ((snapDir, sink, _), tick) = cron("graft_sched_weekly", OptionsPipeline.Weekly)
    // today Wed 15 Oct 2025; active expiries Thu 16, Fri 17, Fri 24, Fri 31 →
    // W1 = Fri 24 (first Friday with ≥ 2 active expiries before it), W2 = Fri 31
    def snapshot(mark: String, oi: String, seqBase: Long) = Seq(
      RawTick("C-ETH-120-241025", "call_options", "120", "100.0", mark, oi, seqBase), // +20%: in
      RawTick("P-ETH-80-311025", "put_options", "80", "100.0", "2.0", "20", seqBase + 1), // −20%: in
      RawTick("C-ETH-130-241025", "call_options", "130", "100.0", "1.0", "5", seqBase + 2), // +30%: out
      RawTick("C-ETH-100-171025", "call_options", "100", "100.0", "3.0", "9", seqBase + 3), // not W1/W2
      RawTick("P-ETH-100-161025", "put_options", "100", "100.0", "4.0", "7", seqBase + 4) // not a Friday
    )
    snapshot("8.5", "80", 0L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(6, 30, 0))
    snapshot("9.0", "85", 10L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(7, 30, 0))

    val rows = spark.read.parquet(sink).orderBy("sink_seq").collect()
      .map(r => (r.getAs[String]("Time"), r.getAs[String]("SYMBOL"), r.getAs[String]("Expiry_Date"),
        r.getAs[Double]("Open"), r.getAs[Long]("OI_Change")))
      .toSeq
    assert(rows === Seq(
      ("06:30:00", "C-ETH-120-241025", "2025-10-24", 0.0, 0L),
      ("06:30:00", "P-ETH-80-311025", "2025-10-31", 0.0, 0L),
      ("07:30:00", "C-ETH-120-241025", "2025-10-24", 8.5, 5L),
      ("07:30:00", "P-ETH-80-311025", "2025-10-31", 2.0, 0L)))
  }

  test("a first tick with no surviving rows does not break the next tick") {
    val ((snapDir, sink, _), tick) = cron("graft_sched_empty", OptionsPipeline.Hourly)
    // strike 300 against spot 100: outside the ±7% band, nothing appended
    Seq(RawTick(s"C-ETH-300-$d17", "call_options", "300", "100.0", "1.0", "1", 0L))
      .toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(10, 0, 0))
    snapshot("8.5", "80", 10L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(11, 0, 0))
    assert(spark.read.parquet(sink).count() === 2L)
  }

  test("main sizes its session from SPARK_GRAFT_CPUS, else the host's processors") {
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> " 12 ")) === 12)
    val host = Runtime.getRuntime.availableProcessors
    assert(GraftSession.cores(Map.empty) === host)
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "")) === host)
    intercept[NumberFormatException](GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "eight")))
  }
}

object ScheduledRunnerSpec {
  // top-level so Spark can derive the encoder without an outer scope
  case class RawTick(
      symbol: String,
      contract_type: String,
      strike_price: String,
      spot_price: String,
      mark_price: String,
      oi_contracts: String,
      src_seq: Long
  )
}

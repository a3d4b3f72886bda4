package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.ParquetSink

/** Edge cases of the sink's footer-count tail read and in-plan append
  * numbering: hidden files inside batch directories, a newest batch larger
  * than the tail, the legacy unpartitioned sink, a sink that holds no rows
  * yet, and an append whose input arrives as several range partitions in
  * the wrong order.
  */
class ParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  /** `n` sink-shaped rows (the keys append orders by, plus OI). */
  private def rows(n: Int, expiry: String = "2025-10-17"): DataFrame =
    (0 until n).map(i => (f"C-ETH-$i%03d", "10:00:00", expiry, i.toLong))
      .toDF("SYMBOL", "Time", "Expiry_Date", "OI")

  private def newSink(name: String) = Files.createTempDirectory(name).toString + "/data"

  private def seqs(df: DataFrame): Seq[Long] =
    df.select("state_seq").collect().map(_.getLong(0)).sorted.toSeq

  private def base(b: Long) = b * (1L << 32)

  test("hidden _SUCCESS and .crc files inside batch directories are not counted or read") {
    val sink = newSink("graft_sink_hidden")
    ParquetSink.append(rows(4), sink, batchId = 1L)
    ParquetSink.append(rows(3), sink, batchId = 2L)
    Seq(1, 2).foreach { b =>
      val dir = Paths.get(sink, s"batch_id=$b")
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.write(dir.resolve("._SUCCESS.crc"), Array[Byte](1, 2, 3))
      Files.write(dir.resolve(".stray.parquet.crc"), Array[Byte](4, 5))
    }
    // batch 2 holds 3 rows, so n = 5 must read on into batch 1
    val tail = ParquetSink.readStateTail(spark, sink, n = 5)
    assert(seqs(tail) === Seq(base(1) + 3, base(1) + 4, base(2) + 1, base(2) + 2, base(2) + 3))
    assert(tail.inputFiles.forall(_.endsWith(".parquet")))
  }

  test("a newest batch with more than n rows is the only directory picked") {
    val sink = newSink("graft_sink_big")
    ParquetSink.append(rows(4), sink, batchId = 1L)
    ParquetSink.append(rows(6), sink, batchId = 2L)
    val tail = ParquetSink.readStateTail(spark, sink, n = 5)
    assert(seqs(tail) === (2L to 6L).map(base(2) + _))
    assert(tail.inputFiles.nonEmpty && tail.inputFiles.forall(_.contains("batch_id=2")),
      s"batch 1 read although batch 2 alone holds n rows: ${tail.inputFiles.mkString(", ")}")
    assert(tail.columns.toSeq === Seq("SYMBOL", "Time", "Expiry_Date", "OI", "state_seq"))
  }

  test("legacy unpartitioned sink: full-scan fallback keeps the tail semantics") {
    val legacy = newSink("graft_sink_legacy_tail")
    rows(7).withColumn("sink_seq", lit(base(1)) + col("OI") + 1L)
      .write.mode("append").parquet(legacy)
    rows(2).withColumn("sink_seq", lit(base(2)) + col("OI") + 1L)
      .write.mode("append").parquet(legacy)
    val tail = ParquetSink.readStateTail(spark, legacy, n = 4)
    assert(seqs(tail) === Seq(base(1) + 6, base(1) + 7, base(2) + 1, base(2) + 2))
  }

  test("a sink that only saw empty appends reads back as empty state") {
    val sink = newSink("graft_sink_empty")
    ParquetSink.append(rows(0), sink, batchId = 1L)
    assert(new java.io.File(sink).list().toSeq.contains("_SUCCESS"))
    val tail = ParquetSink.readStateTail(spark, sink)
    assert(tail.columns.toSeq === Seq("SYMBOL", "Close", "OI", "state_seq"))
    assert(tail.count() === 0L)
  }

  test("append numbers rows consecutively in canonical order from ≥ 4 range partitions") {
    val sink = newSink("graft_sink_ranges")
    // two expiries × two times × 15 symbols, range-partitioned on the
    // REVERSE canonical order and sorted that way inside each partition
    val keys = Seq(col("Expiry_Date").desc, col("Time").desc, col("SYMBOL").desc)
    val input = Seq("2025-10-24", "2025-10-17")
      .flatMap(e => Seq("11:00:00", "10:00:00").map(t => rows(15, e).withColumn("Time", lit(t))))
      .reduce(_ union _)
      .repartitionByRange(4, keys: _*)
      .sortWithinPartitions(keys: _*)
    assert(input.select(spark_partition_id()).distinct().count() >= 4)

    ParquetSink.append(input, sink, batchId = 7L)
    val got = spark.read.parquet(sink).orderBy("sink_seq").collect()
      .map(r => (r.getAs[String]("Expiry_Date"), r.getAs[String]("Time"), r.getAs[String]("SYMBOL"),
        r.getAs[Long]("sink_seq")))
      .toSeq
    assert(got.map(_._4) === (1L to 60L).map(base(7) + _), "sink_seq must be consecutive from 1")
    val canonical = got.map(g => (g._1, g._2, g._3)).sorted
    assert(got.map(g => (g._1, g._2, g._3)) === canonical, "sink_seq must follow the canonical order")
    assert(new java.io.File(sink, "batch_id=7").list().count(_.endsWith(".parquet")) === 1)
  }
}

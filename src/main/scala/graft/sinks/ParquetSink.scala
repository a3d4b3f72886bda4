package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.BatchConstant

/** Parquet sink + bounded state read-back (SURVEY.md §2.1).
  *
  * Replaces the reference's Google-Sheets append (main.py:332-351) and
  * `get_all_records().tail(300)` state read (main.py:252-264). The sheet was
  * both sink and state store; here the sink is append-mode parquet and the
  * state read is the last-N rows by an explicit `sink_seq` ordering column —
  * pandas `tail` order becomes explicit, shuffle-deterministic ordering
  * (SURVEY.md §7.4).
  *
  * Scale: the sink is PARTITIONED BY batch_id, so the tail-N read prunes to
  * the newest partition(s) — O(tail) I/O per batch instead of O(history):
  * an unpartitioned sink re-scans its entire accumulated life to keep 300
  * rows, which at 100× sink age is the dominant cost of every micro-batch.
  * Partition selection reads parquet footers on the driver, newest batch
  * directory first, until their row counts reach n; the tail over those
  * directories is orderBy(desc).limit(n) — a TakeOrderedAndProject over only
  * the selected partitions, never a global window over history. Neither
  * the selection nor building the read runs a Spark job.
  */
object ParquetSink {

  /** Append a batch, stamping a monotone per-batch sequence so read-back can
    * reconstruct append order across files: sink_seq = batchId * 2^32 +
    * position + 1, consecutive over the batch in (Expiry_Date, Time, SYMBOL)
    * order.
    *
    * The batch is range-partitioned on the canonical keys into ONE
    * partition, sorted within it, and numbered in the same plan with
    * `monotonically_increasing_id`, which in partition 0 is the row's
    * position. The order comes from that local sort, not from how the
    * input was partitioned or ordered, so any input numbers the same. A
    * global sort in the input (runBatch's canonical sort) is removed by the
    * optimizer under the repartition, so it costs no sampling job or range
    * exchange here. One task sorts, numbers and writes one file per batch:
    * a batch is one filtered chain snapshot (hundreds to a few thousand
    * rows), and the one file keeps the tail read to one footer per batch.
    *
    * The batch id and the `sink_seq` offset are [[BatchConstant]]s, not
    * literals, so the next batch reuses this plan's compiled code. Being
    * non-foldable, the partition value is sorted on by the writer: a sort
    * inside the same task on a key all rows share, which keeps their
    * order and adds no job or exchange.
    */
  def append(df: DataFrame, path: String, batchId: Long): Unit = {
    val canonical = Seq(col("Expiry_Date").asc, col("Time").asc, col("SYMBOL").asc)
    df.repartitionByRange(1, canonical: _*)
      .sortWithinPartitions(canonical: _*)
      .select(
        col("*"),
        (monotonically_increasing_id() + BatchConstant.column(batchId * (1L << 32) + 1L)).as("sink_seq"),
        BatchConstant.column(batchId).as("batch_id"))
      .write
      .mode("append")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** Last `n` appended rows (reference tail(300), main.py:260), renamed
    * `state_seq` for Delta.prepareState.
    *
    * Partition-pruned: batch_id= directories are taken newest-first until
    * their data files' footer row counts reach `n` (footers read on the
    * driver; hidden `_`/`.` files such as `_SUCCESS` and `.crc` are
    * skipped). The read schema is the Spark row schema stored in the newest
    * footer, so building the read runs no schema-inference job. The tail
    * over the picked directories is orderBy(sink_seq desc).limit(n), which
    * plans as TakeOrderedAndProject (per-partition top-N, one bounded
    * merge) — no global single-partition window, no full-history scan.
    * Driver work is one footer per data file of the picked directories,
    * bounded by ceil(n / min-batch-rows) non-empty batches. A
    * pre-partitioning legacy sink (no batch_id= directories) falls back to
    * the full scan with the same tail semantics. A sink that holds no rows
    * yet — every append so far was empty, which leaves only `_SUCCESS` —
    * reads back as [[emptyState]], like an absent one.
    */
  def readStateTail(spark: SparkSession, path: String, n: Int = 300): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(conf)
    val listing = fs.listStatus(hPath).toSeq
    val batchDirs = listing
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap(st =>
        st.getPath.getName.stripPrefix("batch_id=").toLongOption.map(_ -> st.getPath))
      .sortBy { case (id, _) => -id }
      .map(_._2)
    if (batchDirs.isEmpty && !listing.exists(isDataFile))
      return emptyState(spark) // only empty appends so far: a bare _SUCCESS
    val slice =
      if (batchDirs.isEmpty) spark.read.parquet(path) // legacy unpartitioned sink
      else {
        val picked = scala.collection.mutable.ArrayBuffer.empty[Path]
        var schema = Option.empty[StructType]
        var acc = 0L
        val it = batchDirs.iterator
        while (acc < n && it.hasNext) {
          val dir = it.next()
          picked += dir
          fs.listStatus(dir).filter(isDataFile).foreach { st =>
            val (rows, fileSchema) = footer(conf, st)
            acc += rows
            if (schema.isEmpty) schema = fileSchema
          }
        }
        schema
          .fold(spark.read)(spark.read.schema(_))
          .parquet(picked.map(_.toString).toSeq: _*)
      }
    slice
      .orderBy(col("sink_seq").desc)
      .limit(n)
      .withColumnRenamed("sink_seq", "state_seq")
  }

  /** The files a Spark read takes: hidden `_` and `.` names are skipped. */
  private def isDataFile(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  /** Row count and Spark row schema from one parquet footer. */
  private def footer(conf: Configuration, st: FileStatus): (Long, Option[StructType]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      // the row schema (JSON) that Spark's parquet writer stores in every footer
      val kv = reader.getFileMetaData.getKeyValueMetaData
      val json = Option(kv.get(ParquetReadSupport.SPARK_METADATA_KEY))
      (reader.getRecordCount, json.map(DataType.fromJson(_).asInstanceOf[StructType]))
    } finally reader.close()
  }

  /** Empty state for the first run (reference main.py:269-273). */
  def emptyState(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(
        Seq(
          StructField("SYMBOL", StringType),
          StructField("Close", StringType),
          StructField("OI", StringType),
          StructField("state_seq", LongType)
        )
      )
    )
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact global ranking without a single-partition window.
  *
  * `Window.orderBy(...)` with no partition spec is the classic scale-killer:
  * Spark plans it as Exchange SinglePartition + one Window task that every
  * row of the input flows through — fine at sf0.1, an OOM/latency wall at
  * corpus scale. This operator computes the identical `row_number` total
  * order in two parallel phases (the textbook distributed-ranking shape,
  * cf. TeraSort's range-partition + local-sort structure):
  *
  *   1. `repartitionByRange` on the sort key — every row of range-partition
  *      i sorts strictly before every row of partition i+1, and partitions
  *      sort in parallel;
  *   2. one tiny per-partition count (numPartitions rows to the driver —
  *      bounded by cluster parallelism, NOT data size, the same
  *      driver-state contract as the IVF quantizer), whose running sum is
  *      each partition's global rank offset;
  *   3. a PARTITION-LOCAL `row_number` window (parallel; no partition holds
  *      more than its range slice) plus the broadcast offset.
  *
  * Rank values are exact and deterministic for ANY boundary placement the
  * range sampler picks, because offsets are computed from the actual
  * partition sizes — sampling skew can unbalance task times, never results.
  * The sort columns must form a TOTAL order (add a unique tie-break key);
  * with ties across a range boundary the per-partition `row_number` could
  * otherwise disagree with a global `rank()`.
  */
object GlobalRank {

  /** `df` plus an `outCol` LONG column holding the 1-based global
    * `row_number` over `sort`. The range-partitioned frame feeds both the
    * offset count and the caller's downstream plan, so it is a lazy
    * `localCheckpoint` that the offset count materializes: no extra job,
    * and the ContextCleaner frees its blocks once the returned frame is
    * unreachable.
    */
  def withGlobalRank(
      df: DataFrame,
      sort: Seq[Column],
      outCol: String = "rank",
      numPartitions: Int = 0
  ): DataFrame = {
    val s = df.sparkSession
    val p = if (numPartitions > 0) numPartitions else s.sparkContext.defaultParallelism
    val ranged = df
      .repartitionByRange(p, sort: _*)
      .withColumn("__part", spark_partition_id())
      .localCheckpoint(eager = false)
    val counts = ranged
      .groupBy(col("__part"))
      .count()
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val row = (pid, acc); acc += n; row }
    val offDf = s.createDataFrame(offsets.toIndexedSeq).toDF("__part", "__offset")
    val w = Window.partitionBy(col("__part")).orderBy(sort: _*)
    ranged
      .join(broadcast(offDf), "__part")
      .withColumn(outCol, row_number().over(w).cast(LongType) + col("__offset"))
      .drop("__part", "__offset")
  }
}

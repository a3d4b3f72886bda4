package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.GlobalRank

class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rnd = new scala.util.Random(11)
  private lazy val rows = (1L to 5000L).map(i => (i, rnd.nextInt(300).toDouble)).toSeq

  test("two-phase rank equals the single-partition window's row_number, all partition counts") {
    val df = rows.toDF("id", "v")
    val expected = df
      .withColumn("rank", row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 3, 32)) {
      val got = GlobalRank
        .withGlobalRank(df, Seq(col("v"), col("id")), "rank", numPartitions = parts)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === expected, s"diverged at numPartitions=$parts")
    }
  }

  test("ranks are a 1..N permutation even with heavy value ties (tie-break key total order)") {
    val df = (1L to 2000L).map(i => (i, (i % 3).toDouble)).toDF("id", "v")
    val ranks = GlobalRank
      .withGlobalRank(df, Seq(col("v"), col("id")), "rank")
      .select("rank").as[Long].collect().sorted
    assert(ranks.toSeq === (1L to 2000L))
  }

  test("no single-partition exchange in the plan") {
    val plan = GlobalRank
      .withGlobalRank(rows.toDF("id", "v"), Seq(col("v"), col("id")), "rank")
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // broadcasts (the offsets table) are fine — the hazard is a SHUFFLE
    // that funnels the data through one task
    val single = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.outputPartitioning.numPartitions == 1 => e
    }
    assert(single.isEmpty, s"single-partition shuffle in plan:\n$plan")
  }

  test("owns its range-partitioned frame: no cache entry, no persistent RDD, 7 Spark jobs a call") {
    val entries = () => org.apache.spark.sql.GraftTestCacheBridge.cachedEntries(spark)
    val entries0 = entries()
    val mark = SparkSpec.rddMark()
    // distinct input per call, so no call can read an earlier one's blocks;
    // the offsets collect materializes the lazy checkpoint, so a call runs
    // the sampling and range-shuffle jobs, the offsets count and the write
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val df = (1L to 2000L).map(i => (i, r.nextInt(100).toDouble)).toDF("id", "v")
      val jobs = SparkSpec.jobsOf(
        GlobalRank.withGlobalRank(df, Seq(col("v"), col("id")), "rank")
          .write.format("noop").mode("overwrite").save())
      assert(jobs === 7, s"withGlobalRank and its write ran $jobs Spark jobs")
    }
    assert(entries() === entries0, "withGlobalRank registered a Dataset cache")
    val left = SparkSpec.persistentSince(mark)
    assert(left.isEmpty, s"RDDs made by withGlobalRank still persistent after GC: $left")
  }
}

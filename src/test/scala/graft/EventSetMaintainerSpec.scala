package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.streaming.{BtRatingStream, EventSetMaintainer, PageRankStream, PerceptronStream}

/** The shared event-set fold of [[PageRankStream]], [[PerceptronStream]]
  * and [[BtRatingStream]]: a save that fails leaves the pre-batch state.
  * An epoch BEHIND the store's ledger (a fresh checkpoint against an old
  * stateDir) must throw from the store before the in-memory swap.
  */
class EventSetMaintainerSpec extends SparkSpec {
  import spark.implicits._

  // (twin, maintainer over a stateDir, three batches of its events)
  private lazy val twins: Seq[(String, String => EventSetMaintainer, Seq[DataFrame])] = Seq(
    ("PageRankStream", d => new PageRankStream.Maintainer(spark, stateDir = Some(d)),
      Seq(Seq((1L, 2L), (2L, 3L)), Seq((3L, 1L), (1L, 2L)), Seq((4L, 1L)))
        .map(_.toDF("src", "dst"))),
    ("PerceptronStream", d => new PerceptronStream.Maintainer(spark, stateDir = Some(d)),
      Seq(Seq((1L, "good text", 1L)), Seq((2L, "bad text", -1L)), Seq((3L, "more", 1L)))
        .map(_.toDF("doc_id", "text", "y"))),
    ("BtRatingStream", d => new BtRatingStream.Maintainer(spark, stateDir = Some(d)),
      Seq(Seq((1L, 10L, 11L, 10L)), Seq((2L, 11L, 12L, 12L)), Seq((3L, 10L, 12L, 10L)))
        .map(_.toDF("cmp_id", "item_a", "item_b", "winner"))))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("an epoch behind the ledger throws and leaves pre-batch state (every event-set twin)") {
    twins.foreach { case (name, make, Seq(b0, b1, b2)) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_eventset_$name").toString
      val m = make(dir)
      m.update(b0, epochId = 0L)
      m.update(b1, epochId = 1L)
      val before = rows(m.state)
      assert(before === rows(b0.union(b1).distinct()), name)
      val e = intercept[IllegalStateException] {
        m.update(b2, epochId = 0L) // fresh checkpoint, old state
      }
      assert(e.getMessage.contains("behind"), name)
      assert(rows(m.state) === before, s"$name: failed save must leave pre-batch state")
    }
  }
}

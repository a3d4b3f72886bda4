package graftbench

import java.time.{LocalDate, LocalTime}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The benchmark's own tests: `SelfTest <scratch dir>`. Prints one line
  * per test and exits non-zero if any failed.
  */
object SelfTest {

  private val results = ArrayBuffer.empty[(String, Boolean)]

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable => System.err.println(s"$name: $e"); false
    }
    results += name -> ok
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def check(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(java.nio.file.Files.createTempDirectory("graftbench").toString)

    test("same seed gives identical chain snapshots, another seed different ones") {
      val (a, b, c) = (new ChainGen(7), new ChainGen(7), new ChainGen(8))
      for (i <- Seq(0, 1, 30)) {
        check(a.snapshot(i) == b.snapshot(i) && a.clock(i) == b.clock(i), s"tick $i differs at one seed")
        check(a.snapshot(i) != c.snapshot(i), s"tick $i equal across seeds")
      }
    }

    test("same seed gives an identical corpus, another seed a different one") {
      val (a, b, c) = (new CorpusGen(7).corpus(3000), new CorpusGen(7).corpus(3000), new CorpusGen(8).corpus(3000))
      check(a == b, "corpus differs at one seed")
      check(a.docs != c.docs, "corpus equal across seeds")
    }

    test("the corpus plants its stated shares") {
      val c = new CorpusGen(3).corpus(20000)
      def share(n: Int) = n / 20000.0
      check(math.abs(share(c.copies.length) - 0.05) < 0.01, s"copies ${c.copies.length}")
      check(math.abs(share(c.variants.length) - 0.10) < 0.01, s"variants ${c.variants.length}")
      check(math.abs(share(c.pii.length) - 0.05) < 0.01, s"pii ${c.pii.length}")
      check(math.abs(share(c.lowQuality.length) - 0.08) < 0.01, s"low quality ${c.lowQuality.length}")
      val texts = c.docs.map(d => d.doc_id -> d.text).toMap
      val js = c.variants.map { case (a, b) => Models.jaccard(Models.shingles(texts(a)), Models.shingles(texts(b))) }
      check(js.count(_ >= 0.8) > js.length / 4 && js.count(_ < 0.8) > js.length / 4, "variant Jaccard spread")
    }

    test("spot drift yields state hits, misses and symbols beyond the tail-300") {
      val g = new ChainGen(11)
      val m = new Models.OptionsChain(300)
      val seen = scala.collection.mutable.Set.empty[String]
      var hits, misses, beyondTail = 0
      var prev = Vector.empty[Models.OptRow]
      for (i <- 0 until 12) {
        val (t, d, tm) = g.clock(i)
        val out = m.tick(g.snapshot(i), t, d, tm)
        val tail = prev.takeRight(300).map(_.symbol).toSet
        out.foreach { r =>
          if (tail(r.symbol)) hits += 1 else misses += 1
          if (!tail(r.symbol) && seen(r.symbol)) beyondTail += 1
        }
        check(out.nonEmpty && out.length > 150, s"tick $i kept ${out.length} rows")
        seen ++= out.map(_.symbol)
        prev = prev ++ out
      }
      check(hits > 0 && misses > 0 && beyondTail > 0, s"hits $hits misses $misses beyond tail $beyondTail")
    }

    test("the options model: band, keep-last, unparseable rows and the state delta") {
      val day = LocalDate.of(2025, 10, 15)
      def tk(sym: String, k: String, mark: String, oi: String, seq: Long) =
        Tick(sym, "call_options", k, "100.0", mark, oi, seq)
      val m = new Models.OptionsChain(300)
      val first = m.tick(Seq(tk("C-ETH-100-171025", "100", "5.0", "10", 0),
        tk("C-ETH-120-171025", "120", "1.0", "10", 1)), day, day, LocalTime.of(10, 0))
      check(first.map(_.symbol) == Seq("C-ETH-100-171025"), s"band: $first")
      val second = m.tick(Seq(tk("C-ETH-100-171025", "100", "6.0", "15", 0),
        tk("C-ETH-100-171025", "100", "7.0", "16", 1), tk("C-ETH-100-171025", "100", "n/a", "99", 2),
        tk("C-ETH-105-171025", "105", "2.0", "12.5", 3)), day, day, LocalTime.of(11, 0))
      check(second.length == 1 && second.head.close == 7.0 && second.head.open == 5.0 &&
        second.head.oiChange == 6L, s"keep-last/delta: $second")
    }

    test("the tail is the 11th-largest sample, labelled with its percentile and count") {
      check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples have no tail")
      check(Stats.tail((1 to 11).map(_.toDouble)) == Some((1.0, 100.0 / 11, 11)), "11 samples")
      val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
      check(Stats.tail(xs) == Some((30.0, 75.0, 40)), s"40 samples: ${Stats.tail(xs)}")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "even median")
    }

    test("BENCHMARK.json lists exactly the metrics and workloads a run prints") {
      val f = new java.io.File("BENCHMARK.json")
      check(f.isFile, "run from the repository root")
      val b = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      def names(key: String) = {
        val it = b.get(key).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("name").asText).toSet
      }
      check(names("end_to_end") == Main.EndToEndNames.toSet, s"end_to_end ${names("end_to_end")}")
      check(names("per_layer") == Main.LayerNames.toSet, s"per_layer ${names("per_layer") diff Main.LayerNames.toSet}")
      check(names("workloads").subsetOf(Set("options_ticks", "curation_batch", "neardup_stream")), "workloads")
    }

    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      test("Spark jobs are attributed to the innermost enclosing span, streaming ones too") {
        val tr = new Tracer(true)
        tr.attach(spark)
        tr.op(0) {
          tr.span("outer", 0) {
            tr.span("inner", 0) { spark.range(10).count() }
            spark.range(5).collect()
          }
          import spark.implicits._
          tr.span("stream", 0) {
            Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/src")
            spark.readStream.schema("x int").parquet(s"$dir/src").writeStream
              .trigger(Trigger.AvailableNow())
              .option("checkpointLocation", s"$dir/ckpt")
              .foreachBatch { (b: Dataset[Row], _: Long) => tr.span("batch", 0) { b.count() }; () }
              .start().awaitTermination()
          }
        }
        def one(name: String) = { val s = tr.named(name, 0); check(s.length == 1, s"$name spans ${s.length}"); s.head }
        val (op, outer, inner, batch) = (one("op"), one("outer"), one("inner"), one("batch"))
        check(inner.parent == outer.id && outer.parent == op.id && batch.parent == one("stream").id,
          "span parents")
        check(inner.count("jobs") >= 1 && outer.count("jobs") >= 1 &&
          tr.inclusive(outer, "jobs") == inner.count("jobs") + outer.count("jobs"),
          s"outer ${outer.count("jobs")} inner ${inner.count("jobs")}")
        check(batch.count("jobs") >= 1, "job run by the stream thread lands in its span")
        check(op.count("trigger_overhead_s") > 0, "streaming progress lands in the op span")
        check(tr.driverGapS(outer) >= 0 && tr.driverGapS(outer) <= outer.wallS, "gap within the span")
      }
    } finally spark.stop()

    val failed = results.count(!_._2)
    println(s"${results.length - failed} passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}

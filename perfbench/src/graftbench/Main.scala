package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.functions.GraftFunctions

/** The benchmark entry point: one workload, one seed, one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * A run sets up the session `Setups` times (the first in a cold JVM) and
  * keeps the last, times op 0 as `first_op_s`, runs the workload's fixed
  * warm-up, then runs ops back to back (one client, closed loop) until
  * `--seconds` have passed and at least `MinOps` ops ran. Outputs are
  * checked untimed at the end. With `--trace 1` every other measured op
  * is traced and the per-layer metrics are reported instead of the
  * end-to-end ones. The last stdout line is the result JSON.
  */
object Main {

  val Cores = 4
  val Setups = 5
  val MinOps = 3

  /** Warm-up ops after op 0, sized from where each workload's op time levels. */
  private val warmups = Map("options_ticks" -> 8, "curation_batch" -> 1, "neardup_stream" -> 1)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val need = Seq("workload", "seed", "seconds", "trace", "work")
    require(need.forall(m.contains) && args.length == 2 * need.length,
      s"usage: Main ${need.map(k => s"--$k <$k>").mkString(" ")}")
    require(warmups.contains(m("workload")), s"unknown workload ${m("workload")}; one of ${warmups.keys.mkString(", ")}")
    require(Set("0", "1")(m("trace")), "--trace is 0 or 1")
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def session(): SparkSession = {
    val s = GraftSession.local(Cores, "graftbench")
    GraftFunctions.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val host0 = Host.reading()

    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t = now()
      spark = session()
      setupS += now() - t
    }

    val phases = ArrayBuffer("setup" -> setupS.sum)
    def phase[T](name: String)(body: => T): T = { val t = now(); val r = body; phases += name -> (now() - t); r }
    val tracer = new Tracer(a.trace)
    tracer.attach(spark)
    val w: Workload = phase("inputs")(a.workload match {
      case "options_ticks" => new OptionsTicks(spark, a.seed, tracer, s"$work/data")
      case "curation_batch" => new CurationBatch(spark, a.seed, tracer, s"$work/data", docs = 3000)
      case "neardup_stream" =>
        new NearDupEpochs(spark, a.seed, tracer, s"$work/data", perEpoch = 200, restartAt = 1 + warmups(a.workload))
    })

    final case class Op(i: Int, wall: Double, cpu: Double, rows: Long, traced: Boolean, measured: Boolean)
    val ops = ArrayBuffer.empty[Op]
    val threw = scala.collection.mutable.Set.empty[Int]
    def op(measured: Boolean, traced: Boolean): Unit = {
      val i = ops.length
      val rows = w.before(i, traced)
      val (c0, t0) = (Host.processCpuSec, now())
      try w.run(i, traced)
      catch { case e: Exception => threw += i; System.err.println(s"op $i failed: $e") }
      val (t1, c1) = (now(), Host.processCpuSec)
      w.after(i, traced)
      ops += Op(i, t1 - t0, c1 - c0, rows, traced, measured)
    }

    phase("first")(op(measured = false, traced = false))
    phase("warmup")(for (_ <- 0 until warmups(a.workload)) op(measured = false, traced = false))
    val m0 = now()
    var k = 0
    while (now() - m0 < a.seconds || k < MinOps) {
      op(measured = true, traced = a.trace && k % 2 == 0)
      k += 1
    }
    phases += "measure" -> (now() - m0)
    val failed = phase("check")((threw ++ w.check(ops.length)).size)
    val host = host0.until(Host.reading(), Host.medianMhz)

    val warm = ops.filter(o => o.measured && !o.traced)
    val wall = warm.map(_.wall).toSeq
    val tail = Stats.tail(wall)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "first_op_s" -> ops.head.wall,
      "op_p50_s" -> Stats.median(wall),
      "rows_per_s" -> Stats.median(warm.map(o => o.rows / o.wall).toSeq),
      "cpu_s_per_op" -> Stats.median(warm.map(_.cpu).toSeq),
      "peak_rss_mb" -> Host.peakRssMb)
    require(e2e.keySet == EndToEndNames.toSet)

    val traced = ops.filter(o => o.measured && o.traced).map(_.i).toSeq
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        val tracedP50 = Stats.median(ops.filter(o => o.measured && o.traced).map(_.wall).toSeq)
        LayerNames.map(_ -> 0.0).toMap ++ w.layers(traced, fixed = traced.take(1)) ++
          Map("trace.op_p50_s" -> tracedP50, "trace.overhead" -> tracedP50 / Stats.median(wall))
      }
    if (a.trace) tracer.write(work.resolveSibling(s"trace-${a.workload}-seed${a.seed}.jsonl"))
    spark.stop()

    // everything above the last line is for people; the last line is the result
    println(f"""# ${a.workload} seed=${a.seed} ops=${ops.length} measured=${warm.length} traced=${traced.length} failed=$failed""")
    println(f"""# setup_s samples: ${setupS.map(x => f"$x%.3f").mkString(" ")} (first is the cold JVM)""")
    println(f"""# op walls: ${ops.map(o => f"${o.wall}%.3f${if (o.traced) "t" else ""}").mkString(" ")}""")
    tail.foreach { case (v, p, n) => println(f"# op_tail_s $v%.4f s = p$p%.1f of $n warm ops") }
    if (tail.isEmpty) println(s"# op_tail_s n/a: ${wall.length} warm ops, a tail needs more than 10")
    println(f"# error_rate ${failed.toDouble / ops.length}%.4f ($failed of ${ops.length} ops)")
    println("# phases " + phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
    println("# host " + host.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    val metrics = if (a.trace) layers else e2e
    val body = metrics.toSeq.sorted.map { case (k, v) => s""""$k": {"value": ${num(v)}, "unit": "${unit(k)}"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${ops.length}, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  val EndToEndNames: Seq[String] =
    Seq("setup_s", "first_op_s", "op_p50_s", "rows_per_s", "cpu_s_per_op", "peak_rss_mb")

  /** Every per-layer metric; a workload that does not exercise a layer reports it as 0. */
  val LayerNames: Seq[String] =
    Seq("sinks.read_state_tail.s", "sinks.read_state_tail.jobs", "sinks.read_state_tail.rows",
      "operators.run_batch.s", "operators.run_batch.jobs", "operators.run_batch.stages",
      "sinks.append.s", "sinks.append.jobs", "sinks.append.stages", "sinks.append.tasks",
      "sinks.append.shuffle_bytes", "sinks.append.files", "sinks.append.driver_gap_s",
      "streaming.trigger_overhead_s") ++
      Seq("dedup_exact", "minhash_pairs", "components", "canonical").flatMap(o =>
        Seq("s", "jobs", "stages", "shuffle_bytes", "spill_bytes", "rows_out").map(k => s"operators.$o.$k")) ++
      Seq("quality", "scrub").flatMap(f =>
        Seq("s", "executor_cpu_s", "cpu_ns_per_row").map(k => s"functions.$f.$k")) ++
      Seq("trace.op_p50_s", "trace.overhead")

  def unit(metric: String): String = metric match {
    case "rows_per_s" => "rows/s"
    case "peak_rss_mb" => "MB"
    case "cpu_s_per_op" => "s"
    case m if m.endsWith(".s") || m.endsWith("_s") => "s"
    case m if m.endsWith("bytes") => "bytes"
    case m if m.endsWith("cpu_ns_per_row") => "ns/row"
    case m if m.endsWith("overhead") => "ratio"
    case _ => "count"
  }
}

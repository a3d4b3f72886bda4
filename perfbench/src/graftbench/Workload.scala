package graftbench

/** One benchmark workload, driven as a closed loop of ops by [[Main]].
  *
  * `before` and `after` run untimed around each op: they stage the op's
  * input and take probes the traced run reports. `run` is the timed op.
  */
trait Workload {
  /** Stage op `i`'s input; returns the input rows the op will process. */
  def before(i: Int, traced: Boolean): Long
  def run(i: Int, traced: Boolean): Unit
  def after(i: Int, traced: Boolean): Unit = ()
  /** Untimed output check over ops 0 until `ops`; returns the ops that failed it. */
  def check(ops: Int): Seq[Int]
  /** Per-layer metrics from the traced ops (`fixed` is the subset whose counts are reported). */
  def layers(traced: Seq[Int], fixed: Seq[Int]): Map[String, Double]
}

/** Per-layer metric extraction over a tracer's spans.
  *
  * Times are medians over all traced ops. Counts (jobs, stages, bytes,
  * files) are medians over `fixed`, a set of op indices that does not
  * depend on how many ops fit in the run, so they repeat exactly between
  * runs at the same seed.
  */
final case class Layers(tracer: Tracer, traced: Seq[Int], fixed: Seq[Int]) {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def opSpans: Seq[Span] = traced.flatMap(i => tracer.named("op", i))

  def time(name: String): Map[String, Double] =
    Map(s"$name.s" -> med(traced.map(i => tracer.named(name, i).map(_.wallS).sum)))

  /** A time-like counter (e.g. executor CPU seconds), median over traced ops. */
  def timed(name: String, key: String): Map[String, Double] =
    Map(s"$name.$key" -> med(traced.map(i => tracer.named(name, i).map(tracer.inclusive(_, key)).sum)))

  /** A count (jobs, stages, bytes, rows), median over the fixed ops. */
  def count(name: String, key: String): Double =
    med(fixed.map(i => tracer.named(name, i).map(tracer.inclusive(_, key)).sum))

  def counts(name: String, keys: String*): Map[String, Double] =
    keys.map(k => s"$name.$k" -> count(name, k)).toMap

  def gap(name: String): Map[String, Double] =
    Map(s"$name.driver_gap_s" -> med(traced.map(i => tracer.named(name, i).map(tracer.driverGapS).sum)))

  def samples(metric: String, xs: Seq[Double]): Map[String, Double] = Map(metric -> med(xs))
}

package graftbench

import java.time.LocalDate

import scala.util.Try

/** Plain-Scala models the benchmark checks the engine's outputs against.
  * They share no code with the engine.
  */
object Models {

  /** One sink row of the options pipeline (reference `main.py` schema). */
  final case class OptRow(
      symbol: String, date: String, time: String, futurePrice: Double, expiryDate: String,
      strike: Double, optionType: String, close: Double, oi: Long, open: Double, oiChange: Long)

  /** The reference cron job (`main.py`) as a sequential loop: each tick
    * parses the snapshot, keeps the ±7% band around each row's spot and the
    * three nearest expiries on or after today (E0/E1/E2, else the latest
    * past one), keeps the last quote per symbol in arrival order, and takes
    * `Open`/`OI_Change` from the last `tail` rows appended before it.
    */
  final class OptionsChain(tail: Int = 300) {
    private var sink = Vector.empty[OptRow]

    def tick(raw: Seq[Tick], today: LocalDate, date: LocalDate, time: java.time.LocalTime): Vector[OptRow] = {
      def present(s: String) = s != null && s.nonEmpty
      def expiry(sym: String): Option[LocalDate] = {
        val parts = sym.split("-", -1)
        val tok = parts.last
        if (parts.length < 4 || tok.length != 6 || !tok.forall(_.isDigit)) None
        else Try(LocalDate.of(2000 + tok.substring(4, 6).toInt, tok.substring(2, 4).toInt, tok.substring(0, 2).toInt)).toOption
      }
      def dbl(s: String) = Option(s).flatMap(_.trim.toDoubleOption)
      case class P(t: Tick, exp: Option[LocalDate], strike: Option[Double], spot: Option[Double],
          close: Option[Double], oi: Option[Long])
      val typed = raw.map { t =>
        P(t, expiry(t.symbol), dbl(t.strike_price), dbl(t.spot_price),
          if (t.mark_price == null) Some(0.0) else dbl(t.mark_price),
          if (t.oi_contracts == null) Some(0L) else t.oi_contracts.trim.toLongOption)
      }
      val dates = typed.flatMap(_.exp).distinct.sorted
      val active = dates.filter(!_.isBefore(today))
      val targets = (if (active.nonEmpty) active.take(3) else dates.lastOption.toSeq).toSet
      val parsed = typed.filter(p =>
        Seq(p.t.symbol, p.t.strike_price, p.t.contract_type, p.t.spot_price).forall(present) &&
          p.exp.isDefined && p.strike.isDefined && p.spot.isDefined && p.close.isDefined && p.oi.isDefined)
      val banded = parsed.filter { p =>
        val (k, s) = (p.strike.get, p.spot.get)
        k >= s * (1.0 - 7.0 / 100.0) && k <= s * (1.0 + 7.0 / 100.0) && targets(p.exp.get)
      }
      val last = banded.groupBy(_.t.symbol).values.map(_.maxBy(_.t.src_seq)).toVector
      val state = sink.takeRight(tail).map(r => r.symbol -> r).toMap // later rows overwrite
      val d = date.toString
      val tm = time.format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))
      val out = last.map { p =>
        val prev = state.get(p.t.symbol)
        OptRow(p.t.symbol, d, tm, p.spot.get, p.exp.get.toString, p.strike.get,
          if (p.t.contract_type == "call_options") "Call" else "Put", p.close.get, p.oi.get,
          prev.map(_.close).getOrElse(0.0), prev.map(r => p.oi.get - r.oi).getOrElse(0L))
      }.sortBy(r => (r.expiryDate, r.time, r.symbol))
      sink = sink ++ out
      out
    }
  }

  /** Distinct word 3-shingles of a whitespace-tokenised text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.trim.split("\\s+")
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size.toDouble
}

package graftbench

import java.time.{DayOfWeek, LocalDate, LocalTime}
import java.time.format.DateTimeFormatter

import scala.util.Random

/** One raw ticker row, in `graft.Schemas.ticker` column order. */
final case class Tick(
    symbol: String,
    contract_type: String,
    strike_price: String,
    spot_price: String,
    mark_price: String,
    oi_contracts: String,
    src_seq: Long)

/** One corpus document. */
final case class Doc(doc_id: Long, text: String)

/** Seeded ETH option-chain snapshots, one per hourly tick.
  *
  * Each snapshot lists every (expiry × strike × call/put) contract: 16
  * expiries (4 dailies from the tick's date, then 12 Fridays) × 200
  * strikes 10 apart × 2 = 6,400 contracts, all quoting the tick's spot.
  * The spot is a seeded random walk (about 0.8% per hour), so strikes
  * cross the ±7% band edges from tick to tick and keep-last state both
  * hits and misses. On top of the grid, about 3% of symbols are re-sent
  * later in arrival order with new quotes, about 1.5% of rows carry an
  * unparseable mark or OI, and a few rows omit the mark (which reads as 0).
  */
final class ChainGen(seed: Long) {
  import ChainGen._

  private val root = new Random(seed)
  /** Date of tick 0 and its hour; tick i is i hours later. */
  val startDate: LocalDate = LocalDate.of(2025, 1, 6).plusDays(root.nextInt(300).toLong)
  val startHour: Int = root.nextInt(24)
  private val spot0 = 2200.0 + root.nextInt(600)
  private val gridLo = math.round(spot0 / Step) * Step - Strikes / 2 * Step
  private val spotSalt = root.nextLong()
  private val quoteSalt = root.nextLong()

  /** (today, batch date, batch time) of tick `i`, as the cron clock would read it. */
  def clock(i: Int): (LocalDate, LocalDate, LocalTime) = {
    val h = startHour + i
    val d = startDate.plusDays((h / 24).toLong)
    (d, d, LocalTime.of(h % 24, 0, 0))
  }

  // the walk is memoised so spot(i) costs O(1) amortised in tick order
  private val spots = scala.collection.mutable.ArrayBuffer(spot0)
  def spot(i: Int): Double = {
    while (spots.length <= i) {
      val r = new Random(spotSalt ^ (spots.length.toLong * 0x9E3779B97F4A7C15L))
      val next = spots.last * math.exp(0.008 * r.nextGaussian())
      // keep the walk inside the strike grid
      spots += math.max(spot0 * 0.8, math.min(spot0 * 1.2, next))
    }
    spots(i)
  }

  def expiries(today: LocalDate): Seq[LocalDate] = {
    val dailies = (0 until 4).map(k => today.plusDays(k.toLong))
    var f = today.plusDays(4)
    while (f.getDayOfWeek != DayOfWeek.FRIDAY) f = f.plusDays(1)
    dailies ++ (0 until 12).map(k => f.plusWeeks(k.toLong))
  }

  /** The raw snapshot of tick `i`, in arrival (`src_seq`) order. */
  def snapshot(i: Int): Vector[Tick] = {
    val (today, _, _) = clock(i)
    val s = spot(i)
    val spotStr = f"$s%.2f"
    val r = new Random(quoteSalt ^ (i.toLong * 0xC2B2AE3D27D4EB4FL))
    val rows = Vector.newBuilder[(String, String, Double, Double)]
    for (e <- expiries(today); k <- 0 until Strikes; cp <- Seq("call_options", "put_options")) {
      val strike = gridLo + k * Step
      val sym = s"${if (cp == "call_options") "C" else "P"}-ETH-${strike.toLong}-${e.format(Ddmmyy)}"
      val days = java.time.temporal.ChronoUnit.DAYS.between(today, e).toDouble + 1.0
      val intrinsic = if (cp == "call_options") s - strike else strike - s
      val mark = math.max(0.1, intrinsic) + s * 0.004 * math.sqrt(days) * (0.9 + 0.2 * r.nextDouble())
      rows += ((sym, cp, strike, mark))
    }
    val grid = rows.result()
    def quote(sym: String, cp: String, strike: Double, mark: Double): Tick = {
      val base = (sym.hashCode.toLong ^ quoteSalt).abs % 4000
      val oi = base + r.nextInt(200)
      val u = r.nextDouble()
      val (m, o) =
        if (u < 0.0075) ("n/a", oi.toString)
        else if (u < 0.015) (f"$mark%.1f", s"$oi.5")
        else if (u < 0.018) (null, oi.toString)
        else (f"$mark%.1f", oi.toString)
      Tick(sym, cp, f"$strike%.1f", spotStr, m, o, 0L)
    }
    val first = grid.map { case (sym, cp, k, m) => quote(sym, cp, k, m) }
    val resent = grid.filter(_ => r.nextDouble() < 0.03).map { case (sym, cp, k, m) =>
      quote(sym, cp, k, m * (0.95 + 0.1 * r.nextDouble()))
    }
    (r.shuffle(first) ++ resent).zipWithIndex.map { case (t, n) => t.copy(src_seq = n.toLong) }
  }
}

object ChainGen {
  val Strikes = 200
  val Step = 10.0
  val Ddmmyy: DateTimeFormatter = DateTimeFormatter.ofPattern("ddMMyy")
}

/** A seeded document corpus with planted structure.
  *
  * Documents are 40-85 whitespace tokens drawn from a seeded pseudo-word
  * vocabulary, with English stopwords mixed in so the Gopher rules pass.
  * Planted among them, by share of documents:
  *   - 5% exact copies of an earlier original;
  *   - 10% near-duplicate variants of an earlier original, with 1 to 6
  *     tokens replaced (3-shingle Jaccard from about 0.5 to about 0.9);
  *   - 5% originals carrying an email, a URL or a phone number;
  *   - 8% low-quality documents (too short, no stopwords, or overlong words).
  * Sources of copies and variants are drawn from every earlier document,
  * so a stream fed in order sees pairs that span epochs.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._

  private val root = new Random(seed ^ 0x5DEECE66DL)
  // 1-2 syllable words, about 4 letters on average, so the Gopher
  // mean-word-length rule (3.0-5.2 letters) passes ordinary documents
  private val vocab: Vector[String] = {
    val syll = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 3000) {
      val n = 1 + root.nextInt(2)
      words += (0 until n).map(_ => syll(root.nextInt(syll.length))).mkString
    }
    words.toVector
  }
  private val longWords = vocab.map(w => w + w.reverse + "x")

  private def words(r: Random, n: Int, pool: Vector[String], stop: Double): Vector[String] =
    Vector.fill(n) {
      if (r.nextDouble() < stop) Stopwords(r.nextInt(Stopwords.length))
      else pool(r.nextInt(pool.length))
    }

  /** The first `n` documents (ids 0 until n) and what was planted in them. */
  def corpus(n: Int): Corpus = {
    val r = new Random(seed * 31 + 7)
    val texts = new Array[String](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val copies = Vector.newBuilder[(Long, Long)]
    val variants = Vector.newBuilder[(Long, Long)]
    val pii = Vector.newBuilder[(Long, String)]
    val lowQ = Vector.newBuilder[Long]
    for (i <- 0 until n) {
      val u = r.nextDouble()
      texts(i) =
        if (u < 0.05 && originals.nonEmpty) {
          val src = originals(r.nextInt(originals.length))
          copies += ((src.toLong, i.toLong))
          texts(src)
        } else if (u < 0.15 && originals.nonEmpty) {
          val src = originals(r.nextInt(originals.length))
          val toks = texts(src).split(" ").toVector
          val m = 1 + r.nextInt(6)
          val pos = r.shuffle((0 until toks.length).toVector).take(m)
          variants += ((src.toLong, i.toLong))
          pos.foldLeft(toks)((t, p) => t.updated(p, vocab(r.nextInt(vocab.length)))).mkString(" ")
        } else if (u < 0.20) {
          val toks = words(r, 40 + r.nextInt(40), vocab, 0.2)
          val secret = u match {
            case x if x < 0.1667 => s"${vocab(r.nextInt(vocab.length))}.${r.nextInt(1000)}@mail${r.nextInt(90)}.org"
            case x if x < 0.1833 => s"https://site${r.nextInt(900)}.example.net/${vocab(r.nextInt(vocab.length))}"
            case _ => s"+${10 + r.nextInt(80)} ${100 + r.nextInt(900)} ${1000 + r.nextInt(9000)}"
          }
          pii += ((i.toLong, secret))
          toks.patch(r.nextInt(toks.length), Seq(secret), 1).mkString(" ")
        } else if (u < 0.28) {
          lowQ += i.toLong
          u match {
            case x if x < 0.2267 => words(r, 8 + r.nextInt(15), vocab, 0.2).mkString(" ")
            case x if x < 0.2533 => words(r, 40 + r.nextInt(40), vocab, 0.0).mkString(" ")
            case _ => words(r, 40 + r.nextInt(40), longWords, 0.1).mkString(" ")
          }
        } else {
          originals += i
          words(r, 40 + r.nextInt(46), vocab, 0.2).mkString(" ")
        }
    }
    Corpus(texts.toVector.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) },
      copies.result(), variants.result(), pii.result(), lowQ.result())
  }
}

/** A generated corpus and its planted facts: (source, copy) exact
  * duplicates, (source, variant) near-duplicates, (doc, PII string) and
  * the low-quality doc ids.
  */
final case class Corpus(
    docs: Vector[Doc],
    copies: Vector[(Long, Long)],
    variants: Vector[(Long, Long)],
    pii: Vector[(Long, String)],
    lowQuality: Vector[Long])

object CorpusGen {
  val Stopwords: Vector[String] = Vector("the", "and", "of", "to", "in", "is", "a")
}

package graft.operators

import java.time.{LocalDate, LocalTime}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Schemas

/** End-to-end batch of the options pipeline: the Spark-native re-expression
  * of reference `fetch_eth_options_data` + `calculate_open_and_oi_change`
  * (main.py:91-330; weekly variant deltaweekly.py). One declarative plan:
  * parse → band filter → expiry filter → keep-last dedup → broadcast delta
  * join → canonical sort.
  *
  * The batch timestamp is injected (run-constant, SURVEY.md §7.4) rather
  * than taken from the clock: the reference stamps one wall-clock value per
  * run (main.py:126), and injection keeps tests/oracles deterministic.
  */
object OptionsPipeline {

  sealed trait Policy
  /** Hourly: E0/E1/E2 nearest expiries, ±7% band (main.py). */
  case object Hourly extends Policy
  /** Weekly: W1/W2 Friday expiries, ±25% band (deltaweekly.py). */
  case object Weekly extends Policy

  /** Parse the raw ticker snapshot into the typed pre-join shape
    * (SURVEY.md §2.2): mandatory-field drop, strict numeric parsing
    * (reference `float()`/`int()` throw → row dropped, main.py:168-169,
    * 197-198,220-223 — absent mark/oi default to 0), per-row spot, symbol →
    * expiry, option-type CASE. Filter order differs from the reference's
    * sequential `continue`s but all predicates are conjunctive, so the
    * surviving set is identical.
    */
  def parseSnapshot(raw: DataFrame): DataFrame = dropUnparseable(parseColumns(raw))

  /** The parse as a pure PROJECTION — every string→typed conversion, no row
    * drops (those are [[dropUnparseable]], a cheap NULL-check filter over
    * this frame's typed columns). Split so runBatch can checkpoint THIS
    * frame: all per-row string work (symbol tokenization, numeric casts,
    * the DDMMYY date parse) is evaluated exactly once, in the checkpoint's
    * job, and every plan above it — the main pass, the final sort's range
    * sampler — touches only typed columns. Rows that fail
    * [[Parse.mandatoryPresent]] are kept here (flag column `mandatory_ok`)
    * because the reference's pass-1 expiry scan sees them too
    * (main.py:128-141).
    */
  def parseColumns(raw: DataFrame): DataFrame =
    raw.select(
      col("symbol").as("SYMBOL"),
      Parse.expiryFromSymbol(col("symbol")).as("expiry"),
      Parse.tryDouble(col("strike_price")).as("Strike"),
      Parse.tryDouble(col("spot_price")).as("spot"),
      Parse.optionType(col("contract_type")).as("Option_Type"),
      Parse.markPriceOrDrop(col("mark_price")).as("Close"),
      Parse.oiContractsOrDrop(col("oi_contracts")).as("OI"),
      col("src_seq"),
      Parse.mandatoryPresent(raw).as("mandatory_ok")
    )

  /** Row-drop semantics of the reference parse loop (main.py:164-223):
    * mandatory fields present + every numeric/date conversion succeeded.
    */
  def dropUnparseable(typed: DataFrame): DataFrame =
    typed
      .where(
        col("mandatory_ok") &&
          col("Strike").isNotNull && col("spot").isNotNull &&
          col("expiry").isNotNull && col("Close").isNotNull && col("OI").isNotNull
      )
      .drop("mandatory_ok")

  /** One scheduled run (reference main(), main.py:353-396).
    *
    * The typed snapshot is checkpointed eagerly, and that checkpoint is the
    * batch's one Spark job. The same job observes the parsed expiry set,
    * the only driver-side decision input (reference pass 1,
    * main.py:128-141): a few dozen dates, bounded by the listing calendar.
    * Like the reference's pass 1, it is observed before the row drops, so
    * rows missing other mandatory fields still contribute their expiry.
    *
    * Scale: the checkpoint is also a barrier. Every per-row string
    * expression runs once, in its job, and the optimizer cannot push the
    * parse and band filters below a source's own repartition into its scan
    * stage (sources own their scan parallelism). Its blocks spill to disk,
    * and it is no registered cache: the ContextCleaner frees them once the
    * returned frame is unreachable. Then a broadcast delta join and one
    * range-partitioned sort.
    *
    * The per-batch values stay out of the generated code: the Date/Time
    * stamps are string literals, which Spark passes by reference, and the
    * expiry targets go through [[Snapshot.expiryIn]]. So the next batch's
    * plan, the next day's included, reuses the compiled classes; only a
    * change in the number of targets compiles the filter's stage again.
    *
    * @param rawTickers raw snapshot (Schemas.ticker shape, with src_seq)
    * @param state      previous sink rows (tail-N read-back; may be empty)
    * @param today      "today" for expiry policy (reference uses IST now)
    * @param batchDate  run-constant Date stamp (yyyy-MM-dd)
    * @param batchTime  run-constant Time stamp (HH:mm:ss)
    */
  def runBatch(
      rawTickers: DataFrame,
      state: DataFrame,
      policy: Policy,
      today: LocalDate,
      batchDate: LocalDate,
      batchTime: LocalTime
  ): DataFrame = {
    val seen = Observation()
    val typed = parseColumns(rawTickers)
      .observe(seen, collect_set(unix_date(col("expiry"))).as("expiries"))
      .localCheckpoint()
    val expiries =
      seen.get("expiries").asInstanceOf[collection.Seq[Int]].toSeq.map(LocalDate.ofEpochDay(_))
    val (targets, bandPct) = policy match {
      case Hourly => (ExpiryPolicy.nearestFromDates(expiries, today), 7.0)
      case Weekly => (ExpiryPolicy.fridayFromDates(expiries, today), 25.0)
    }

    // Per-row spot (reference main.py:168-172,204): each ticker is banded
    // against ITS OWN spot_price and emits that value as Future_Price. The
    // batch-global first-arrival spot (main.py:112-116, Parse.firstSpot) is
    // only ever logged by the reference — never used for filtering.
    val banded = dropUnparseable(typed)
      .where(Snapshot.strikeBand(col("Strike"), col("spot"), bandPct))
      .where(Snapshot.expiryIn(col("expiry"), targets))

    val deduped = Snapshot.keepLast(banded, Seq("SYMBOL"), "src_seq")
    val withDelta = Delta.applyDelta(deduped, Delta.prepareState(state, "state_seq"))

    // The stamps, the derived columns and the NaN/±Inf cleanup in ONE
    // projection: each chained withColumn would re-analyse the whole plan.
    val sinkRow = Map(
      "Date" -> date_format(lit(java.sql.Date.valueOf(batchDate)), "yyyy-MM-dd"),
      "Time" -> lit(batchTime.format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))),
      "Future_Price" -> Snapshot.cleanNumeric(col("spot")),
      "Expiry_Date" -> date_format(col("expiry"), "yyyy-MM-dd"),
      "Strike" -> Snapshot.cleanNumeric(col("Strike")),
      "Close" -> Snapshot.cleanNumeric(col("Close")),
      "Open" -> Snapshot.cleanNumeric(col("Open"))
    )
    Snapshot.canonicalSort(
      withDelta.select(Schemas.sinkColumns.map(c => sinkRow.getOrElse(c, col(c)).as(c)): _*))
  }
}

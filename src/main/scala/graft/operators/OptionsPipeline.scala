package graft.operators

import java.time.{LocalDate, LocalTime}
import org.apache.spark.sql.DataFrame
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
    * this frame's typed columns). Split so runBatch can persist THIS frame:
    * all per-row string work (symbol tokenization, numeric casts, the
    * DDMMYY date parse) is evaluated exactly once, at cache materialization,
    * and every plan above the cache — the expiry-policy pre-pass, the main
    * pass, the final sort's range sampler — touches only typed columns.
    * Rows that fail [[Parse.mandatoryPresent]] are kept here (flag column
    * `mandatory_ok`) because the reference's pass-1 expiry scan sees them
    * too (main.py:128-141).
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
    * The typed snapshot is persisted, and the returned frame is lazy and
    * reads that cache whenever it runs, so runBatch cannot release it: the
    * cache stays registered for the session (the registry's q13/q14). A
    * caller that consumes the batch at once uses [[withBatch]], which
    * releases it.
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
  ): DataFrame = plan(persistTyped(rawTickers), state, policy, today, batchDate, batchTime)

  /** [[runBatch]] for a caller that consumes the batch at once (the
    * scheduled tick's sink append): `use` runs while the typed cache is
    * live, and the cache is released when `use` returns or throws, so a
    * resident stream holds no cache across ticks.
    */
  def withBatch[T](
      rawTickers: DataFrame,
      state: DataFrame,
      policy: Policy,
      today: LocalDate,
      batchDate: LocalDate,
      batchTime: LocalTime
  )(use: DataFrame => T): T = {
    val typed = persistTyped(rawTickers)
    try use(plan(typed, state, policy, today, batchDate, batchTime))
    finally typed.unpersist()
  }

  // Structural choice: persist the PARSED (typed) snapshot, not the raw
  // strings. The snapshot feeds the policy pre-pass AND the main pass;
  // caching the typed frame means the source (a derived, shuffled plan for
  // the registry's synthetic tickers) is computed once per batch and every
  // per-row string expression (tokenize, numeric casts, the DDMMYY date
  // parse) runs exactly once, at cache materialization, inside whole-stage
  // codegen. Caching the RAW side instead re-evaluates the parse in every
  // consumer stage above the cache, where it can run interpreted (measured
  // 100-900 CPU-seconds per q14 batch at sf0.1). No repartition here:
  // sources own their scan parallelism (GraftSession sets 8m split bytes;
  // TickerSource repartitions before its string build — a repartition of
  // the built strings would just re-shuffle them). Cached blocks spill to
  // disk. The CacheManager holds the entry until it is unpersisted — the
  // ContextCleaner never drops a registered cache.
  private def persistTyped(rawTickers: DataFrame): DataFrame =
    parseColumns(rawTickers).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def plan(
      typed: DataFrame,
      state: DataFrame,
      policy: Policy,
      today: LocalDate,
      batchDate: LocalDate,
      batchTime: LocalTime
  ): DataFrame = {
    val parsed = dropUnparseable(typed)

    // Expiry-policy pre-pass (reference pass 1, main.py:128-141): the ONLY
    // driver-side decision input is the distinct parsed expiry set, bounded
    // by the listing calendar (dozens of dates at any data scale) — a
    // single-column read of the cached typed frame. Like the reference's
    // pass 1, rows missing other mandatory fields still contribute their
    // expiry here.
    val expiryDf = typed.select(col("expiry"))
    val (targets, bandPct) = policy match {
      case Hourly => (ExpiryPolicy.nearestExpiries(expiryDf, today), 7.0)
      case Weekly => (ExpiryPolicy.fridayExpiries(expiryDf, today), 25.0)
    }

    // Per-row spot (reference main.py:168-172,204): each ticker is banded
    // against ITS OWN spot_price and emits that value as Future_Price. The
    // batch-global first-arrival spot (main.py:112-116, Parse.firstSpot) is
    // only ever logged by the reference — never used for filtering.
    val banded = parsed
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

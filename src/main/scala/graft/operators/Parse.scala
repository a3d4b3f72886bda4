package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar parsing/coercion expressions for the ticker snapshot
  * (SURVEY.md §2.2). Everything here is built-in Catalyst expressions —
  * whole-stage-codegen'd, no UDFs — and ANSI-safe (`try_cast`-style guards),
  * mirroring the reference's `errors='coerce'` semantics
  * (reference main.py:164-198,276-277).
  */
object Parse {

  /** Non-ANSI-throwing string→double (reference `float(x)` with
    * row-drop-on-failure, main.py:168-169,220-223).
    */
  def tryDouble(c: Column): Column = c.try_cast(DoubleType)

  /** SNAPSHOT-side mark_price semantics (reference main.py:197:
    * `float(ticker.get('mark_price', 0))`): an ABSENT value defaults to 0,
    * but a present-yet-unparseable value throws and the whole row is dropped
    * (main.py:220-223). NULL is the drop marker — callers filter
    * `isNotNull`. (A JSON null is treated as absent: the DataFrame boundary
    * cannot distinguish a missing key from an explicit null.)
    */
  def markPriceOrDrop(c: Column): Column =
    when(c.isNull, lit(0.0)).otherwise(c.try_cast(DoubleType))

  /** SNAPSHOT-side oi_contracts semantics (reference main.py:198:
    * `int(ticker.get('oi_contracts', 0))`): absent → 0; a present value must
    * be a pure integer literal — Python `int()` REJECTS '12.5' (no silent
    * truncation) — otherwise the row is dropped. NULL is the drop marker.
    *
    * `try_cast(LongType)` alone reproduces `int()` exactly: Spark's
    * string→integral cast trims whitespace, accepts an optional sign, and
    * rejects anything else ('12.5', '1e3', '' → NULL) — no digit-scan
    * expression needed (and `translate`, the obvious one, allocates a
    * per-call dictionary map in codegen mode; see [[expiryToken]]).
    */
  def oiContractsOrDrop(c: Column): Column =
    when(c.isNull, lit(0L)).otherwise(c.try_cast(LongType))

  /** The expiry token: last `-`-separated part of the symbol, required to be
    * exactly 6 digits, from a symbol with ≥4 parts
    * (reference main.py:131-138,177-190).
    *
    * Deliberately regex- and allocation-free (`substring_index`/`replace`/
    * per-char `between` instead of `split`/`rlike`/`translate`): these
    * evaluate as pure byte scans in BOTH codegen and interpreted modes. The
    * parse predicate gets pushed by the optimizer into whatever stage scans
    * the source, and the two obvious implementations are per-row
    * allocation bombs there: an interpreted `split` recompiles its regex
    * Pattern on every call (measured ~1 ms/row, 600+ CPU-seconds at sf0.1),
    * and `translate` — even codegen'd — materializes a `String` plus a
    * dictionary HashMap per call (CollationSupport.StringTranslate;
    * dominated thread samples of the q14 parse stage). Semantics are
    * identical: ≥4 parts ⟺ ≥3 dashes; 6-digit check ⟺ length 6 with each
    * of the six chars in ['0','9'].
    */
  def expiryToken(symbol: Column): Column = {
    val dashCount = length(symbol) - length(replace(symbol, lit("-"), lit("")))
    val tok = substring_index(symbol, "-", -1)
    val allDigits = (1 to 6)
      .map(i => substring(tok, i, 1).between("0", "9"))
      .reduce(_ && _)
    when(dashCount >= 3 && length(tok) === 6 && allDigits, tok)
  }

  /** DDMMYY → date with the reference's fixed `year = 2000 + YY` rule
    * (main.py:185-187 — NOT the POSIX 69-pivot). `try_to_timestamp` keeps
    * calendar-invalid tokens (e.g. 310225) NULL instead of throwing under
    * ANSI.
    */
  def expiryFromToken(tok: Column): Column =
    try_to_timestamp(
      concat(lit("20"), substring(tok, 5, 2), substring(tok, 3, 2), substring(tok, 1, 2)),
      lit("yyyyMMdd")
    ).cast(DateType)

  def expiryFromSymbol(symbol: Column): Column = expiryFromToken(expiryToken(symbol))

  /** `'Call' if contract_type == 'call_options' else 'Put'` (main.py:196). */
  def optionType(contractType: Column): Column =
    when(contractType === "call_options", lit("Call")).otherwise(lit("Put"))

  /** Missing-mandatory-field predicate (reference drops such tickers,
    * main.py:164-166: falsy symbol/strike_price/contract_type/spot_price).
    */
  def mandatoryPresent(df: DataFrame): Column =
    Seq("symbol", "strike_price", "contract_type", "spot_price")
      .map(c => col(c).isNotNull && col(c) =!= "")
      .reduce(_ && _)

  /** Batch spot price: first ticker in arrival order with a castable
    * spot_price (reference main.py:112-116). Deterministic in Spark via the
    * explicit `src_seq` arrival stamp (SURVEY.md §7.4) — `min_by` is a single
    * partial-aggregatable pass, no sort, no collect.
    */
  def firstSpot(raw: DataFrame): Option[Double] = {
    val r = raw
      .filter(tryDouble(col("spot_price")).isNotNull)
      .agg(min_by(tryDouble(col("spot_price")), col("src_seq")).as("spot"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }
}

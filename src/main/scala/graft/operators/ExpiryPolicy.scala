package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expiry-selection policies (SURVEY.md §2.3), over a distinct expiry set
  * bounded by the listing calendar (dozens of dates at any data scale), so
  * it is safe to hold on the driver. OptionsPipeline observes that set on
  * its snapshot checkpoint; q07 collects it from a one-column frame.
  */
object ExpiryPolicy {

  /** E0/E1/E2: first 3 distinct future expiries ascending; if none is ≥
    * today, fall back to the single latest past expiry
    * (reference get_current_and_next_expiry, main.py:43-80, fallback 64-65).
    */
  def nearestFromDates(dates: Seq[LocalDate], today: LocalDate, n: Int = 3): Seq[LocalDate] = {
    val distinct = dates.distinct.sorted
    val active = distinct.filter(!_.isBefore(today))
    if (active.nonEmpty) active.take(n)
    else distinct.lastOption.toSeq
  }

  /** W1/W2 Friday policy (reference get_current_and_next_friday_expiry,
    * deltaweekly.py:43-111):
    *   - active = distinct expiries ≥ today, ascending;
    *   - W1 = first Friday with ≥2 active expiries strictly before it
    *     (dw:70-81); fallback = first Friday at all (dw:84-86);
    *   - W2 = first Friday strictly after W1 (dw:89-94), may be absent.
    */
  def fridayFromDates(dates: Seq[LocalDate], today: LocalDate): Seq[LocalDate] = {
    val active = dates.distinct.sorted.filter(!_.isBefore(today))
    val fridays = active.zipWithIndex.collect {
      case (d, nBefore) if d.getDayOfWeek == java.time.DayOfWeek.FRIDAY => (d, nBefore)
    }
    if (fridays.isEmpty) return Seq.empty
    val w1 = fridays.find(_._2 >= 2).map(_._1).getOrElse(fridays.head._1)
    val w2 = fridays.map(_._1).find(_.isAfter(w1))
    Seq(w1) ++ w2
  }

  /** [[fridayFromDates]] over the non-null dates of a one-column
    * `expiry: date` frame (any multiplicity), distinct-collected.
    */
  def fridayExpiries(expiries: DataFrame, today: LocalDate): Seq[LocalDate] =
    fridayFromDates(
      expiries.where(col("expiry").isNotNull).distinct().collect().map(_.getDate(0).toLocalDate).toSeq,
      today)
}

package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import graft.operators.ExpiryPolicy

/** Pins the two expiry-selection policies against the reference:
  * E0/E1/E2 (main.py:43-80, all-past fallback 64-65) and Friday W1/W2
  * (deltaweekly.py:43-111: W1 = first Friday with ≥2 active expiries
  * strictly before, fallback first Friday dw:84-86; W2 = first Friday after
  * W1, dw:89-94).
  */
class ExpiryPolicySpec extends SparkSpec {
  import spark.implicits._

  private val today = LocalDate.of(2025, 10, 15) // a Wednesday

  private def df(dates: String*): DataFrame =
    dates.map(java.sql.Date.valueOf).toDF("expiry")

  private def ds(dates: String*): Seq[LocalDate] = dates.map(LocalDate.parse)

  test("nearest: first 3 distinct future expiries ascending") {
    val d = ds("2025-10-17", "2025-10-16", "2025-10-18", "2025-10-16", "2025-10-20", "2025-10-01")
    assert(
      ExpiryPolicy.nearestFromDates(d, today) ===
        Seq("2025-10-16", "2025-10-17", "2025-10-18").map(LocalDate.parse))
  }

  test("nearest: today itself is active (>=)") {
    val d = ds("2025-10-15", "2025-10-16")
    assert(ExpiryPolicy.nearestFromDates(d, today).head === LocalDate.parse("2025-10-15"))
  }

  test("nearest: fewer than 3 futures returns what exists") {
    assert(ExpiryPolicy.nearestFromDates(ds("2025-10-16"), today).size === 1)
  }

  test("nearest: all-past falls back to the max past expiry (main.py:64-65)") {
    val d = ds("2025-10-01", "2025-09-01")
    assert(ExpiryPolicy.nearestFromDates(d, today) === Seq(LocalDate.parse("2025-10-01")))
  }

  test("friday: W1 needs >=2 active expiries strictly before it") {
    // actives: Thu 16th, Fri 17th, Thu 23rd, Fri 24th, Fri 31st
    // Fri 17th has only 1 before (16th) → not W1; Fri 24th has 3 before → W1
    val d = df("2025-10-16", "2025-10-17", "2025-10-23", "2025-10-24", "2025-10-31")
    assert(
      ExpiryPolicy.fridayExpiries(d, today) ===
        Seq("2025-10-24", "2025-10-31").map(LocalDate.parse))
  }

  test("friday: fallback to first Friday when none has 2 prior actives (dw:84-86)") {
    val d = df("2025-10-17") // lone Friday, zero before it
    assert(ExpiryPolicy.fridayExpiries(d, today) === Seq(LocalDate.parse("2025-10-17")))
  }

  test("friday: W2 absent when no Friday after W1 (dw:96-101)") {
    val d = df("2025-10-16", "2025-10-20", "2025-10-24")
    assert(ExpiryPolicy.fridayExpiries(d, today) === Seq(LocalDate.parse("2025-10-24")))
  }

  test("friday: no Fridays at all → empty") {
    assert(ExpiryPolicy.fridayExpiries(df("2025-10-16"), today) === Seq.empty)
  }
}

package graft

import org.apache.spark.sql.types._

object Schemas {
  /** Explicit source schema — never infer in production paths (SURVEY §1.4). */
  val ticker: StructType = StructType(
    Seq(
      StructField("symbol", StringType),
      StructField("contract_type", StringType),
      StructField("strike_price", StringType),
      StructField("spot_price", StringType),
      StructField("mark_price", StringType),
      StructField("oi_contracts", StringType),
      StructField("src_seq", LongType)
    )
  )

  /** Canonical 11-column sink order (reference main.py:315-316). */
  val sinkColumns: Seq[String] = Seq(
    "SYMBOL", "Date", "Time", "Future_Price", "Expiry_Date", "Strike",
    "Option_Type", "Close", "OI", "Open", "OI_Change"
  )
}

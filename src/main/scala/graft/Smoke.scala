package graft

/** t1 smoke entrypoint: runs the flagship [[SparkEntry.entry]] exactly as
  * the driver's smoke check does (rows > 0 on sf0.001) and prints the rows.
  * Usage: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE rows=$n")
    df.show(20, truncate = false)
    require(n > 0, "flagship entry returned no rows")
    spark.stop()
  }
}

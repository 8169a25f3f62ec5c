package graft.tools

/** Drives the driver's t1 smoke exactly: SparkEntry.entry on sf0.001 must
  * return >0 rows. Prints the row count and the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(10, truncate = false)
    assert(n > 0, "entry must return >0 rows")
    spark.stop()
  }
}

package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and require rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.builder(4, 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY ROWS=$n")
    require(n > 0, "flagship entry returned no rows")
    spark.stop()
  }
}

package graft

/** Dev smoke runner: exercises SparkEntry.entry the way the driver's t1
  * gate does (rows > 0 on sf0.001) and prints the plan + row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    println(s"[smoke] entry rows = ${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}

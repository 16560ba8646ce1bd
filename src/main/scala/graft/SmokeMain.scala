package graft
/** Replica of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("graft-smoke")
    val df = SparkEntry.entry(spark)
    println(s"SMOKE rows=${df.count()}")
    df.show(5, false)
    spark.stop()
  }
}

package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, false)
    spark.stop()
  }
}

package graft

/** Driver-contract smoke: `SparkEntry.entry` must return rows > 0 on
  * sf0.001 (what the round driver checks before anything else). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val n = SparkEntry.entry(spark).count()
    println(s"entry rows: $n")
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}

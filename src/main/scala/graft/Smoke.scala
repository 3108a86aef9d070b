package graft

/** Local smoke: what the driver does with SparkEntry.entry (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}

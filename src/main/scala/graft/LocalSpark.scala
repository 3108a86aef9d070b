package graft

import org.apache.spark.sql.SparkSession

/** The local session the query harness (`Verify`, `Bench`) and the
  * probes (`graft.tools.Probe`) run in: `SPARK_GRAFT_CPUS` executor
  * threads and shuffle partitions (default 4), UTC session time, AQE on,
  * and `nanosAsLong` because `events.parquet` stores TIMESTAMP(NANOS). */
object LocalSpark {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

/** Smoke runner for the flagship entry — mirrors the driver's t1 check
  * (SparkEntry.entry on sf0.001, rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt, "graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}

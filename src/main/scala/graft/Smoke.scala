package graft

/** Dev smoke: replicates the driver's t1 check — `SparkEntry.entry` on
  * sf0.001 must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(Session.registry(Session.cpus))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}

package graft

/** Driver-t1 analog: run `SparkEntry.entry` on sf0.001 and print the row
  * count, then probe one query with a bad dir to confirm loud failure. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"SMOKE entry rows=${df.count()}")
    df.show(5)
    // the probe's whole point is that a bad dir fails LOUDLY — if it
    // ever stops failing, this main must exit nonzero so the regression
    // is visible to anything checking the exit code, not only to a
    // human reading the "(unexpected)" line (round-20 review)
    val probeFailedLoudly =
      try {
        SparkEntry.queries("q_accuracy")(spark, "/root/testdata/nope").count()
        println("PROBE bad-dir -> NO ERROR (unexpected)")
        false
      } catch {
        case e: Throwable =>
          println(s"PROBE bad-dir -> ${e.getClass.getSimpleName}")
          true
      }
    spark.stop()
    if (!probeFailedLoudly) sys.exit(1)
  }
}

package graft

/** Local timing helper: warm + time a comma-separated subset of
  * catalog queries against one sf dir (the per-query slice of what
  * [[Bench]] does for the whole board — for iterating on a new
  * operator without a full bench run). Runs [[Bench.timeGroup]] with
  * the sf dir itself as the only warm dir and one timed rep: the
  * whole subset is warmed first, then each query is timed once.
  *
  * Usage: runMain graft.TimeQueries <sfDir> <name,name,...>
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.select(args(1))
    val spark = GraftSession.builder().appName("graft-time").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((n, runs, err) <- Bench.timeGroup(spark, sfDir, names, Seq(sfDir), reps = 1))
      err match {
        case Some(e) => println(s"   FAIL $n: $e")
        case None => println(f"${runs.head}%7.2f  $n")
      }
    spark.stop()
  }
}

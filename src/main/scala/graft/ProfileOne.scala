package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profiler for the optimization rounds:
  * `runMain graft.ProfileOne <query> <sfDir> [reps]`
  * warms over [[Bench.warmDirs]] (Bench's own warm list), then
  * runs the query once (per rep) with a listener that records every
  * completed stage: wall duration, summed executor run time, task
  * count, shuffle read/write bytes, and the stage's callsite (which
  * maps to operator source lines). Output: per-stage table sorted by
  * wall duration, plus per-callsite rollup — the "where inside this
  * composed query do the seconds go" readout the disabled UI can't
  * give.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val sfDir = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.builder().appName("profile-one").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    Bench.warm(spark, Seq(name), Bench.warmDirs)

    case class StageRow(id: Int, name: String, wallMs: Long, execMs: Long,
                        tasks: Int, shufReadMB: Double, shufWriteMB: Double,
                        inputMB: Double, graftSite: String)
    val rows = mutable.ArrayBuffer.empty[StageRow]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        // first graft frame in the callsite stack = the operator line
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
          .getOrElse("").trim.take(90)
        rows += StageRow(si.stageId, si.name, wall,
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, site)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (r <- 1 to reps) {
      GraftSession.reset(spark)
      System.gc()
      rows.clear(); jobs = 0
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain
      Thread.sleep(500)
      val sorted = rows.sortBy(-_.wallMs)
      println(f"==== $name rep $r: $wall%.2f s, ${rows.size} stages, $jobs jobs ====")
      println(f"${"stage"}%5s ${"wall_ms"}%8s ${"exec_ms"}%8s ${"tasks"}%5s ${"sRd_MB"}%7s ${"sWr_MB"}%7s ${"in_MB"}%7s  name")
      for (s <- sorted.take(40))
        println(f"${s.id}%5d ${s.wallMs}%8d ${s.execMs}%8d ${s.tasks}%5d ${s.shufReadMB}%7.1f ${s.shufWriteMB}%7.1f ${s.inputMB}%7.1f  ${s.graftSite}")
      val byCallsite = rows.groupBy(_.graftSite)
        .map { case (k, v) => (k, v.map(_.wallMs).sum, v.size) }
        .toSeq.sortBy(-_._2)
      println("---- by callsite (wall ms, n stages) ----")
      for ((k, ms, n) <- byCallsite.take(25)) println(f"$ms%8d $n%4d  $k")
      val totalWall = rows.map(_.wallMs).sum
      println(f"sum stage wall: ${totalWall / 1000.0}%.2f s (query wall $wall%.2f s; gap = driver/plan/scheduling)")
    }
    spark.stop()
  }
}

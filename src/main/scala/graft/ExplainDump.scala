package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dumper for the optimization rounds:
  * `runMain graft.ExplainDump <sfDir> <outDir> <name,name,...>`
  * writes `<outDir>/<name>.txt` with the `.explain("formatted")`
  * output of each catalog query, exactly as the session the bench
  * runs under would plan it (same GraftSession factory, same confs).
  *
  * Notes: with AQE on, this is the initial plan
  * (`AdaptiveSparkPlan isFinalPlan=false`) — Exchange counts, join
  * strategy, PushedFilters and ReadSchema are all decided here; AQE
  * only coalesces/skew-splits at runtime. Queries whose construction
  * performs side work (index build entries) pay that work during
  * planning, which is fine for a plan dump.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = SparkEntry.select(args(2))
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.builder().appName("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val out = Paths.get(outDir, s"$n.txt")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
        println(s"WROTE $out")
      } catch {
        case e: Throwable =>
          println(s"FAIL $n: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
      GraftSession.reset(spark)
    }
    spark.stop()
  }
}

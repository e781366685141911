package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.datapipe.Staging

/** One client running catalog entries back to back: each entry is built
  * with `SparkEntry.queries(name)(spark, dir)` and executed as a noop
  * write, with staged frames and cached tables dropped and a GC before
  * every timed execution.
  *
  * Warm-up starts like `graft.Bench`'s: one untimed pass at sf0.001, then
  * one at sf0.01 that also writes every entry's output as parquet in the
  * layout `tools/local_verify.py` reads, so it is the correctness pass
  * too. Four more untimed passes at the timed scale let the JIT settle,
  * since every run is a fresh JVM. Timed passes follow, each in its own seeded order; they stop at
  * the pass boundary nearest to `seconds`. In traced mode exactly two
  * timed passes run, and each entry is traced in pass
  * `(index in names + seed) mod 2` and untraced in the other, so the
  * tracing overhead is measured per entry.
  */
final class ClosedLoop(spark: SparkSession, tracer: Tracer,
                       listener: Option[LayerListener]) {
  private val sc = spark.sparkContext

  private def release(): Unit = {
    Staging.releaseAll()
    spark.catalog.clearCache()
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** The untimed passes: noop writes over `warmDir`; parquet outputs
    * over `checkDir`, with the oracle SQL beside them in `outDir`; then four
    * noop passes over `checkDir`.
    */
  def warmUp(names: Seq[String], warmDir: String, checkDir: String, outDir: String): Map[String, Any] = {
    Files.createDirectories(Paths.get(outDir))
    val errors = mutable.LinkedHashMap.empty[String, String]
    def pass(dir: String)(write: (String, org.apache.spark.sql.DataFrame) => Unit) = names.map { name =>
      val t0 = Clock.nowMs
      try write(name, SparkEntry.queries(name)(spark, dir))
      catch { case e: Throwable => errors(name) = errorText(e) }
      release()
      name -> (Clock.nowMs - t0)
    }.toMap
    val warmMs = pass(warmDir)((_, df) => df.write.format("noop").mode("overwrite").save())
    val checkMs = pass(checkDir)((name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    val settleMs = (1 to 4).map(_ => pass(checkDir)((_, df) => df.write.format("noop").mode("overwrite").save()))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(oracle))
    Map("entries" -> names, "warm_ms" -> warmMs, "check_ms" -> checkMs, "settle_ms" -> settleMs,
      "errors" -> errors)
  }

  /** Timed passes; returns one record per entry execution. */
  def timedPasses(names: Seq[String], dataDir: String, seed: Long,
                  seconds: Double, traced: Boolean): Seq[Map[String, Any]] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = Clock.nowMs
    var pass = 0
    var lastPassMs = 0.0
    def more = if (traced) pass < 2
               else pass == 0 || Clock.nowMs - start < seconds * 1000 - lastPassMs / 2
    while (more) {
      val t0 = Clock.nowMs
      val order = new Random(seed * 1000003L + pass).shuffle(names)
      order.foreach { name =>
        ops += execute(name, dataDir, pass,
          traced && Math.floorMod(names.indexOf(name) + seed, 2L) == pass)
      }
      lastPassMs = Clock.nowMs - t0
      pass += 1
    }
    ops.toSeq
  }

  private def execute(name: String, dataDir: String, pass: Int,
                      active: Boolean): Map[String, Any] = {
    release()
    System.gc()
    val op = s"$name#$pass"
    tracer.op = op
    tracer.enabled = active
    if (active) sc.setLocalProperty(LayerListener.OpKey, op)
    val gc0 = Jvm.gcMs
    var constructMs = 0.0
    var actionMs = 0.0
    var staged = (0L, 0L)
    var error: Option[String] = None
    var root = 0
    val t0 = Clock.nowMs
    tracer.span("op") {
      root = tracer.current
      try {
        val df = tracer.span("queries.construct")(SparkEntry.queries(name)(spark, dataDir))
        val t1 = Clock.nowMs
        constructMs = t1 - t0
        tracer.span("spark.action")(df.write.format("noop").mode("overwrite").save())
        actionMs = Clock.nowMs - t1
        if (active) staged = (sc.getPersistentRDDs.size.toLong,
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      } catch { case e: Throwable => error = Some(errorText(e)) }
      tracer.span("datapipe.release")(release())
    }
    sc.setLocalProperty(LayerListener.OpKey, null)
    val base = Map[String, Any]("name" -> name, "pass" -> pass, "traced" -> active,
      "ms" -> (constructMs + actionMs), "construct_ms" -> constructMs,
      "start_ms" -> t0, "end_ms" -> (t0 + constructMs + actionMs),
      "action_ms" -> actionMs, "ok" -> error.isEmpty, "error" -> error.orNull)
    val layers = listener.filter(_ => active).map { l =>
      BusDrain(sc)
      val s = l.take(op)
      s.stageIntervals.foreach { case (a, b) => tracer.record("spark.stage", root, a, b) }
      s.metrics ++ Map("datapipe.staged_frames" -> staged._1, "datapipe.staged_bytes" -> staged._2,
        "jvm.gc_ms" -> (Jvm.gcMs - gc0), "stage_intervals" -> s.stageIntervals.map(p => Seq(p._1, p._2)))
    }
    tracer.enabled = false
    base ++ layers.map(l => Map("layers" -> l)).getOrElse(Map.empty)
  }
}

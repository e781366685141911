package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.model.ExperimentConfig

/** One benchmark run in a fresh JVM. `perfbench/run.py` starts it and
  * turns the raw record it writes into the benchmark's metrics.
  *
  * Arguments (all required): `--workload --seed --seconds --trace --data
  * --out`. The session runs `local[n]` with n = the JVM's available
  * processors, and the stream uses as many rate-source partitions.
  */
object Main {
  /** Staged minhash pairs feeding label-propagation rounds and shuffle
    * joins, and the native gram and shingle kernels. */
  val CurationPipeline: Seq[String] = Seq("dedup_keep_one", "eval_bleu_corpus", "dedup_ngram_jaccard")

  /** The reference's experiment labels for the configuration the catalog
    * and the hot path run under. */
  private val labels: Map[String, String] = {
    val c = ExperimentConfig.Default
    Map("did_provider" -> c.didProvider, "ssi_validation" -> c.ssiValidationLabel,
      "cache_did" -> c.cacheDidLabel, "processing_mode" -> c.processingMode)
  }

  private def loadavg: String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val cpus = Runtime.getRuntime.availableProcessors
    Jvm.install()

    val t0 = Clock.nowMs
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Clock.nowMs - t0
    val tracer = new Tracer
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val loadBefore = loadavg

    val hotPath = new HotPathStream(spark, tracer, listener)
    val body: Map[String, Any] = workload match {
      case "hot_path_stream" =>
        val stream = hotPath.run(HotPathStream.Rate, cpus, HotPathStream.WarmupS, seconds,
          traced, s"$out/checkpoint")
        Map("stream" -> stream, "ready_ms" -> stream("warm_end_ms"))
      case "curation_pipeline" =>
        val loop = new ClosedLoop(spark, tracer, listener)
        val names = CurationPipeline
        val corr = loop.warmUp(names, s"$data/sf0.001", s"$data/sf0.01", s"$out/verify")
        val ready = Clock.nowMs
        Map("correctness" -> corr, "ready_ms" -> ready,
          "ops" -> loop.timedPasses(names, s"$data/sf0.01", seed, seconds, traced))
    }
    // The hot path's own layers, measured closed-loop in every traced run.
    val layers = if (!traced) Map.empty else {
      tracer.op = "hot_path"
      tracer.enabled = true
      Map("ablation" -> hotPath.ablation(20000, 7, 16), "kernels" -> hotPath.kernels(20000, 5))
    }

    val provenance = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cpus,
      "stream_rate" -> (if (workload == "hot_path_stream") HotPathStream.Rate else null),
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll),
      "loadavg_before_workload" -> loadBefore, "labels" -> labels,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val record = Map(
      "provenance" -> provenance,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs, "heap_peak_mb" -> Jvm.heapPeakMb,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))) ++ body ++ layers
    Files.writeString(Paths.get(s"$out/raw.json"), Json.write(record))
    spark.stop()
  }
}

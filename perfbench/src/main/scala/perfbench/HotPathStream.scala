package perfbench

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.identity.{CredentialOps, Jwt}
import graft.model.{AvroCodec, TradeEvent}
import graft.ops.{EnvelopeOps, EventOps, HotPath, TradeAvroOps}
import graft.streaming.Streams

object HotPathStream {
  /** Frames per second the rate source offers. */
  val Rate = 5000
  /** Batches that start in the stream's first seconds are the warm-up. */
  val WarmupS = 10.0
}

/** The thesis pipeline as an open loop: Spark's rate source emits
  * frames at a fixed rate, each frame goes through `Streams.wsFrameJson`
  * and `HotPath.perTradeReadout` on the stream, and a `foreachBatch` sink
  * computes `HotPath.q1Aggregate` per micro-batch under the default
  * experiment configuration.
  *
  * The stream observes each batch's frame range and rate timestamps, and
  * the sink observes the count and sums of the batch's trade offsets in
  * the same job as q1, so the runner can check that trades are contiguous
  * and recover every trade's due time without collecting rows.
  */
final class HotPathStream(spark: SparkSession, tracer: Tracer,
                          listener: Option[LayerListener]) {
  private val sc = spark.sparkContext
  private val epoch = Streams.WsReplayEpochMs

  private def observed(o: Observation): Option[Map[String, Any]] =
    Try(Await.ready(o.future, 120.seconds)).toOption.map(_ => o.get).filter(_.nonEmpty)

  private def q1Counts(rows: Array[Row]): Map[String, Seq[Long]] =
    rows.map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  /** Runs the stream for `warmupS + seconds`; batches that start in the
    * first `warmupS` are the warm-up. Returns batch records, the query's
    * progress reports and the batch-twin check.
    */
  def run(rate: Int, partitions: Int, warmupS: Double, seconds: Double,
          traced: Boolean, ckpt: String): Map[String, Any] = {
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      val active = traced && id % 2 == 0
      val op = s"batch#$id"
      tracer.op = op
      tracer.enabled = active
      if (active) sc.setLocalProperty(LayerListener.OpKey, op)
      val start = Clock.nowMs
      val out = Observation(s"trades$id")
      var root = 0
      val q1 = tracer.span("streaming.add_batch") {
        root = tracer.current
        val agg = tracer.span("ops.construct") {
          val d = col("t_ms") - lit(epoch)
          HotPath.q1Aggregate(batch.observe(out, count(lit(1)).as("n"), min(d).as("d_min"),
            max(d).as("d_max"), sum(d).as("d_sum"), sum(d * d).as("d_sq")))
        }
        tracer.span("spark.action")(agg.collect())
      }
      val commit = Clock.nowMs
      sc.setLocalProperty(LayerListener.OpKey, null)
      val counts = q1Counts(q1)
      val stats = listener.filter(_ => active).map { l =>
        BusDrain(sc)
        val s = l.take(op)
        s.stageIntervals.foreach { case (a, b) => tracer.record("spark.stage", root, a, b) }
        s.metrics
      }
      tracer.enabled = false
      batches += Map[String, Any]("id" -> id, "traced" -> active, "start_ms" -> start,
        "commit_ms" -> commit, "trades" -> observed(out).orNull,
        "q1" -> counts, "n_ssi_eq_verified" -> q1.forall(r => r.getLong(2) == r.getLong(3))) ++
        stats.map(s => Map("layers" -> s)).getOrElse(Map.empty)
    }

    // JIT and codegen warm-up on the batch twin, so the first micro-batches
    // do not carry the JVM's cold start into the measured window.
    def batchTwin(n: Long) = HotPath.q1Aggregate(HotPath.perTradeReadout(spark, Streams.wsReplayBatch(spark, n), "raw"))
    (1 to 6).foreach(_ => batchTwin(5L * rate).collect())
    val frames = spark.readStream.format("rate")
      .option("rowsPerSecond", rate.toLong)
      .option("numPartitions", partitions.toLong)
      .load()
      .select(col("value").as("seq"), col("timestamp"), Streams.wsFrameJson(col("value")).as("raw"))
      .observe("frames", min("seq").as("lo"), max("seq").as("hi"),
        unix_millis(min("timestamp")).as("ts_lo"), unix_millis(max("timestamp")).as("ts_hi"))
    val t0 = Clock.nowMs
    val query = HotPath.perTradeReadout(spark, frames, "raw").writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).start()
    val warmEnd = t0 + warmupS * 1000
    val end = warmEnd + seconds * 1000
    while (Clock.nowMs < end && query.isActive) Thread.sleep(20)
    val settle = Clock.nowMs + 10000
    while (query.status.isTriggerActive && Clock.nowMs < settle) Thread.sleep(5)
    Try(query.stop())
    val failure = query.exception.map(_.toString)
    val progress = query.recentProgress.filter(_.numInputRows > 0).map { p =>
      Map[String, Any]("id" -> p.batchId, "timestamp" -> p.timestamp,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "frames" -> Option(p.observedMetrics.get("frames")).map(r => r.getValuesMap[Any](r.schema.fieldNames)).orNull)
    }.toSeq

    // The batch twin over every frame the stream committed.
    val hi = progress.flatMap(p => Option(p("frames")).flatMap(_.asInstanceOf[Map[String, Any]].get("hi")))
      .collect { case v: Long => v }.maxOption.getOrElse(-1L)
    val twin = tracer.span("ops.batch_twin")(q1Counts(batchTwin(hi + 1).collect()))
    val streamed = batches.flatMap(_("q1").asInstanceOf[Map[String, Seq[Long]]].toSeq)
      .groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map(p => p._1 + p._2))
    Map("rate" -> rate, "partitions" -> partitions, "start_ms" -> t0, "warm_end_ms" -> warmEnd,
      "end_ms" -> end, "batches" -> batches.toSeq, "progress" -> progress,
      "twin_frames" -> (hi + 1), "twin_equal" -> (twin == streamed), "failure" -> failure.orNull)
  }

  // --- closed-loop hot-path ablation and single-thread kernels ---------

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def medianMs(reps: Int)(f: => Unit): Double = {
    val xs = (1 to reps).map { _ => val t = Clock.nowMs; f; Clock.nowMs - t }.sorted
    xs(xs.size / 2)
  }

  /** The cumulative prefixes of `HotPath.perTradeReadout` over `frames`:
    * parse, then +sign (envelope), then +Avro round trip, then +verify,
    * which is the full readout.
    *
    * This is a frozen copy of the readout's body, so the parts time this
    * copy, not the program. The hash check guards its semantics and the
    * 10% sum check its cost; when `HotPath` changes, update the copy.
    */
  private def prefixes(frames: DataFrame): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val trades = EventOps.parseWsFrames(frames, "raw")
      .withColumn("Trade_Id", concat(lit("T"), col("Event_Timestamp")))
      .withColumn("Price", coalesce(col("Price"), lit(0.0)))
      .withColumn("Volume", coalesce(col("Volume"), lit(0.0)))
    val subject = concat(lit("did:key:z"), col("Event_Timestamp") % 1000)
    val td = struct(col("Trade_Id"), col("Trade_Condition"), col("Price"),
      col("Symbol"), col("Event_Timestamp"), col("Volume"))
    val cred = EnvelopeOps.vcCredential(
      vcId = concat(lit("vc:trade-"), col("Event_Timestamp")),
      issuerDid = lit("did:web:graft.example:issuer"),
      subjectDid = subject,
      issuanceDate = lit("2024-01-01T00:00:00Z"),
      claims = td,
      jwt = CredentialOps.signJwt(to_json(struct(subject.as("sub")))))
    val env = EnvelopeOps.envelope(
      concat(lit("trade-"), col("Event_Timestamp")), col("Symbol"),
      lit("2024-01-01T00:00:00Z"), col("Event_Timestamp") % 2 === 1, td, cred)
    val signed = trades.select(env.as("ev")).select(col("ev.*"))
    val avro = TradeAvroOps.decode(TradeAvroOps.encode(signed.as[TradeEvent])).toDF()
    // The Avro prefix ends with exactly what verification reads, so the
    // verify step adds only the JWT check. The verify prefix is the
    // readout's own final select, so its plan is the full path's.
    val tMs = coalesce(col("tradeData.Event_Timestamp"),
      col("tradeCredential.credentialSubject.claims.TradeData.Event_Timestamp")).as("t_ms")
    val decoded = avro.select(col("symbol"),
      col("tradeCredential").isNotNull.as("is_ssi"),
      col("tradeCredential.proof.jwt").as("jwt"), tMs)
    val verified = avro.select(col("symbol"),
      col("tradeCredential").isNotNull.as("is_ssi"),
      when(col("tradeCredential").isNotNull,
        CredentialOps.verifyJwt(col("tradeCredential.proof.jwt"))).as("verified"), tMs)
    Seq("ops.parse" -> trades, "identity.sign" -> signed, "model.avro" -> decoded,
      "identity.verify" -> verified)
  }

  /** Closed-loop time per trade of each prefix over
    * `Streams.wsReplayBatch(n)`, plus +q1; the parts are the differences
    * between consecutive prefixes. The verify prefix must hash-equal
    * `HotPath.perTradeReadout`, and the full path is timed on its own so
    * the parts can be checked against it. After two untimed rounds, the
    * prefixes and the full path are timed in `reps` interleaved rounds,
    * each job after a GC, so JIT warm-up and drift fall on all of them
    * alike; each takes its median.
    *
    * The parts sum to the +q1 prefix, so the sum check compares that
    * prefix with the full path: the median of their time ratio over the
    * rounds and `pairs` more back-to-back runs of the two. Identical plans
    * still differ by about 15% from one job to the next here, and the
    * extra pairs keep that noise well inside the check's 10%.
    */
  def ablation(n: Long, reps: Int, pairs: Int): Map[String, Any] = {
    // One partition, so each prefix runs as one task on one core.
    val frames = Streams.wsReplayBatch(spark, n).coalesce(1).cache()
    frames.count()
    val steps = prefixes(frames)
    val verified = steps.last._2
    val full = HotPath.perTradeReadout(spark, frames, "raw")
    def digest(df: DataFrame) =
      df.agg(count(lit(1)), sum(hash(df.columns.toSeq.map(col): _*).cast("long"))).head()
    val hashEqual = digest(verified) == digest(full)
    val nTrades = steps.head._2.count()
    val plans = (steps :+ ("ops.q1" -> HotPath.q1Aggregate(verified))) :+
      ("full" -> HotPath.q1Aggregate(full))
    (1 to 2).foreach(_ => plans.foreach { case (_, df) => noop(df) })
    def wallMs(i: Int): Double = {
      val (name, df) = plans(i)
      System.gc()
      tracer.span(s"ablation.$name") { val t = Clock.nowMs; noop(df); Clock.nowMs - t }
    }
    val last = plans.size - 1
    // q1 over the copy and over the full path swap places every round.
    def order(r: Int) = if (r % 2 == 1) Seq(last - 1, last) else Seq(last, last - 1)
    val rounds = (1 to reps).map(r => (plans.indices.dropRight(2) ++ order(r)).map(i => i -> wallMs(i)).toMap)
    val extra = (1 to pairs).map(r => order(r).map(i => i -> wallMs(i)).toMap)
    frames.unpersist(true)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val medians = plans.indices.map(i => median((rounds ++ extra).flatMap(_.get(i))))
    val timed = plans.map(_._1).zip(medians).init
    val fullMs = medians.last
    val ms = timed.map(_._2)
    val parts = timed.map(_._1).zip(ms.zip(0.0 +: ms.init).map { case (t, prev) => t - prev })
    val sumToFull = median((rounds ++ extra).map(r => r(last - 1) / r(last)))
    Map("frames" -> n, "trades" -> nTrades, "reps" -> reps, "hash_equal" -> hashEqual,
      "pairs" -> pairs, "parts_to_full" -> sumToFull,
      "rounds_ms" -> rounds.map(r => plans.indices.map(r)), "prefix_ms" -> timed.toMap,
      "part_us_per_trade" -> parts.map { case (k, v) => k -> v * 1000 / nTrades }.toMap,
      "full_us_per_trade" -> fullMs * 1000 / nTrades)
  }

  /** Nanoseconds per call of the JWT and Avro kernels on one thread,
    * over envelopes built by the hot path's own prefix.
    */
  def kernels(iters: Int, reps: Int): Map[String, Any] = {
    import spark.implicits._
    val secret = CredentialOps.DefaultSecret
    val payload = """{"sub":"did:key:z417"}"""
    val jwt = Jwt.sign(payload, secret)
    val sample = prefixes(Streams.wsReplayBatch(spark, 64))(1)._2.as[TradeEvent].collect()
    val codec = new AvroCodec
    val bytes = sample.map(codec.encode)
    var sink = 0L
    def nsPerCall(name: String)(f: Int => Unit): Double = tracer.span(s"kernel.$name") {
      f(iters)
      medianMs(reps)(f(iters)) * 1e6 / iters
    }
    val signNs = nsPerCall("jwt_sign")(k => (0 until k).foreach(_ => sink += Jwt.sign(payload, secret).length))
    val verifyNs = nsPerCall("jwt_verify")(k => (0 until k).foreach(_ => if (Jwt.verify(jwt, secret)) sink += 1))
    val encNs = nsPerCall("avro_encode")(k => (0 until k).foreach(i => sink += codec.encode(sample(i % sample.length)).length))
    val decNs = nsPerCall("avro_decode")(k => (0 until k).foreach(i => sink += codec.decode(bytes(i % bytes.length)).symbol.length))
    Map("iters" -> iters, "reps" -> reps, "events" -> sample.length, "sink" -> sink,
      "jwt_sign_ns" -> signNs, "jwt_verify_ns" -> verifyNs,
      "avro_encode_ns" -> encNs, "avro_decode_ns" -> decNs)
  }
}

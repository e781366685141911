package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.EventOps

/** `q1_p95_latency` is engine-exact: the p95 of integer-microsecond
  * latencies interpolates in integers and rounds once, half-up, to
  * 6 places ([[EventOps.p95LatencySeconds]]). The two 11-row groups
  * pinned here are ones where `round(percentile(µs / 1e6), 6)` missed
  * the exact value: Spark returned 3.972786 for the first, DuckDB
  * 0.513648 for the second.
  */
class P95LatencySpec extends SparkSpec {
  import spark.implicits._

  private val groups = Seq(
    "a" -> (Seq(3970950L, 3971015L, 3971271L, 3971338L, 3971698L, 3972108L,
      3972524L, 3972621L, 3972638L, 3972784L, 3972789L), 3.972787),
    "b" -> (Seq(511782L, 512370L, 512396L, 512621L, 512724L, 512877L,
      512952L, 513280L, 513532L, 513610L, 513687L), 0.513649))

  // the same values through the integer order statistic in BigInt,
  // independent of the column expression under test
  private def exactP95(us: Seq[Long]): Double = {
    val xs = us.sorted.map(BigInt(_))
    val k = 19 * (xs.size - 1)
    val (lo, r) = (k / 20, k % 20)
    val x20 = 20 * xs(lo) + (if (r == 0) BigInt(0) else r * (xs(lo + 1) - xs(lo)))
    ((2 * x20 * 1000000 + 20000000) / 40000000).toDouble / 1e6
  }

  private def latencies = groups.flatMap { case (g, (us, _)) => us.map(g -> _) }

  test("p95LatencySeconds pins both tie-region groups on a hand-built frame") {
    val got = latencies.toDF("g", "lat_us").groupBy("g")
      .agg(EventOps.p95LatencySeconds(col("lat_us")).as("p95"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    groups.foreach { case (g, (us, want)) =>
      assert(exactP95(us) === want)
      assert(got(g) === want, s"group $g")
    }
  }

  test("p95LatencySeconds: one value is its own p95, no values give NULL, " +
    "and an exact order statistic needs no neighbour") {
    val one = Seq(1234567L).toDF("lat_us")
      .agg(EventOps.p95LatencySeconds(col("lat_us"))).head().getDouble(0)
    assert(one === 1.234567)
    val none = Seq(Option.empty[Long]).toDF("lat_us")
      .agg(EventOps.p95LatencySeconds(col("lat_us"))).head()
    assert(none.isNullAt(0))
    // n = 21: k = 380, r = 0, so p95 is x[19] itself
    val us = (1L to 21L).map(_ * 1000001L)
    val p = us.toDF("lat_us")
      .agg(EventOps.p95LatencySeconds(col("lat_us"))).head().getDouble(0)
    assert(p === exactP95(us) && p === 20.00002)
  }

  test("q1_p95_latency returns the exact values for both groups") {
    val dir = Files.createTempDirectory("graft_p95").toString
    latencies.toDF("event_type", "lat_us")
      .select(col("event_type"),
        timestamp_micros(lit(EventOps.NowEpochMicros) - col("lat_us")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q1_p95_latency")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("p95_latency_s")).toMap
    assert(got === groups.map { case (g, (_, want)) => g -> want }.toMap)
  }
}

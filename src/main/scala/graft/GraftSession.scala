package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main, tool, test and the
  * bench builds its session here, so the engine that is verified and
  * timed is the engine under test.
  *
  * Runs `local[cpus]`, where `cpus` defaults to `SPARK_GRAFT_CPUS`
  * and else to every available core, with settings that carry to a
  * multi-executor cluster: AQE on (runtime shuffle coalescing +
  * skew-join splitting), shuffle partitions sized to the parallelism
  * rather than the 200 default, UTC session time zone for oracle
  * parity.
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native expressions as SQL functions (cosine_similarity,
      // simhash64) for spark.sql users
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // InferFiltersFromGenerate duplicates the generator expression
      // into a pre-filter and pushdown then re-evaluates it per input
      // row below the exchange — for expensive generators (shingle /
      // signature arrays) that doubles scan-side work and serializes
      // it on the unrepartitioned input. explode(outer=false) already
      // skips empty arrays at the Generate itself.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Let AQE re-partition the plans that FILL .stage()/persist
      // caches (default false pins every cached table at the raw
      // shuffle-partition count). The staged tables this engine
      // caches are intermediate model/signature tables many times
      // smaller than their inputs; with the default, every one of
      // their downstream InMemoryTableScan stages inherits
      // `spark.sql.shuffle.partitions` tasks regardless of size.
      // Size-adaptive everywhere: at cluster scale AQE coalesces the
      // cache-fill shuffle to advisory-sized partitions exactly like
      // any other exchange; on small inputs it collapses the
      // scheduling overhead (measured r18: staged-pipeline entries
      // −20–33% at sf0.1 — e2e_curation 8.9→5.9 s — with zero
      // movement on non-cached entries; oracle hashes invariant by
      // construction since no declared output depends on
      // partitioning).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every staged table, cached plan and persisted RDD, so the
    * next query over the same inputs cannot silently read an earlier
    * run's InMemoryRelations or memos (cache lookup matches
    * canonicalized plans).
    */
  def reset(spark: SparkSession): Unit = {
    graft.datapipe.Staging.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

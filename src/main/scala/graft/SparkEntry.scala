package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real inventory lives in [[graft.queries.Catalog]]; this object
  * only adapts it to the driver's expected shape.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Catalog.queries

  /** Catalog entries named by a comma-separated list, in list order:
    * names are trimmed and blanks dropped. Any name not in [[queries]]
    * is an error that lists every such name, so a typo cannot turn a
    * Verify or bench run into a silently empty one.
    */
  def select(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val known = queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"unknown catalog entries: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no catalog entry named in '$csv'")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Catalog.oracleSql
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json and _errors.json, for the DuckDB oracle compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name,name,...]`,
  * then `python3 tools/local_verify.py <sfDir> <outDir>`. The optional
  * third argument restricts the dump to those catalog entries (see
  * [[SparkEntry.select]]); without it every entry is dumped.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.queries
    val names: Seq[String] =
      args.lift(2).map(SparkEntry.select).getOrElse(queries.keys.toSeq.sorted)
    val keep = names.toSet
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    // per-query failures must surface, not vanish: a failed query gets
    // NO <name>/ parquet dir (so the driver records it as missing/err)
    // AND an entry in _errors.json so the failure is greppable from the
    // round artifacts. Round 8 lost 36 queries to silent swallowing.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (name <- names) {
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
      GraftSession.reset(spark)
    }
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
        .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), obj(errors))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}

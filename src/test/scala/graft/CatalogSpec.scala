package graft

import scala.jdk.CollectionConverters._

import graft.queries.Catalog

/** Smoke: every catalog query runs at sf0.001 and yields rows; the
  * oracle map stays consistent with the query map. (Value-level
  * correctness is the driver's DuckDB gate — tools/local_verify.py
  * replays it locally at sf0.01.)
  */
class CatalogSpec extends SparkSpec {

  test("oracle keys are a subset of query keys") {
    val qs = Catalog.queries.keySet
    val orphans = Catalog.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("query names are unique") {
    val names = Catalog.defs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("README's entry count matches the catalog (no doc drift)") {
    // README.md line: "- `graft.queries.Catalog` — N query entries, ..."
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = """Catalog` — (\d+) query entries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer states the catalog entry count")
    assert(m.get.group(1).toInt === Catalog.defs.size,
      s"README claims ${m.get.group(1)} entries; catalog has ${Catalog.defs.size}")
  }

  /** Paths (relative to `root`) of the .scala files under `root`
    * whose text satisfies `bad`. */
  private def scalaSourcesWhere(root: String)(bad: String => Boolean): List[String] = {
    val base = java.nio.file.Paths.get(root)
    val stream = java.nio.file.Files.walk(base)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => bad(new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)))
      .map(base.relativize(_).toString).toList
    finally stream.close()
  }

  test("src/main builds sessions only in GraftSession (no session drift)") {
    val offenders = scalaSourcesWhere("src/main/scala")(
      _.contains("SparkSession.builder()"))
      .filterNot(_.endsWith("/GraftSession.scala"))
    assert(offenders.isEmpty,
      s"sessions built outside GraftSession: ${offenders.mkString(", ")}")
  }

  test("src reads the staging mode only from the session conf (no " +
    "process-global switch)") {
    // split so this file does not match its own patterns
    val envVar = "SPARK_GRAFT_" + "STAGE_MODE"
    val propRead = ("sys\\.props[^\\n]*\"" + "graft\\.stage\\.mode\"").r
    val offenders = scalaSourcesWhere("src")(text =>
      text.contains(envVar) || propRead.findFirstIn(text).isDefined)
    assert(offenders.isEmpty,
      s"process-global staging mode read in: ${offenders.mkString(", ")}")
  }

  test("SparkEntry.select trims names, drops blanks and keeps list order") {
    assert(SparkEntry.select(" q1_pricing_summary , ,bpe_merges,") ===
      Seq("q1_pricing_summary", "bpe_merges"))
  }

  test("SparkEntry.select rejects unknown names, naming each of them") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select("q1_pricing_summary,no_such_entry,bpe_mergez"))
    assert(e.getMessage.contains("no_such_entry"))
    assert(e.getMessage.contains("bpe_mergez"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }

  test("Bench.jstr output parses back through Jackson unchanged") {
    val s = "a\"b\\c\td\re\nf\u0001g"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.jstr(s), classOf[String])
    assert(back === s)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Output-type contract (Catalog scaladoc): every emitted column is
  // string/bigint/double/boolean. Anything else (int, decimal, raw
  // timestamp, array) risks a driver-side dtype hash mismatch — DuckDB
  // SUM(BIGINT) widens to HUGEINT, timestamps differ in precision — so
  // oracle-bearing entries are held to the strict set.
  private val AllowedTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, LongType, DoubleType, BooleanType)
  }

  for (q <- Catalog.defs) {
    test(s"${q.name} runs at sf0.001 with rows > 0") {
      val df = q.run(spark, sf)
      if (q.oracle.isDefined) {
        val bad = df.schema.fields
          .filterNot(f => AllowedTypes.contains(f.dataType))
          .map(f => s"${f.name}:${f.dataType.simpleString}")
        assert(bad.isEmpty,
          s"oracle-hashed columns outside string/bigint/double/boolean: ${bad.mkString(", ")}")
      }
      assert(df.count() > 0)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.datapipe.Staging

/** The release contract of [[Staging]] under both staging modes —
  * pinned because the checkpoint default (r18) NARROWED it and the
  * old scaladoc promise ("a released frame merely loses its cache,
  * the result recomputes") silently became false for materialized
  * checkpoint frames (r18 verdict item; the advisor's release-window
  * hazard is the first test). Each test stages in an explicit
  * per-mode session, so the JVM's default mode never decides which
  * contract is checked.
  */
class StagingSpec extends SparkSpec {

  private lazy val checkpointSession = SparkSpec.stagingSession("checkpoint")

  test("checkpoint mode: releaseAll BEFORE a staged frame's first " +
    "action leaves the frame usable (lazy checkpoint not poisoned)") {
    Staging.releaseAll()
    val staged = Staging.persist(checkpointSession.range(100).toDF("n"))
    // the hazard: unpersisting a LAZY localCheckpoint before its
    // first action used to strip the storage level
    // LocalRDDCheckpointData requires, failing the later action
    Staging.releaseAll()
    assert(staged.agg(sum(col("n"))).collect()(0).getLong(0) === 4950L,
      "a never-materialized staged frame must survive releaseAll")
    Staging.releaseAll() // now materialized: this one frees the blocks
  }

  test("checkpoint mode: a MATERIALIZED staged frame is " +
    "single-consumption across releaseAll (documented narrowed contract)") {
    Staging.releaseAll()
    val staged = Staging.persist(checkpointSession.range(100).toDF("n"))
    assert(staged.count() === 100L) // materialize the checkpoint
    Staging.releaseAll()
    // truncated lineage + released blocks: reuse must fail loudly,
    // never return wrong data — this is the contract the Staging
    // scaladoc documents (consume results BEFORE releasing)
    intercept[Throwable] { staged.count() }
  }

  test("persist mode: a released staged frame recomputes from lineage") {
    try {
      Staging.releaseAll()
      val staged = Staging.persist(SparkSpec.persistSession.range(50).toDF("n"))
      assert(staged.count() === 50L)
      Staging.releaseAll()
      assert(staged.count() === 50L,
        "persist-mode frames keep the wide recompute contract")
    } finally Staging.releaseAll()
  }

  test("the mode is read from the staged frame's own session") {
    try {
      val cp = Staging.persist(checkpointSession.range(5).toDF("n"))
      val pe = Staging.persist(SparkSpec.persistSession.range(5).toDF("n"))
      assert(cp.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        "a checkpoint-session frame stages as a LogicalRDD leaf")
      assert(!pe.queryExecution.analyzed.isInstanceOf[LogicalRDD] &&
        pe.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "a persist-session frame stages through the cache manager")
    } finally Staging.releaseAll()
  }

  test("an unknown staging mode is rejected, naming the value and " +
    "the accepted ones") {
    val typo = SparkSpec.stagingSession("persits")
    val e = intercept[IllegalArgumentException] {
      Staging.persist(typo.range(3).toDF("n"))
    }
    Seq("persits", "checkpoint", "persist", Staging.ModeConf).foreach(w =>
      assert(e.getMessage.contains(w), s"message must name $w: ${e.getMessage}"))
  }

  test("staged entries give the same rows in checkpoint and persist " +
    "sessions") {
    val staged = Seq("dedup_keep_one", "dedup_cluster_sizes",
      "dedup_ngram_jaccard", "dedup_containment", "decontaminate_trim",
      "mix_doremi_iter", "text_perplexity", "text_classifier")
    def rows(session: SparkSession, name: String) =
      try SparkEntry.queries(name)(session, sf).collect().map(_.toString)
        .sorted.toSeq
      finally Staging.releaseAll()
    staged.foreach { name =>
      val cp = rows(checkpointSession, name)
      val pe = rows(SparkSpec.persistSession, name)
      assert(cp.nonEmpty, s"$name returned no rows")
      assert(cp === pe, s"$name differs between staging modes")
    }
  }
}

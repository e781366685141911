package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.Staging

/** Shared local SparkSession for all suites (one per test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cpus = "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A session on the shared context whose `.stage()` calls use
    * staging `mode` (`checkpoint` or `persist`), whatever the JVM's
    * default: the mode is session state, so suites running side by
    * side never see each other's setting.
    */
  def stagingSession(mode: String): SparkSession = {
    val s = session.newSession()
    s.conf.set(Staging.ModeConf, mode)
    s
  }

  lazy val persistSession: SparkSession = stagingSession("persist")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** The executed plan of `build`'s query under persist staging. Plan
    * pins inspect the STAGED pipelines' internals; checkpoint staging
    * (the default) truncates staged subtrees to LogicalRDD leaves, so
    * the pins build in a persist-mode session. The pipeline SHAPE they
    * certify is identical in both modes; persist just keeps it visible
    * in the composed plan.
    */
  def persistStagedPlan(build: SparkSession => DataFrame): String =
    build(SparkSpec.persistSession).queryExecution.executedPlan.toString
}

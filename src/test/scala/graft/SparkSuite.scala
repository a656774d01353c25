package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (built through
  * [[graft.Sessions]] so session flags match production). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.shared

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSuite {
  lazy val shared: SparkSession = Sessions.local("graft-test")

  private object Plans extends AdaptiveSparkPlanHelper

  /** AQE-aware exchange count of an EXECUTED plan — runs the frame
    * first so adaptive stages are final. */
  def countExchanges(df: DataFrame): Int = {
    df.collect()
    Plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
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

  /** AQE-aware exchange count of an EXECUTED plan — runs the frame
    * first so adaptive stages are final. */
  def countExchanges(df: DataFrame): Int = {
    df.collect()
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }
}

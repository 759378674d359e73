package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The plan a warm pass times keeps every join, aggregate, window,
  * generate and sort of the query's own optimized plan: the benchmark
  * must time the full answer, not a pruned one (as `.count()` would).
  * Inputs come from the benchmark's own generator, at a small size. */
class PlanCensusSpec extends AnyFunSuite {
  private lazy val dir: String = {
    val d = new java.io.File("target/census-tables").getAbsolutePath
    val gen = new java.io.File("../inputs.py").getAbsolutePath
    val code = new ProcessBuilder("python3", gen, d, "7", "6000", "500", "500")
      .inheritIO().start().waitFor()
    assert(code == 0, "input generation failed")
    d
  }

  private lazy val spark: SparkSession =
    graft.core.Sessions.build("plan-census", master = Some("local[2]"))

  /** Operator census of an optimized plan, subqueries included. */
  private def census(plan: LogicalPlan): Map[String, Int] =
    plan.collectWithSubqueries {
      case _: Join => "join"
      case _: Aggregate => "aggregate"
      case _: Window => "window"
      case _: Generate => "generate"
      case _: Sort => "sort"
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** The optimized plan of the action the benchmark times. */
  private def timedPlan(df: DataFrame): LogicalPlan = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      QueryWorkload.timedAction(df)
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.last.optimizedPlan)
  }

  private def lost(own: Map[String, Int], timed: Map[String, Int]) =
    own.collect { case (k, n) if timed.getOrElse(k, 0) < n =>
      s"$k ${timed.getOrElse(k, 0)} < $n" }

  for (name <- Workload.queryLists.values.flatten.toSeq.distinct.sorted)
    test(s"$name: the timed plan keeps the query's operators") {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val own = census(df.queryExecution.optimizedPlan)
      val timed = census(timedPlan(df))
      assert(lost(own, timed).isEmpty, s"timed plan lost: ${lost(own, timed)}")
      spark.catalog.clearCache()
    }

  test("the census catches the pruning a count() would do") {
    val df = graft.SparkEntry.queries("q_window")(spark, dir)
    val own = census(df.queryExecution.optimizedPlan)
    val counted = census(df.groupBy().count().queryExecution.optimizedPlan)
    assert(lost(own, counted).nonEmpty)
  }
}

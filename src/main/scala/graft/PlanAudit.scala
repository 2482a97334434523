package graft

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev tool: audit every registered query's physical plan and emit the
  * PLANS.md summary — exchange (shuffle) count, join strategies, and
  * whether scan pushdown is in effect. The "is this the plan you'd want at
  * 100 TB" review, mechanized.
  *
  * Two shuffle columns (round-9 verdict #6): `shuffles` is the COLD audit
  * plan — memoized family builders (graph edges, shingle dictionaries,
  * zonal membership) inlined, so iterative queries print their one-time
  * builder cost too. `runtime` is the same query re-planned after one
  * materializing run, counted by a tree walk that STOPS at
  * InMemoryTableScan boundaries — i.e. the exchanges a steady-state pass
  * actually executes once the session memos are warm (the basis the bench
  * measures). The two differing wildly for the graph/dedup families is the
  * documented builder-amortization, now a measured column instead of a
  * prose disclaimer. */
object PlanAudit {

  /** Exchanges a warm pass executes: hash/range shuffles in the main plan,
    * not descending below cached (InMemoryTableScan) boundaries — a warm
    * cache hit reads the materialized columnar buffers, it does not re-run
    * the builder subtree. ReusedExchange and SinglePartition collects are
    * excluded, matching the string-count column's definition. */
  def runtimeShuffles(p: SparkPlan): Int = p match {
    // inputPlan is pre-EnsureRequirements (no exchanges yet); executedPlan
    // on a fresh, unexecuted AQE root is the INITIAL plan with exchanges
    case a: AdaptiveSparkPlanExec => runtimeShuffles(a.executedPlan)
    case scan if scan.nodeName.contains("InMemoryTableScan") => 0
    case s: ShuffleExchangeExec =>
      val self = s.outputPartitioning match {
        case _: HashPartitioning | _: RangePartitioning => 1
        case _ => 0
      }
      self + s.children.map(runtimeShuffles).sum
    case other => other.children.map(runtimeShuffles).sum
  }

  /** Hash/range shuffles in a plan's text; a cached subtree that appears
    * twice counts twice. */
  def shuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length +
      "Exchange rangepartitioning".r.findAllIn(plan).length

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.build(Session.registry(Session.cpus), logLevel = "ERROR")
    println("| query | shuffles | runtime | joins | pushed filters |")
    println("|---|---|---|---|---|")
    SparkEntry.registry.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def count(s: String) = s.r.findAllIn(plan).length
        val joins = Seq(
          "BroadcastHashJoin" -> count("BroadcastHashJoin"),
          "SortMergeJoin" -> count("SortMergeJoin"),
          "BroadcastNestedLoopJoin" -> count("BroadcastNestedLoopJoin"))
          .filter(_._2 > 0).map { case (k, v) => s"${v}x$k" }.mkString(", ")
        val pushed = if ("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined) "yes" else "-"
        // materialize once (populates session memos and .cache() frames),
        // then re-plan: the second plan is the steady-state one. Own try:
        // a runtime-only failure (plan analyzes fine, execution dies) must
        // not discard the already-computed cold columns above.
        val warm =
          try { df.count(); runtimeShuffles(q.run(spark, sfDir).queryExecution.executedPlan).toString }
          catch { case e: Throwable => s"- (run error: ${e.getMessage.take(30)})" }
        println(s"| `${q.name}` | ${shuffles(plan)} | $warm | ${if (joins.isEmpty) "-" else joins} | $pushed |")
      } catch {
        case e: Throwable => println(s"| `${q.name}` | plan error: ${e.getMessage.take(40)} | | | |")
      } finally spark.catalog.clearCache() // .cache() registers at plan time
    }
    spark.stop()
  }
}

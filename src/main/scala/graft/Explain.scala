package graft

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev tool: dump formatted physical plans (runMain graft.Explain [q..]),
  * or with "--scan" print a one-line plan-smell summary per query:
  * cartesian products, nested-loop joins, and the [[keyedExchanges]]
  * count that `PlanAuditSpec` gates, followed by one line per counted
  * exchange ([[describeExchange]]). Each query is planned from a clean
  * cache, as the audit plans it.
  */
object Explain {

  /** Keyed (hash or range) shuffles in a physical plan, in plan order,
    * each listed once. An adaptive plan is read through its initial
    * plan, subqueries are descended into, and a cached relation's build
    * plan is counted once per plan however often the query refers to
    * it. An exchange that adaptive execution reuses at run time is
    * counted once per occurrence in the initial plan.
    *
    * Counting `Exchange hashpartitioning` in the printed plan does not
    * work: every reference to a cached carrier prints the carrier's whole
    * build plan again, and a materialized adaptive carrier prints it
    * twice (final and initial plan). So the printed count depends on what
    * the session ran before; this one does not.
    */
  def keyedExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val own = p match {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case _: HashPartitioning | _: RangePartitioning => Seq(e)
          case _                                          => Nil
        }
        case _ => Nil
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case i: InMemoryTableScanExec if seen.add(i.relation.cachedPlan) =>
          walk(i.relation.cachedPlan)
        case _ => Nil
      }
      own ++ inner ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** One line per keyed exchange: its partitioning keys and the operator
    * it shuffles the output of (codegen and row/column glue skipped). */
  private def describeExchange(e: ShuffleExchangeExec): String = {
    def below(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => below(w.child)
      case i: InputAdapter          => below(i.child)
      case c: ColumnarToRowExec     => below(c.child)
      case pr: ProjectExec          => below(pr.child)
      case other                    => other
    }
    val (kind, keys) = e.outputPartitioning match {
      case h: HashPartitioning  => ("hash", h.expressions.map(_.sql))
      case r: RangePartitioning => ("range", r.ordering.map(_.child.sql))
      case other                => (other.getClass.getSimpleName, Nil)
    }
    s"$kind(${keys.mkString(", ")}) <- ${below(e.child).nodeName}"
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_SF_DIR: plan shapes are stats-driven (file-size based
    // broadcast selection), so the scale-validation run diffs --scan
    // output across sf dirs to catch joins that silently flip strategy
    // as the data grows
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val scan = args.contains("--scan")
    val named = args.filterNot(_ == "--scan").toSeq
    val wanted = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    wanted.foreach { q =>
      // a carrier left materialized by an earlier query carries real
      // size statistics, which can flip its joins to broadcasts
      spark.catalog.clearCache()
      val df = SparkEntry.queries(q)(spark, d)
      if (scan) {
        val executed = df.queryExecution.executedPlan
        val plan = executed.toString()
        val smells = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"))
          .collect { case (n, true) => n }
        val keyed = keyedExchanges(executed)
        println(f"$q%-26s shuffles=${keyed.size} ${smells.mkString(",")}")
        keyed.foreach(e => println(s"    ${describeExchange(e)}"))
      } else {
        println(s"========== $q ==========")
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}

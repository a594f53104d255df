package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.perfbench.PlanFrame
import graft.{Caches, SparkEntry}

/** The kernel layer, `functions.<Expression>.ns_per_row`: every engine
  * expression that the curation queries reach, timed as planned (driver-
  * collected dictionaries bound) over its own input relation, cached:
  * the time to evaluate it on every row (reading its input columns from
  * the cache) minus the time to scan the cached rows. Workload-
  * independent, so any traced run can take it. */
object Kernels {
  /** The curation sweep whose kernels are timed (batch_curation's). */
  val CurationQueries: Seq[String] = Seq(
    "q17_token_frequency", "q22_jaccard_pairs", "q24_minhash_lsh_pairs",
    "q60_canonical_docs", "q64_unigram_rarity", "q69_duplicate_spans",
    "q73_jaccard_prefix", "q87_lm_perplexity", "q95_containment_pairs",
    "q102_fuzzy_pairs", "q103_odds_quality", "q130_more_like_this")

  /** Where the engine's native expressions live. */
  val Packages = Seq("org.apache.spark.sql.graft.", "graft.functions.")

  private def noop(p: LogicalPlan, spark: SparkSession): Unit =
    PlanFrame(spark, p).write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, tables: String,
      queries: Seq[String] = CurationQueries): Seq[(String, Double)] = {
    val found = mutable.LinkedHashMap.empty[String, (Expression, LogicalPlan)]
    queries.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, tables).queryExecution.analyzed
      plan.foreach { node =>
        if (node.children.size == 1) {
          val child = node.children.head
          node.expressions.foreach(_.foreach { e =>
            val name = e.getClass.getSimpleName
            if (Packages.exists(e.getClass.getName.startsWith) &&
                e.deterministic && e.references.nonEmpty &&
                e.references.subsetOf(child.outputSet) &&
                !found.contains(name))
              found(name) = (e, child)
          })
        }
      }
      Caches.releaseAll()
    }
    found.toSeq.map { case (name, (e, child)) =>
      val input = PlanFrame(spark, child).persist()
      val rows = input.count().max(1L)
      def time(p: LogicalPlan): Double = {
        val xs = (0 until 4).map { _ =>
          val t0 = System.nanoTime()
          noop(p, spark)
          (System.nanoTime() - t0).toDouble
        }
        Stats.median(xs.drop(1))
      }
      val withKernel = time(Project(Seq(Alias(e, "k")()), child))
      val scanOnly = time(Project(Seq(Alias(Literal(1), "k")()), child))
      input.unpersist(blocking = true)
      s"functions.$name.ns_per_row" -> math.max(0.0, withKernel - scanOnly) / rows
    }
  }
}

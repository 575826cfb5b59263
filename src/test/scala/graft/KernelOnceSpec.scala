package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

/** The scan → per-row kernel → presentation-sort operators run their
  * kernel once per answer.
  *
  * A global `orderBy` plans as a range exchange, and Spark's
  * `RangePartitioner` runs a sampling job over that exchange's whole
  * child before the map stage runs the child again. With the kernel
  * projection below the sort, every kernel expression ran twice. These
  * operators sort the narrow scan rows and project the kernel (and any
  * synthesized input it reads) above the sort, so the sampler
  * evaluates no expression beyond the scan.
  */
class KernelOnceSpec extends SparkSpec {

  private lazy val gated = PlanGate.session(spark)

  /** Expression nodes other than attributes, literals and aliases in
    * the Project, Filter and Generate operators of `plan`, down to its
    * scans, stopping at other exchanges.
    */
  private def kernelNodes(plan: SparkPlan): Int = {
    def count(e: Expression): Int =
      e.collect {
        case x if !x.isInstanceOf[Attribute] && !x.isInstanceOf[Literal] &&
          !x.isInstanceOf[Alias] => x
      }.size
    def walk(p: SparkPlan): Int = p match {
      case _: Exchange => 0
      case _ =>
        val own = p match {
          case ProjectExec(list, _) => list.map(count).sum
          case f: FilterExec => count(f.condition)
          case g: GenerateExec => count(g.generator)
          case _ => 0
        }
        own + p.children.map(walk).sum
    }
    walk(plan)
  }

  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val initial = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    initial.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
  }

  // Kernel nodes the range sampler evaluated with the kernel below the
  // sort: fin_spline_features 2282, mm_av_meta 581, mm_binary_meta 406,
  // mm_resize_plan 361, text_html_extract 95, text_quality 88,
  // text_langid 83, text_pii_scrub 55, fin_cyclical_features 51,
  // text_scripts 46, text_fingerprint 30, text_tokens 24,
  // text_normalize 9.
  Seq("fin_spline_features", "mm_av_meta", "mm_binary_meta", "mm_resize_plan",
    "text_html_extract", "text_quality", "text_langid", "text_pii_scrub",
    "fin_cyclical_features", "text_scripts", "text_fingerprint", "text_tokens",
    "text_normalize")
    .foreach { name =>
      test(s"the range sampler of $name evaluates no kernel expression") {
        val ranges = rangeExchanges(SparkEntry.queries(name)(gated, PlanGate.defaultSf))
        assert(ranges.nonEmpty, s"$name plans no range exchange")
        assert(ranges.map(e => kernelNodes(e.child)).sum === 0,
          s"$name: kernel expression nodes below its range exchange")
      }
    }
}

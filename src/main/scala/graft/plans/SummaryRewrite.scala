package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized-rollup rewrite: an `Aggregate` whose child IS a
  * registered view (matched by canonicalized logical plan) and whose
  * shape is answerable from the view's staged summary table gets
  * rewritten to aggregate the SUMMARY instead of the raw data — the
  * classic materialized-view query-redirection, as a Catalyst rule.
  *
  * Why at 100 TB: the daily-counts dashboard query re-scans the full
  * event log on every run; the summary table is group-cardinality-sized
  * (types x days), so the rewritten scan reads kilobytes instead of
  * terabytes while Catalyst's own pruning/pushdown still applies. The
  * rewrite is SEMANTICS-PRESERVING by construction because every
  * supported measure re-aggregates exactly:
  *  - COUNT(1) over rows  == SUM(cnt) over summary rows (long addition
  *    is associative — no float reordering can move the answer);
  *  - SUM(col) for INTEGRAL col == SUM(sum_col) for the same reason.
  * Groupings COARSER than the summary key re-aggregate through the same
  * sums; DOUBLE measures are deliberately unsupported (partial-sum
  * reassociation changes IEEE results — the oracle would catch it).
  *
  * Matching is conservative; the rule fires only when ALL hold:
  *  - the aggregate's child (after peeling one optional Filter) equals a
  *    registered view's canonicalized plan — the same normalization
  *    stack, not merely the same file;
  *  - every grouping expression is a bare column of the summary's group
  *    key (subset grouping allowed: it re-aggregates);
  *  - the optional filter references ONLY group-key columns and is
  *    deterministic (it pushes to the summary verbatim);
  *  - every aggregate output is a grouping column, COUNT(<non-null
  *    literal>), or SUM(<registered integral column>) — no DISTINCT, no
  *    FILTER clauses;
  *  - at least one grouping column (a GLOBAL count over an empty source
  *    yields one zero row, but an empty summary would yield null — the
  *    one shape whose re-aggregation is NOT transparent).
  *
  * Installed through `graft.functions.GraftExtensions` as a POST-HOC
  * RESOLUTION rule (analysis time): the match must see the view plan
  * verbatim — by optimizer time, column pruning and project collapsing
  * have already fused the view's projections beyond recognition. Output
  * attributes keep their exprIds, so downstream operators are unaware.
  *
  * Freshness is the registrar's contract: [[register]] keys the entry to
  * the view and records the summary path; re-registering (e.g. after the
  * staging layer rebuilds on source mtime change — see
  * `operators.Summaries`) replaces the entry atomically. */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** A registered rollup: `summary` holds one row per distinct
    * group-key combination with `cntCol` = COUNT(1) and, per entry
    * (src -> sum_col) in `sums`, SUM(src) of the view's integral
    * column `src`. */
  final case class Entry(
      summaryPath: String,
      groupCols: Seq[String],
      cntCol: String,
      sums: Map[String, String])

  private val registry = TrieMap.empty[String, Entry]

  private def keyOf(view: DataFrame): String =
    view.queryExecution.analyzed.canonicalized.toString

  def register(view: DataFrame, entry: Entry): Unit =
    registry.put(keyOf(view), entry)

  def clear(): Unit = registry.clear()

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupingExprs, aggExprs, child, _)
        if agg.resolved && groupingExprs.nonEmpty =>
      rewrite(agg, groupingExprs, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    // peel one optional filter between the aggregate and the view
    val (filterCond, viewPlan) = child match {
      case Filter(cond, inner) => (Some(cond), inner)
      case other => (None, other)
    }
    val entry = registry.get(viewPlan.canonicalized.toString) match {
      case Some(e) => e
      case None => return None
    }
    val groupSet = entry.groupCols.toSet

    // grouping: bare view columns within the summary's group key
    val groupAttrs = groupingExprs.map {
      case a: AttributeReference if groupSet.contains(a.name) => a
      case _ => return None
    }
    // filter: deterministic, group-key columns only
    filterCond.foreach { c =>
      if (!c.deterministic) return None
      if (!c.references.forall(r => groupSet.contains(r.name))) return None
    }
    // aggregate outputs: grouping column | COUNT(lit) | SUM(integral col)
    sealed trait Out
    final case class GroupOut(a: AttributeReference) extends Out
    case object CntOut extends Out
    final case class SumOut(srcName: String) extends Out
    def classify(e: Expression): Option[Out] = e match {
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        Some(GroupOut(a))
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => Some(CntOut)
          case Count(Nil) => Some(CntOut)
          case s: Sum => s.child match {
            case a: AttributeReference if entry.sums.contains(a.name) &&
              (a.dataType == org.apache.spark.sql.types.LongType ||
                a.dataType == org.apache.spark.sql.types.IntegerType) =>
              Some(SumOut(a.name))
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
    val classified: Seq[(NamedExpression, Out)] = aggExprs.map {
      case al @ Alias(inner, _) => classify(inner) match {
        case Some(o) => (al, o)
        case None => return None
      }
      case a: AttributeReference => classify(a) match {
        case Some(o) => (a, o)
        case None => return None
      }
      case _ => return None
    }

    // build a FRESH summary scan (fresh exprIds per use — a plan may
    // legally contain two rewritten aggregates)
    val spark = SparkSession.active
    // a summary whose files are gone serves no rewrite: the aggregate
    // then plans over the view itself, which is always correct
    val summary = try spark.read.parquet(entry.summaryPath) catch {
      case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        return None
    }
    val sPlan = summary.queryExecution.analyzed
    val sAttr: Map[String, Attribute] = sPlan.output.map(a => a.name -> a).toMap
    // the summary must actually carry everything we are about to use
    if (!entry.groupCols.forall(sAttr.contains) || !sAttr.contains(entry.cntCol) ||
      !entry.sums.values.forall(sAttr.contains)) return None

    val newChild = filterCond match {
      case Some(c) =>
        val rewired = c.transform {
          case a: AttributeReference => sAttr(a.name)
        }
        Filter(rewired, sPlan)
      case None => sPlan
    }
    val newGrouping: Seq[Expression] = groupAttrs.map(a => sAttr(a.name))
    val newAggExprs: Seq[NamedExpression] = classified.map { case (orig, out) =>
      val rewritten: Expression = out match {
        case GroupOut(a) => sAttr(a.name)
        case CntOut => Sum(sAttr(entry.cntCol)).toAggregateExpression()
        case SumOut(src) => Sum(sAttr(entry.sums(src))).toAggregateExpression()
      }
      // keep name, exprId, and type: downstream references must not move.
      // COUNT returns LongType and SUM(long-cnt) returns LongType, so the
      // types line up by construction; assert rather than assume.
      if (rewritten.dataType != orig.dataType) return None
      Alias(rewritten, orig.name)(exprId = orig.exprId,
        qualifier = orig.qualifier)
    }
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = newAggExprs, child = newChild))
  }
}

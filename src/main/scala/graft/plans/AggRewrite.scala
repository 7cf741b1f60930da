package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-aggregate query rewrite — the classic warehouse
  * "summary table" optimization as an injected Catalyst
  * `Rule[LogicalPlan]` (SURVEY §2.9's extension point, exercised for
  * real): an `Aggregate` over a registered base table whose grouping
  * keys and aggregate functions are all answerable from a registered
  * summary parquet is REPLACED by a projection over the summary —
  * the base table is never scanned. At 100 TB that is the difference
  * between a full fact scan and reading a few thousand summary rows.
  *
  * Contract (deliberately conservative — all-or-nothing):
  *   - the aggregate's child must be the registered base relation
  *     (optionally under attribute-only Projects / SubqueryAliases —
  *     i.e. column pruning); ANY filter, join, or expression between
  *     scan and aggregate disables the rewrite;
  *   - grouping keys must be bare columns matching the summary's
  *     declared group columns as a set;
  *   - every aggregate call must be non-distinct, unfiltered, and map
  *     through [[Summary.measures]] (keyed by `fn(column)`); outer
  *     expressions AROUND aggregate calls (round, arithmetic) are
  *     preserved and re-applied over the summary columns;
  *   - freshness is the registrar's contract, exactly as with any
  *     materialized view: a stale summary gives stale answers.
  *
  * Output attribute ids are preserved (each replacement aliases under
  * the original exprId), so parent operators are untouched.
  *
  * Enable per session via `spark.experimental.extraOptimizations ++=
  * Seq(new AggRewrite.RewriteRule(spark))` or cluster-wide through
  * `GraftExtensions`.
  */
object AggRewrite {

  /** A registered summary: `path` holds one row per group with the
    * group columns plus one column per measure; `measures` maps the
    * canonical aggregate key (`"sum(l_quantity)"`, `"count(1)"`,
    * `"min(x)"`, ...) to its summary column name. */
  final case class Summary(path: String, groupCols: Seq[String],
      measures: Map[String, String])

  private[plans] val registry = new TrieMap[String, Summary]()

  private def normalize(p: String): String =
    p.replaceFirst("^file:", "").stripSuffix("/")

  def register(basePath: String, summary: Summary): Unit =
    registry.put(normalize(basePath), summary)

  /** Canonical measure key for a physical aggregate call; None = not
    * rewritable (distinct, filtered, or an unsupported function /
    * non-column child). */
  private def measureKey(ae: AggregateExpression): Option[String] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case s: Sum => s.child match {
        case a: AttributeReference => Some(s"sum(${a.name})")
        case _ => None
      }
      case c: Count => c.children match {
        case Seq(Literal(1, _)) => Some("count(1)")
        case Seq(a: AttributeReference) => Some(s"count(${a.name})")
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference => Some(s"min(${a.name})")
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => Some(s"max(${a.name})")
        case _ => None
      }
      case _ => None
    }

  final class RewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg: Aggregate =>
          attempt(agg.groupingExpressions, agg.aggregateExpressions,
            agg.child).getOrElse(agg)
      }

    /** The base-relation path under attribute-only projections, plus
      * any filter conditions found on the way down (the caller decides
      * whether they are hoistable). */
    private def relationPath(p: LogicalPlan,
        conds: Seq[Expression]): Option[(String, Seq[Expression])] = p match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption
            .map(x => (normalize(x.toString), conds))
        case _ => None
      }
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        relationPath(c, conds)
      case SubqueryAlias(_, c) => relationPath(c, conds)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        relationPath(f.child, conds :+ f.condition)
      case _ => None
    }

    private def attempt(groups: Seq[Expression],
        aggExprs: Seq[NamedExpression],
        child: LogicalPlan): Option[LogicalPlan] = {
      val found = relationPath(child, Nil)
      val summary = found.flatMap { case (p, _) => registry.get(p) }
      summary.flatMap { s =>
        val conds = found.map(_._2).getOrElse(Nil)
        val groupNames = groups.map {
          case a: AttributeReference => Some(a.name)
          case _ => None
        }
        // A pre-aggregate filter is hoistable above the aggregate iff
        // it touches only GROUP columns (then filtering groups after
        // aggregation is identical); anything touching a measured
        // column disables the rewrite.
        val condsHoistable = conds.forall(_.references.toSeq
          .forall(a => s.groupCols.contains(a.name)))
        if (!condsHoistable || groupNames.exists(_.isEmpty) ||
            groupNames.flatten.toSet != s.groupCols.toSet) None
        else {
          val summaryPlan =
            spark.read.parquet(s.path).queryExecution.analyzed
          val byName: Map[String, Attribute] =
            summaryPlan.output.map(a => a.name -> a).toMap
          var ok = true
          val projected = aggExprs.map {
            case a: AttributeReference =>
              byName.get(a.name) match {
                case Some(sa) => Alias(sa, a.name)(exprId = a.exprId)
                case None => ok = false; a
              }
            case al: Alias =>
              val aggRewritten = al.child.transform {
                case ae: AggregateExpression =>
                  measureKey(ae).flatMap(s.measures.get)
                    .flatMap(byName.get) match {
                    case Some(sa) =>
                      if (sa.dataType == ae.dataType) sa
                      else Cast(sa, ae.dataType)
                    case None => ok = false; ae
                  }
              }
              // Base-table attributes referenced OUTSIDE aggregate calls
              // (group columns inside expressions like sum(x)+g or
              // concat(g, ...)) still carry base-relation exprIds; remap
              // them onto the summary's attributes (group columns exist
              // there by construction) and bail out on any miss so such
              // shapes fall back to the base scan instead of emitting a
              // Project over attributes absent from its child.
              val summaryIds = summaryPlan.outputSet
              val rewritten = aggRewritten.transform {
                case a: AttributeReference if !summaryIds.contains(a) =>
                  byName.get(a.name) match {
                    case Some(sa) => sa
                    case None => ok = false; a
                  }
              }
              Alias(rewritten, al.name)(exprId = al.exprId)
            case other => ok = false; other
          }
          val filtered =
            if (conds.isEmpty) summaryPlan
            else {
              val remapped = conds.map(_.transform {
                case a: AttributeReference => byName.get(a.name) match {
                  case Some(sa) => sa
                  case None => ok = false; a
                }
              }).reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
              org.apache.spark.sql.catalyst.plans.logical.Filter(
                remapped, summaryPlan)
            }
          if (ok) Some(Project(projected, filtered)) else None
        }
      }
    }
  }
}

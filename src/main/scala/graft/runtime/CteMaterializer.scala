package graft.runtime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction,
  UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.expressions.{UnresolvedWindowExpression, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Join, LogicalPlan,
  UnresolvedWith}
import org.apache.spark.sql.graft.OfRows

/** Hot-CTE materialization for SQL-text models (r17 optimization round).
  *
  * Spark inlines every CTE reference: a `WITH x AS (<windows/joins>)` body
  * referenced N times is PLANNED and EXECUTED N times — only the Exchange
  * subtrees get reused at runtime, so the sort + window / join / aggregate
  * work above each exchange is paid per reference. The reference corpus's
  * funnel models lean on exactly this shape (campaign_funnels references its
  * sessionization chain from 4 CTEs and its lag chain from 3 more; measured
  * plan: 66 Exchanges / 60 Window nodes for one 150k-row model run).
  *
  * This pass rewrites a model's PARSED plan (inputs already bound in by
  * [[SqlTemplater.runSql]]) before analysis:
  *   1. only the top-level `WITH` is considered; `WITH RECURSIVE` is left
  *      alone;
  *   2. a definition is HOT when it is referenced >= 2 times as a relation
  *      by later definitions and the final query (counted with Spark's CTE
  *      scoping, subqueries included), contains an expensive operator (a
  *      join, a grouped aggregate, a DISTINCT, a window, a DISTINCT call),
  *      and is deterministic (no rand()/uuid()/current_timestamp()/… — those
  *      must keep single-query evaluation semantics; non-determinism
  *      propagates through the earlier definitions a body reads). The plans
  *      bound in for inputs are not inspected: an upstream view's joins do
  *      not make `SELECT * FROM {{ ref(x) }}` hot;
  *   3. each hot definition's query is built once, with all earlier
  *      definitions in scope, into a LAZY `localCheckpoint` — computed on
  *      first use of the enclosing query, block-cached for the other
  *      references — whose plan replaces the query inside the definition.
  *      The definition's name and column-alias list stay, so resolution and
  *      column sets are identical.
  *
  * Honesty note (bench contract): `localCheckpoint` persists the RDD of THIS
  * plan instance only — nothing registers with the CacheManager, so no later
  * query (and no later bench iteration) can silently match it by plan
  * equality. Every run recomputes from the parquet inputs. The checkpoint
  * cuts lineage and keeps its blocks only on executors: losing one (e.g.
  * under dynamic allocation) fails the query.
  *
  * Scale note: at 100 TB the trade is the standard cache-vs-recompute one
  * (guide §5): one materialization of the shared intermediate (spilling to
  * local disk past memory) versus re-running its shuffles+sorts per
  * reference. With >= 2 references of window/join work the materialization
  * wins; single-reference CTEs are left alone.
  */
object CteMaterializer {

  // functions whose per-query single evaluation a split into a separate
  // statement would change, or that are plain non-deterministic
  private val NonDet = Set("rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "current_timestamp", "now", "localtimestamp",
    "current_date", "curdate", "unix_timestamp", "input_file_name", "spark_partition_id")
  // the parenthesis-free forms, which parse as column references
  private val NonDetBare = Set("current_timestamp", "current_date", "localtimestamp")

  /** Every node of `p` (CTE definitions and subquery plans included) outside
    * the already-analyzed plans bound in for inputs. */
  private def nodes(p: LogicalPlan): Iterator[LogicalPlan] =
    if (p.analyzed) Iterator.empty
    else Iterator(p) ++ (p.children ++ p.innerChildren.collect { case q: LogicalPlan => q } ++
      p.subqueries).iterator.flatMap(nodes)

  private def expensive(p: LogicalPlan): Boolean = nodes(p).exists {
    case _: Join | _: Distinct => true
    case a: Aggregate if a.groupingExpressions.nonEmpty => true
    case n => n.expressions.exists(_.exists {
      case _: WindowExpression | _: UnresolvedWindowExpression => true
      case f: UnresolvedFunction => f.isDistinct
      case _ => false
    })
  }

  private def nonDeterministic(p: LogicalPlan): Boolean =
    nodes(p).exists(_.expressions.exists(_.exists {
      case f: UnresolvedFunction => NonDet(f.nameParts.last.toLowerCase)
      case UnresolvedAttribute(Seq(n)) => NonDetBare(n.toLowerCase)
      case _ => false
    }))

  /** The relation names `p` reads that no `WITH` inside `p` defines. */
  private def relations(p: LogicalPlan): Seq[String] = {
    val names = Seq.newBuilder[String]
    SqlTemplater.mapRelations(p) { n => names += n.toLowerCase; None }
    names.result()
  }

  /** Rewrite `plan`, materializing hot CTEs as lazy local checkpoints.
    * Returns `plan` itself when nothing qualifies. */
  def materializeHot(spark: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case w: UnresolvedWith if !w.allowRecursion =>
      val defs = w.cteRelations.toVector
      val names = defs.map(_._1.toLowerCase)
      // read(k): names body k (or, at defs.size, the final query) reads
      val read = (defs.map(_._2) :+ w.child).map(relations)
      // a name body k reads refers to definition j only when j < k
      val nonDet = defs.indices.foldLeft(Vector.empty[Boolean]) { (acc, k) =>
        acc :+ (nonDeterministic(defs(k)._2) || read(k).exists { n =>
          val j = names.indexOf(n); j >= 0 && j < k && acc(j)
        })
      }
      val hot = defs.indices.filter { k =>
        read.drop(k + 1).map(_.count(_ == names(k))).sum >= 2 &&
          expensive(defs(k)._2) && !nonDet(k)
      }
      if (hot.isEmpty) plan
      else w.copy(cteRelations = hot.foldLeft(defs) { (cur, k) =>
        val (name, alias, depth) = cur(k)
        val (query, rewrap) = alias.child match {
          case a: UnresolvedSubqueryColumnAliases => (a.child, (q: LogicalPlan) => a.copy(child = q))
          case q => (q, identity[LogicalPlan] _)
        }
        val stmt = if (k == 0) query else w.copy(child = query, cteRelations = cur.take(k))
        // lazy checkpoint: nothing runs now; the first action over the final
        // statement computes the subtree ONCE and block-caches it for the
        // remaining references. No CacheManager entry — see scaladoc.
        val cp = OfRows(spark, stmt).localCheckpoint(eager = false)
        cur.updated(k, (name, alias.copy(child = rewrap(cp.queryExecution.analyzed)), depth))
      })
    case _ => plan
  }
}

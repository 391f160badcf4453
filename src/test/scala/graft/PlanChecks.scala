package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, ExpressionSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Project, Window => LWindow}
import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Structural scale checks shared by the plan-pin suites. */
object PlanChecks {

  /** Partition-less Window nodes in the optimized plan that would
    * single-reducer-sort a ROW-SCALE frame — the one plan shape that
    * cannot survive a 100× scale-up.
    *
    * A partition-less ORDERED window is dictionary-bounded exactly
    * when every ordering column is a GROUPING KEY of an Aggregate
    * beneath it (possibly re-derived through Projects of safe
    * columns): its input cardinality is then the number of distinct
    * key VALUES, not the number of rows. Aggregate-FUNCTION outputs
    * do not qualify — ordering a per-entity frame by an aggregated
    * measure is still one row per entity, i.e. row-scale. Cached
    * frames are seen through: an InMemoryRelation's physical plan is
    * walked for the same aggregate/project structure, so persisting a
    * dictionary does not hide its grouping keys from the law.
    *
    * A partition-less UNORDERED window (whole-frame running totals)
    * does no sort; it is accepted when an Aggregate sits anywhere
    * beneath it (the frame has been reduced), flagged when it runs
    * directly over un-aggregated rows.
    *
    * A window with a LIMIT beneath it is accepted regardless of its
    * ordering columns: the frame is bounded by the literal limit
    * (the `Ranks.topK` → rank-within-top-k shape). This is a lint
    * law, so the check is lineage-anywhere, not direct-child —
    * a join of a limited frame against an unbounded one would
    * slip through, but no battery operator windows such a join.
    */
  /** BroadcastNestedLoopJoin nodes whose BUILD side is NOT provably
    * a ≤1-row frame — the data-shaped BNLJs that cannot survive
    * scale. The accepted class is the 1-row broadcast attach
    * (`crossJoin(broadcast(scalarAgg))`): its build subtree roots at
    * a grouping-less aggregate, a LIMIT ≤ 1, or a ≤1-row local
    * relation, possibly under cardinality-preserving unary nodes
    * (project/filter/exchange/codegen wrappers) or a product of two
    * such frames (1×1 = 1). Walks INTO InMemoryTableScan cached
    * plans and AQE subtrees, so the textual echo of one logical
    * attach under many cache consumers is counted structurally,
    * not by substring — the former raw-count caps could absorb a
    * real data-shaped BNLJ without failing.
    */
  def dataShapedBnlj(df: DataFrame): Seq[String] =
    dataShapedBnlj(df, Set.empty)

  /** As above, additionally accepting build sides that root at a
    * grouped aggregate whose EVERY grouping column is named in
    * `allowedDictKeys` — the explicit escape hatch for deliberate
    * dictionary×dictionary grids (e.g. the AC2 category-weight grid:
    * a C×C cross of the category dictionary, bounded by the
    * instrument, not the data). The caller names the dictionary keys
    * it accepts, so a future BNLJ against a row-scale frame still
    * fails (row-scale frames are not grouped on an allowed key).
    */
  def dataShapedBnlj(df: DataFrame, allowedDictKeys: Set[String]): Seq[String] = {
    // provably ≤1 row: recurse through nodes that cannot increase
    // cardinality; accept the three 1-row roots; a join/product of
    // two ≤1-row frames is ≤1 row
    def tiny(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty ||
        tiny(a.child)
      case l: org.apache.spark.sql.execution.GlobalLimitExec =>
        l.limit <= 1 || tiny(l.child)
      case l: org.apache.spark.sql.execution.LocalLimitExec =>
        l.limit <= 1 || tiny(l.child)
      case l: LocalTableScanExec => l.rows.size <= 1
      case s: InMemoryTableScanExec => tiny(s.relation.cachedPlan)
      case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        tiny(aqe.executedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        tiny(r.child)
      case b: BroadcastNestedLoopJoinExec => tiny(b.left) && tiny(b.right)
      case c: CartesianProductExec => tiny(c.left) && tiny(c.right)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        tiny(j.left) && tiny(j.right)
      case u: UnaryExecNode => tiny(u.child) // project/filter/sort/
        // exchange/codegen wrappers: none adds rows
      case _ => false
    }
    // build side rooting at a grouped aggregate on allowed dictionary
    // keys only (unwrapping cardinality-preserving nodes on the way)
    def dictRooted(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.nonEmpty &&
        a.groupingExpressions.forall {
          case att: Attribute => allowedDictKeys.contains(att.name)
          case al: Alias => allowedDictKeys.contains(al.name)
          case _ => false
        }
      case s: InMemoryTableScanExec => dictRooted(s.relation.cachedPlan)
      case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        dictRooted(aqe.executedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        dictRooted(r.child)
      case u: UnaryExecNode => dictRooted(u.child)
      case _ => false
    }
    val seen = scala.collection.mutable.Set[Int]()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(System.identityHashCode(p))) return
      p.foreach {
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
            case _ => b.right
          }
          if (!tiny(build) && !dictRooted(build))
            out += b.simpleString(200) + "\nBUILD SIDE:\n" +
              build.treeString.linesIterator.take(40).mkString("\n")
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(aqe.executedPlan)
        case _ => ()
      }
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }

  /** Every node of `df`'s executed plan, seen through adaptive
    * execution and its query stages. Run the frame first to see AQE's
    * final plan (query stages, whole-stage codegen).
    */
  def executedNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case n => n
    }

  /** How often an expression of class `cls` occurs in the nodes' own
    * expressions — 1 for a kernel computed once and read by column,
    * more when `CollapseProject` has inlined it into its consumers.
    */
  def expressionCount(nodes: Seq[SparkPlan], cls: Class[_]): Int =
    nodes.map(_.expressions.map(_.collect {
      case e if cls.isInstance(e) => e
    }.size).sum).sum

  def rowScaleGlobalWindows(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        val safe = scala.collection.mutable.Set[ExprId]()
        var hasAgg = false
        var hasLimit = false

        def markAgg(groupingExpressions: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                    resultExpressions: Seq[NamedExpression]): Unit = {
          hasAgg = true
          val gset = ExpressionSet(groupingExpressions)
          resultExpressions.foreach {
            case attr: Attribute if gset.contains(attr) =>
              safe += attr.exprId
            case al @ Alias(c, _) if gset.contains(c) =>
              safe += al.exprId
            case _ => ()
          }
        }

        def markProject(projectList: Seq[NamedExpression]): Boolean = {
          var changed = false
          projectList.foreach {
            case al: Alias if !safe.contains(al.exprId) &&
                al.references.nonEmpty &&
                al.references.forall(r => safe.contains(r.exprId)) =>
              safe += al.exprId
              changed = true
            case _ => ()
          }
          changed
        }

        // An InMemoryRelation re-maps attribute exprIds: its OUTPUT
        // attrs are fresh while the cached physical plan keeps the
        // originals — so safety is decided INSIDE the cached plan
        // (same aggregate/project rules on physical nodes, seeing
        // through the leaf-like AQE wrapper), then translated to the
        // relation's output attrs POSITIONALLY.
        def physicalNodes(p: SparkPlan): Seq[SparkPlan] = {
          val buf = scala.collection.mutable.ArrayBuffer[SparkPlan]()
          p.foreach {
            case s: InMemoryTableScanExec =>
              buf += s
              buf ++= physicalNodes(s.relation.cachedPlan)
            case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              buf += aqe
              buf ++= physicalNodes(aqe.executedPlan)
            case n => buf += n
          }
          buf.toSeq
        }
        def markCached(imr: InMemoryRelation): Unit = {
          val nodes = physicalNodes(imr.cachedPlan)
          val safeP = scala.collection.mutable.Set[ExprId]()
          var anyAgg = false
          nodes.foreach {
            case a: BaseAggregateExec =>
              anyAgg = true
              val gset = ExpressionSet(a.groupingExpressions)
              a.resultExpressions.foreach {
                case attr: Attribute if gset.contains(attr) =>
                  safeP += attr.exprId
                case al @ Alias(c, _) if gset.contains(c) =>
                  safeP += al.exprId
                case _ => ()
              }
            case _ => ()
          }
          var moved = true
          while (moved) {
            moved = false
            nodes.foreach {
              case pe: ProjectExec =>
                pe.projectList.foreach {
                  case al: Alias if !safeP.contains(al.exprId) &&
                      al.references.nonEmpty &&
                      al.references.forall(r => safeP.contains(r.exprId)) =>
                    safeP += al.exprId
                    moved = true
                  case _ => ()
                }
              case _ => ()
            }
          }
          if (anyAgg) hasAgg = true
          imr.output.zip(imr.cachedPlan.output).foreach {
            case (outer, inner) if safeP.contains(inner.exprId) =>
              safe += outer.exprId
            case _ => ()
          }
        }

        w.child.foreach { node =>
          node match {
            case _: GlobalLimit | _: LocalLimit =>
              hasLimit = true
            case a: Aggregate =>
              markAgg(a.groupingExpressions, a.aggregateExpressions)
            case imr: InMemoryRelation =>
              markCached(imr)
            case _ => ()
          }
        }
        // a column derived purely from safe columns is itself safe
        var changed = true
        while (changed) {
          changed = false
          w.child.foreach { node =>
            node match {
              case p: Project =>
                if (markProject(p.projectList)) changed = true
              case _ => ()
            }
          }
        }
        val orderRefs = w.orderSpec.flatMap(_.child.references).map(_.exprId)
        val ok = hasLimit ||
          (if (orderRefs.nonEmpty) orderRefs.forall(safe.contains)
           else hasAgg)
        if (ok) None else Some(w.simpleString(160))
    }.flatten
  }
}

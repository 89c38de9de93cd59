package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project, RepartitionOperation, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Push a Sort below a computing Project: `Sort(k, Project(e, c))` →
  * `Project(e, Sort(k, c))` when the sort keys are pass-through child
  * attributes.
  *
  * Why: a GLOBAL sort range-partitions by sampling its child — a
  * separate job that executes the ENTIRE child plan, projection
  * included, before the real pass runs it again. With an expensive
  * projection (trig/CRS math, JSON assembly, decimal quantize) the
  * query pays the map work twice and ships the computed columns
  * through the range exchange. Sorting first samples only the scan,
  * evaluates the projection ONCE (above the sort), and shuffles the
  * narrower base columns. Measured on q_round_decimal at sf0.1:
  * 1.3 s → ~1.1 s warm steady-state under the bench protocol
  * (isolated 5-rep medians; no-sort floor 0.5 s). An earlier 0.8 s
  * figure came from a pre-quantize-column variant of the query and
  * does not reproduce — the query-site PERF NOTE in Queries.scala
  * carries the current reconciled numbers.
  *
  * Spark has no built-in rule for this direction (ColumnPruning only
  * narrows the child; the Project stays below the Sort). The physical
  * `Limit(Project(Sort))` pattern still becomes TakeOrderedAndProject,
  * so top-k queries keep their specialized operator after the swap.
  *
  * Fires only when provably safe AND likely profitable:
  *  - every sort key resolves to a child output attribute (through
  *    bare-rename aliases) — computed sort keys stay put, since
  *    pushing them down would re-evaluate them below anyway;
  *  - the projection computes at least one non-attribute expression —
  *    pure pruning/rename projections are left for ColumnPruning;
  *  - the projection and sort order are deterministic (moving a
  *    nondeterministic projection across a sort changes row/value
  *    pairing);
  *  - every child column the projection consumes WITHOUT passing
  *    through is fixed-width — never push a variable-width column
  *    (the text blob feeding an md5/tokenize) into the exchange that
  *    the projection was about to drop;
  *  - the child subtree is SHUFFLE-FREE (no join/aggregate/window/
  *    repartition below). Above a shuffle-producing subtree the
  *    trade flips: the sampling pass reads materialized stage output
  *    either way, so the only effect of the swap is a (possibly
  *    wider) range exchange — measured +0.8 s on the sf0.1 n-gram
  *    Jaccard pair sort, whose projection NARROWS five join columns
  *    into one double;
  *  - the projection does not narrow the row (static defaultSize of
  *    the consumed child columns ≤ of the projected output), so the
  *    range exchange never carries more bytes than the original.
  *
  * Ordering is preserved: Project is a per-row operator, so the
  * sorted order of `Sort(k, c)` survives the projection above it.
  * Terminates: each application moves the Sort strictly deeper; the
  * rewritten `Project(Sort(...))` no longer matches.
  */
object SortThroughProject extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case s @ Sort(order, global, p @ Project(projectList, child), _)
        if p.projectList.forall(_.deterministic) &&
          order.forall(_.deterministic) &&
          projectList.exists {
            case Alias(_: Attribute, _) => false
            case _: Attribute => false
            case _ => true
          } && shuffleFree(child) && !widens(p) && {
          val rewritten = rewriteOrder(order, projectList)
          rewritten.forall(_.references.subsetOf(child.outputSet)) &&
            droppedRefs(p).forall(a => UnsafeRow.isFixedLength(a.dataType))
        } =>
      {
        // Re-prune below the pushed Sort: physical scan pruning
        // (FileSourceStrategy's ReadSchema) is derived from the Project
        // sitting DIRECTLY above the relation, and this rule runs in
        // extraOptimizations — after ColumnPruning. Without an explicit
        // attribute-only Project under the Sort, the relation's FULL
        // width comes back (measured: a 3-column events query re-reading
        // all 6 columns, `props` included, through both the sampling
        // pass and the range exchange). The pruning Project is
        // attrs-only, so it can never re-fire this rule (termination)
        // and physical planning folds it into the scan.
        val newOrder = rewriteOrder(order, projectList)
        val needed = p.references ++
          org.apache.spark.sql.catalyst.expressions.AttributeSet(
            newOrder.flatMap(_.references))
        val prunedChild =
          if (child.outputSet.subsetOf(needed)) child
          else Project(child.output.filter(needed.contains), child)
        Project(projectList, s.copy(order = newOrder, child = prunedChild))
      }
  }

  /** Sort order with project-output attribute ids replaced by the child
    * attributes they pass through (bare attrs keep their exprId; bare
    * renames map through the alias).
    */
  private def rewriteOrder(order: Seq[SortOrder],
      projectList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Seq[SortOrder] = {
    val renames = AttributeMap(projectList.collect {
      case a @ Alias(attr: Attribute, _) => a.toAttribute -> attr
    })
    order.map(_.transform {
      case a: Attribute => renames.getOrElse(a, a)
    }.asInstanceOf[SortOrder])
  }

  /** No shuffle-producing operator below: the win case is a projection
    * over a scan-side pipeline, where the range-sampling job would
    * otherwise evaluate the projection a second time. Below a shuffle
    * the sampling pass reads materialized stage output either way.
    */
  private def shuffleFree(plan: LogicalPlan): Boolean = plan.collectFirst {
    case j: Join => j
    case a: Aggregate => a
    case w: Window => w
    case s: Sort => s
    case r: RepartitionOperation => r
  }.isEmpty

  /** Static row-width check: swapping must not widen the range
    * exchange. defaultSize undercounts real strings/arrays, but both
    * sides use the same estimate, so only the relative comparison
    * matters.
    */
  private def widens(p: Project): Boolean = {
    val childBytes = p.references.toSeq.map(_.dataType.defaultSize).sum
    val outBytes = p.projectList.map(_.dataType.defaultSize).sum
    childBytes > outBytes
  }

  /** Child attributes the projection consumes but does not output. */
  private def droppedRefs(p: Project) = {
    val passed = p.projectList.collect {
      case a: Attribute => a
      case Alias(attr: Attribute, _) => attr
    }
    p.references -- passed
  }

  /** Idempotently add this rule to an existing session's optimizer (the
    * extraOptimizations batch runs after pruning, so the swapped plan is
    * final). This is the rule's only way into a session.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(SortThroughProject))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SortThroughProject
}

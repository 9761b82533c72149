package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral,
  LessThan, LessThanOrEqual, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit,
  LogicalPlan, Sort, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: rewrite the composable top-k idiom
  *
  *   `df.withColumn("rn", row_number().over(partitionBy(k).orderBy(o)))
  *      .filter($"rn" <= k)`
  *
  * into the native [[TopKPerKey]] operator. Vanilla Spark's own
  * `InferWindowGroupLimit` (3.5+) prunes rows during this pattern's sort
  * but still SORTS every group; [[TopKPerKeyExec]] keeps a bounded k-heap
  * per key instead — O(n log k), no sort anywhere in the stage, and the
  * exchange is shared (both formulations cluster on the partition keys).
  *
  * The rewrite emits the rank column as the SAME attribute (exprId) the
  * window alias bound, with identical `row_number` semantics (heap drain
  * position), so every downstream reference — residual predicates,
  * projections, the `=== 1` flag idiom — resolves against the new node
  * unchanged. The original filter is kept on top verbatim: residual
  * conjuncts still apply, and the rank bound itself degenerates to a
  * cheap always-true check over ≤ k rows per key.
  *
  * Fires only on the exact shape it can prove: a Filter directly over a
  * single-expression `row_number()` Window with nonempty partition AND
  * order specs, where some conjunct upper-bounds the rank attribute by a
  * positive integer literal. `rank()`/`dense_rank()` filters are left to
  * vanilla (tie semantics differ: they keep all tied rows, a k-heap does
  * not). A `WindowGroupLimit` the built-in rule already inserted below
  * the Window is subsumed (it is a strict row filter implied by the
  * bound, and the limit it carries derives from the same predicate).
  *
  * MEMORY CONTRACT inherited from [[TopKPerKey]]: per-task state is
  * (k+1) rows per distinct key and does not spill (the loud
  * `maxKeysPerPartition` cap still applies). `spark.graft.topkRewrite
  * .maxK` (default 1000) refuses huge-k rewrites where the sort-based
  * window form's spilling is the right behavior;
  * `spark.graft.topkRewrite.enabled=false` is the kill switch, per
  * session (`spark.conf.set`) or per run (`spark-submit --conf
  * spark.graft.topkRewrite.enabled=false`, or the same key as a
  * `-Dspark.*` system property).
  *
  * Tie caveat (same contract as vanilla): when the ordering is not total,
  * `row_number` assigns tied rows arbitrarily in EITHER formulation
  * (sort instability vs heap order) — the rewrite neither introduces nor
  * removes nondeterminism. All query sites in this repo order totally.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  /** Is there a Limit under `p`, looking through the narrow unary nodes
    * sibling optimizer rules interpose (Project, Sort)? The global-arm
    * idempotence guard.
    */
  private def hasLimitBelow(p: LogicalPlan): Boolean = p match {
    case Limit(_, _) => true
    case proj: org.apache.spark.sql.catalyst.plans.logical.Project =>
      hasLimitBelow(proj.child)
    case s: Sort => hasLimitBelow(s.child)
    case _ => false
  }

  /** Tightest upper bound on `rn` among the filter's conjuncts. */
  private def bound(cond: Expression, rn: Attribute): Option[Int] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case o => Seq(o)
    }
    val ks = split(cond).collect {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))
          if a.semanticEquals(rn) => k
      case LessThan(a: Attribute, IntegerLiteral(k))
          if a.semanticEquals(rn) => k - 1
      case EqualTo(a: Attribute, IntegerLiteral(k))
          if a.semanticEquals(rn) => k
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute)
          if a.semanticEquals(rn) => k
      case GreaterThan(IntegerLiteral(k), a: Attribute)
          if a.semanticEquals(rn) => k - 1
      case EqualTo(IntegerLiteral(k), a: Attribute)
          if a.semanticEquals(rn) => k
    }
    if (ks.isEmpty) None else Some(ks.min)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = SQLConf.get
    if (!conf.getConfString("spark.graft.topkRewrite.enabled", "true")
          .trim.equalsIgnoreCase("true")) return plan
    // a malformed conf value must degrade to the default, not throw
    // NumberFormatException out of the optimizer (which would fail
    // EVERY query in the session, not just disable the rewrite)
    val maxK = scala.util.Try(
      conf.getConfString("spark.graft.topkRewrite.maxK", "1000").trim.toInt
    ).getOrElse(1000)
    plan.transform {
      case f @ Filter(cond, w: Window)
          if w.windowExpressions.size == 1 && w.partitionSpec.nonEmpty &&
            w.orderSpec.nonEmpty =>
        w.windowExpressions.head match {
          case alias @ Alias(WindowExpression(_: RowNumber, _), _) =>
            val rn = alias.toAttribute
            bound(cond, rn) match {
              case Some(k) if k >= 1 && k <= maxK =>
                val child = w.child match {
                  // the built-in rule's pre-pruning node: implied by the
                  // bound we enforce exactly; drop it
                  case wgl: WindowGroupLimit => wgl.child
                  case c => c
                }
                Filter(cond, TopKPerKey(k, w.partitionSpec, w.orderSpec,
                  child, rankAttr = Some(rn)))
              case _ => f
            }
          case _ => f
        }

      // GLOBAL top-k: `row_number().over(orderBy(o)) <= k` with NO
      // partition spec is the single-partition-window antipattern — the
      // whole input funnels through one task's sort. Rewriting the
      // window's input to Limit(k) ∘ Sort lets Spark plan
      // TakeOrderedAndProject (per-partition heap + driver merge of k
      // rows per partition); the rank window then runs over k rows. The
      // filter and window stay, so ranks and residual conjuncts are
      // untouched — only the corpus-sized sort moves out of the single
      // partition.
      case f @ Filter(cond, w: Window)
          if w.windowExpressions.size == 1 && w.partitionSpec.isEmpty &&
            w.orderSpec.nonEmpty &&
            // fixed-point guard: a Limit anywhere below the window (even
            // behind Projects/Sorts sibling rules interposed mid-batch)
            // means this rule already ran — re-firing would nest a
            // second, redundant Limit∘Sort
            !TopKRewriteRule.hasLimitBelow(w.child) =>
        w.windowExpressions.head match {
          case alias @ Alias(WindowExpression(_: RowNumber, _), _) =>
            val rn = alias.toAttribute
            bound(cond, rn) match {
              case Some(k) if k >= 1 && k <= maxK =>
                val child = w.child match {
                  case wgl: WindowGroupLimit => wgl.child
                  case c => c
                }
                Filter(cond, w.withNewChildren(Seq(Limit(
                  org.apache.spark.sql.catalyst.expressions.Literal(k),
                  Sort(w.orderSpec, global = true, child)))))
              case _ => f
            }
          case _ => f
        }
    }
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the QUALIFY-shaped rank-filter pattern
  *
  * {{{ Filter(rn <= k, ... Project* ... Window(row_number() as rn, part, ord)) }}}
  *
  * into the bounded-heap [[TopKPerGroupNode]]. This is the reference's W1
  * operator (latest-record dedup, merge_core.sql:13-16 / QUALIFY rn = 1) —
  * the hottest shape in the pipeline, it runs inside every MERGE.
  *
  * Why: `WindowExec` fully sorts every partition by (part, ord) before
  * numbering rows — O(n log n) with a spillable sort buffer — and then the
  * filter throws away all but k rows per group. Spark's own
  * `InferWindowGroupLimit` (3.5+) prunes to k per group map-side but still
  * sorts both sides. The heap operator never sorts: one streaming pass,
  * O(n log k) comparisons, O(groups·k) memory — at 100 TB the difference
  * between sorting the table and scanning it.
  *
  * Guards (the rewrite only fires when provably safe):
  *  - the Window computes EXACTLY one window expression, a plain
  *    `row_number()` over the default rows frame;
  *  - the rank attribute flows to the filter through Project chains only;
  *  - k <= [[RankFilterToTopK.MaxK]] (the heap's memory win needs small k);
  *  - the window's orderSpec is non-empty.
  * The Filter itself is kept (other conjuncts still apply; the rank bound
  * becomes trivially true), so the rewrite is purely a physical improvement.
  */
object RankFilterToTopK extends Rule[LogicalPlan] with PredicateHelper {

  /** Heaps win for small k; a large-k "top" is better served by the sort. */
  val MaxK = 100

  private def rankBound(conjunct: Expression): Option[(Attribute, Int)] = conjunct match {
    case EqualTo(a: Attribute, IntegerLiteral(k)) if k == 1 => Some((a, 1))
    case EqualTo(IntegerLiteral(k), a: Attribute) if k == 1 => Some((a, 1))
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) => Some((a, k))
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) => Some((a, k))
    case LessThan(a: Attribute, IntegerLiteral(k)) => Some((a, k - 1))
    case GreaterThan(IntegerLiteral(k), a: Attribute) => Some((a, k - 1))
    case _ => None
  }

  private def isPlainRowNumber(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(_: RowNumber,
      WindowSpecDefinition(_, _,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _) => true
    case _ => false
  }

  /** The Window producing `attr` as a lone plain row_number, reachable from
    * `plan` through Projects only.
    */
  private def findWindow(plan: LogicalPlan, attr: Attribute): Option[Window] = plan match {
    case w: Window
        if w.windowExpressions.size == 1 &&
          isPlainRowNumber(w.windowExpressions.head) &&
          w.windowExpressions.head.toAttribute.semanticEquals(attr) &&
          w.orderSpec.nonEmpty =>
      Some(w)
    case p: Project => findWindow(p.child, attr)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val candidates = splitConjunctivePredicates(cond).flatMap(rankBound)
        .filter { case (_, k) => k >= 1 && k <= MaxK }
      candidates.flatMap { case (attr, k) => findWindow(child, attr).map((_, attr, k)) }
        .headOption match {
        case Some((w, attr, k)) =>
          // InferWindowGroupLimit may already have inserted a per-group limit
          // below the window; the heap subsumes it.
          val source = w.child match {
            case wgl: WindowGroupLimit => wgl.child
            case c => c
          }
          val topk = TopKPerGroupNode(k, w.partitionSpec, w.orderSpec,
            attr.asInstanceOf[AttributeReference], source)
          Filter(cond, child.transformUp { case node if node.fastEquals(w) => topk })
        case None => f
      }
  }
}

/** The one install path for graft's planner strategy, optimizer rules, SQL
  * functions and local filesystem. It registers into a LIVE session,
  * idempotently, so it reaches sessions built outside this library too:
  * [[graft.GraftSession]] calls it at start and `SparkEntry.queries` before
  * every catalog query.
  *
  * The local filesystem ([[graft.io.LocalFs]]) becomes the session's
  * `file:` filesystem (`fs.file.impl` on the SparkContext's Hadoop
  * configuration) and the JVM's cached `file:` instance, so no `mkdirs` or
  * `create` on local disk forks a `chmod` process — in committers on task
  * threads, driver-written versions and pointers, and any other caller
  * that resolves a `file:` path through Hadoop's `FileSystem`.
  */
object GraftRules {
  def register(spark: SparkSession): Unit = {
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    TopK.register(spark)
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq RankFilterToTopK))
      spark.experimental.extraOptimizations = cur :+ RankFilterToTopK
    val cur2 = spark.experimental.extraOptimizations
    if (!cur2.exists(_ eq JoinElimination))
      spark.experimental.extraOptimizations = cur2 :+ JoinElimination
    val cur3 = spark.experimental.extraOptimizations
    if (!cur3.exists(_ eq MvRewrite))
      spark.experimental.extraOptimizations = cur3 :+ MvRewrite
    registerFunctions(spark)
  }

  /** SQL-surface registration of the library's native expressions, so
    * `spark.sql("SELECT jaro_winkler(a, b) ...")` works exactly like the
    * Column API (q175 exercises this path end to end). Arity is validated
    * here so a bad call fails at analysis with a readable message, not with
    * a MatchError from the builder. A name the session already resolves is
    * left alone, so the per-query call from `SparkEntry.queries` neither
    * rebuilds the registry entry nor logs a replacement warning.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def arity(name: String, n: Int)(
        build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, { args =>
          require(args.length == n, s"$name expects $n argument(s), got ${args.length}")
          build(args)
        }, "built-in")
    arity("dot_product", 2) { case Seq(a, b) => graft.functions.DotProduct(a, b) }
    arity("jaro_winkler", 2) { case Seq(a, b) => graft.functions.JaroWinkler(a, b) }
    arity("nfc_normalize", 1) { case Seq(a) => graft.functions.NfcNormalize(a) }
    arity("hilbert_xy2d", 3) { case Seq(x, y, b) =>
      // bits must be a foldable int literal — the curve depth is plan-time
      val bits = b match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"hilbert_xy2d: bits must be an integer literal, got $other")
      }
      graft.functions.HilbertIndex2D(x, y, bits)
    }
  }
}

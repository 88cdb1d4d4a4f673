package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, CreateArray, EqualNullSafe, EqualTo, Explode, Expression, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule for the reference's null-wildcard join pattern
  * (rahil/create_views.py:253-258): an inner join on
  * `a = b OR b IS NULL` — "a NULL key matches everything". Catalyst can
  * only execute that as a BroadcastNestedLoopJoin (O(n*m) comparisons).
  *
  * Rewrite: explode the non-wildcard side into match keys
  * `a IS NULL ? [null] : [a, null]` and join with null-safe equality
  *
  *   Project(original output,
  *     Join(Generate(explode(keys), left), right, ENS(__wild_key, b)))
  *
  * Each left row matches `b = a` rows via its real key and `b IS NULL`
  * wildcard rows via its null key — exactly once each, preserving the
  * original multiplicity (incl. the a-IS-NULL corner: the original
  * predicate only matches through the wildcard branch, and the rewrite
  * emits only the null key). EqualNullSafe is hash-joinable, so both
  * match classes flow through one shuffled/broadcast hash join at any
  * scale — no nested loop, no subtree duplication.
  *
  * Scope: single-disjunct conditions with the IS NULL column on one
  * side and an equality spanning both. Conjunctions of several
  * OR-IS-NULL clauses (the reference stacks four) stay on the manual
  * union-of-equi rewrite (graft.queries.Relational q16).
  */
object OrNullJoinRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(Or(eq @ EqualTo(x, y), IsNull(c: Attribute))), hint)
        if right.outputSet.contains(c) &&
          isSided(eq, left, right) && sideOf(eq, right).semanticEquals(c) =>
      val a = sideOf(eq, left) // probe-side key expression
      val keyType = a.dataType
      val nullKey = Literal.create(null, keyType)
      val keys = If(IsNull(a), CreateArray(Seq(nullKey)), CreateArray(Seq(a, nullKey)))
      val wildKey = AttributeReference("__wild_key", keyType, nullable = true)()
      val gen = Generate(Explode(keys), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(wildKey), child = left)
      val joined = Join(gen, right, Inner, Some(EqualNullSafe(wildKey, c)), hint)
      Project(j.output, joined)
  }

  /** eq has one reference set entirely in `left` and one in `right`. */
  private def isSided(eq: EqualTo, left: LogicalPlan, right: LogicalPlan): Boolean =
    Seq(eq.left, eq.right).forall(e =>
      e.references.subsetOf(left.outputSet) || e.references.subsetOf(right.outputSet)) &&
      eq.references.intersect(left.outputSet).nonEmpty &&
      eq.references.intersect(right.outputSet).nonEmpty

  /** The operand of eq that resolves against `side`. */
  private def sideOf(eq: EqualTo, side: LogicalPlan): Expression =
    if (eq.left.references.subsetOf(side.outputSet)) eq.left else eq.right
}

/** Session extensions entry point: install with
  * `SparkSession.builder().withExtensions(GraftExtensions.apply)`, or
  * take a session on the running SparkContext from [[session]].
  *
  * Injects the optimizer rule AND registers the custom expressions as
  * SQL functions (`graft_polyhash`, `graft_dot`), so the pure-SQL
  * surface — the way the reference's users work — reaches the same
  * codegen'd kernels the DataFrame API uses, with identical semantics
  * to the DuckDB oracle fragments in graft.functions.Text.
  */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** A new session with these extensions on the running SparkContext.
    * The caller's active and default sessions are restored before it
    * returns, so only code handed the extended session ever uses it.
    */
  def session(): SparkSession = {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(apply).getOrCreate()
    finally {
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  /** The `graft_*` SQL functions: name, implementing class, parameter
    * names (the call must pass exactly these, in order) and the builder.
    */
  private val Functions: Seq[(String, Class[_], Seq[String], Seq[Expression] => Expression)] = {
    import graft.expressions._
    Seq(
      ("graft_polyhash", classOf[PolyHash], Seq("str"), a => PolyHash(a(0))),
      ("graft_dot", classOf[DotProduct], Seq("array", "array"),
        a => DotProduct(a(0), a(1))),
      ("graft_jaro_winkler", classOf[JaroWinklerSim], Seq("str", "str"),
        a => JaroWinklerSim(a(0), a(1))),
      ("graft_jaro_winkler_cp", classOf[JaroWinklerSimCp], Seq("str", "str"),
        a => JaroWinklerSimCp(a(0), a(1))),
      ("graft_bitmap_count", classOf[BitmapCount], Seq("blob"),
        a => BitmapCount(a(0))),
      ("graft_bitmap_and", classOf[BitmapAnd], Seq("blob", "blob"),
        a => BitmapAnd(a(0), a(1))),
      ("graft_nfc", classOf[NfcNormalize], Seq("str"), a => NfcNormalize(a(0))),
      ("graft_bitmap_agg", classOf[BitmapAgg], Seq("long"),
        a => BitmapAgg(a(0)).toAggregateExpression()),
      ("graft_group_topk", classOf[GroupTopK], Seq("value", "id", "k"), a => {
        val k = a(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"k must be an integer literal, got $other")
        }
        GroupTopK(a(0), a(1), k).toAggregateExpression()
      }),
      ("graft_bitmap_or_agg", classOf[BitmapOrAgg], Seq("blob"),
        a => BitmapOrAgg(a(0)).toAggregateExpression()))
  }

  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => OrNullJoinRewrite)
    e.injectOptimizerRule(_ => RangeBinJoinRewrite)
    Functions.foreach { case (name, cls, params, build) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.size == params.size, s"$name(${params.mkString(", ")})")
          build(args)
        }))
    }
  }
}

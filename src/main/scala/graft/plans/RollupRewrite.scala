package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Transparent rollup selection — ClickHouse PROJECTIONs / the
  * classic materialized-view aggregate rewrite, as a Catalyst rule.
  *
  * The reference leans on pre-aggregated tables the server picks
  * automatically (a CH PROJECTION rewrites a matching GROUP BY onto
  * the projection's smaller part files; api.ts's leaderboard reads
  * the rollup table instead of trades). graft's session MVs
  * (Views.cached, walletTokenFlows) give the same economics but the
  * QUERY has to name the rollup. This rule closes that gap: register
  * a (source, rollup) pair once, and ANY aggregate whose shape the
  * rollup can answer is rewritten onto it at analysis time — the
  * query keeps reading "the source".
  *
  * Soundness contract (the registrar's obligation, same as CH's):
  * `rollup` ≡ `source.groupBy(dims).agg(partials)` at query time —
  * graft's session MVs satisfy it by construction (built once per
  * (session, sfDir) from the same source plan).
  *
  * Matching is ANALYSIS-LEVEL (injected as a post-hoc resolution
  * rule, or driven directly): the query's child must equal the
  * registered source by canonicalized-plan equality — positionally
  * robust to exprId differences across separate constructions of the
  * same view — and then:
  *   - every grouping expression, translated onto the registered
  *     source's attributes via the positional exprId substitution,
  *     canonical-matches a registered dim EXPRESSION (a plain column
  *     or a derived key like `date_trunc('day', ts)` both work — dims
  *     are matched by expression identity, never by output name);
  *   - every aggregate is `sum(e)` where `e` (translated the same
  *     way) canonical-matches a registered partial expression →
  *     re-aggregates the partial column, result cast back to the
  *     original type (sum-of-sums widens decimals);
  *   - or `count(<non-null literal>)`/count(*) → `sum(rollup
  *     row-count col)` — with a global (ungrouped) count wrapped in
  *     `coalesce(·, 0)` so an empty source still yields 0, and a
  *     `count(NULL)` (which must return 0) never rewritten;
  *   - or `min(e)`/`max(e)` over a registered min/max partial.
  * Anything else — filters on the agg, DISTINCT, an expression the
  * rollup has no partial for — leaves the plan untouched: the rule
  * only ever substitutes a provably-equal computation.
  */
object RollupRewrite {

  /** One registered (source, rollup) pair. `dims` maps a RESOLVED
    * source-side grouping expression to the rollup column carrying its
    * value; `sums`/`mins`/`maxs` map a resolved source-side expression
    * to the rollup column holding its per-group partial; `countCol`
    * holds per-group row counts. */
  final case class Registration(source: LogicalPlan, rollup: LogicalPlan,
                                dims: Seq[(Expression, String)],
                                sums: Seq[(Expression, String)],
                                countCol: Option[String],
                                mins: Seq[(Expression, String)] = Nil,
                                maxs: Seq[(Expression, String)] = Nil)

  /** One session's registrations, and the marks of the registration
    * sets [[registerOnce]] has already run for it. */
  private final case class SessionRegs(regs: Vector[Registration],
                                       marks: Set[Any] = Set.empty)

  private val regs = new java.util.concurrent.ConcurrentHashMap[
    String, SessionRegs]()

  private def key(spark: SparkSession) = spark.sparkContext.applicationId

  private def eqPairs(a: Seq[(Expression, String)],
                      b: Seq[(Expression, String)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((ea, na), (eb, nb)) =>
      na == nb && ea.canonicalized == eb.canonicalized
    }

  /** Structural identity of two registrations — repeated registration
    * of the same (source, rollup, columns) is a no-op, so callers can
    * register idempotently per query construction without clear(). */
  private def sameReg(a: Registration, b: Registration): Boolean =
    a.source.canonicalized == b.source.canonicalized &&
      a.rollup.canonicalized == b.rollup.canonicalized &&
      a.countCol == b.countCol &&
      eqPairs(a.dims, b.dims) && eqPairs(a.sums, b.sums) &&
      eqPairs(a.mins, b.mins) && eqPairs(a.maxs, b.maxs)

  /** Register a rollup for this session's app. `dims` maps source
    * grouping expressions (plain columns or derived keys) to rollup
    * columns; `sums` maps source-side expressions (resolved against
    * `source` here) to the rollup's partial-sum columns; `countCol`
    * names the rollup's row-count column if it has one. Registering a
    * structurally identical pair twice is a no-op. */
  def register(spark: SparkSession, source: DataFrame, rollup: DataFrame,
               dims: Seq[(Column, String)], sums: Seq[(Column, String)],
               countCol: Option[String],
               mins: Seq[(Column, String)] = Nil,
               maxs: Seq[(Column, String)] = Nil): Unit = {
    val reg = mkRegistration(source, rollup, dims, sums, countCol, mins, maxs)
    regs.merge(key(spark), SessionRegs(Vector(reg)),
      (a, _) => if (a.regs.exists(sameReg(_, reg))) a
                else a.copy(regs = a.regs :+ reg))
    ()
  }

  /** Run `registerAll` once per session for `mark`: a later call with
    * an equal mark is a no-op until [[clear]] drops the session's
    * registrations and marks together. For registration sets that
    * query construction repeats, whose mkRegistration analyses cost
    * far more than the rewrite itself. */
  def registerOnce(spark: SparkSession, mark: Any)(registerAll: => Unit): Unit =
    if (!Option(regs.get(key(spark))).exists(_.marks(mark))) {
      registerAll
      regs.merge(key(spark), SessionRegs(Vector.empty, Set(mark)),
        (a, _) => a.copy(marks = a.marks + mark))
      ()
    }

  /** Register, REPLACING any prior registration of the same source and
    * column mapping whose ROLLUP plan differs — the stream-maintained
    * case (StreamingRollup): every committed micro-batch produces a
    * new snapshot plan for the same logical rollup, and the stale
    * snapshot must stop serving the moment the fresh one commits.
    * Registrations of OTHER sources/mappings are untouched. */
  def registerReplacing(spark: SparkSession, source: DataFrame,
                        rollup: DataFrame,
                        dims: Seq[(Column, String)],
                        sums: Seq[(Column, String)],
                        countCol: Option[String],
                        mins: Seq[(Column, String)] = Nil,
                        maxs: Seq[(Column, String)] = Nil): Unit = {
    val reg = mkRegistration(source, rollup, dims, sums, countCol, mins, maxs)
    regs.merge(key(spark), SessionRegs(Vector(reg)),
      (a, _) => a.copy(regs = a.regs.filterNot(sameMapping(_, reg)) :+ reg))
    ()
  }

  /** Same (source, dims, partials) mapping, rollup plan NOT compared —
    * the identity [[registerReplacing]] replaces on. */
  private def sameMapping(a: Registration, b: Registration): Boolean =
    a.source.canonicalized == b.source.canonicalized &&
      a.countCol == b.countCol &&
      eqPairs(a.dims, b.dims) && eqPairs(a.sums, b.sums) &&
      eqPairs(a.mins, b.mins) && eqPairs(a.maxs, b.maxs)

  private def mkRegistration(source: DataFrame, rollup: DataFrame,
                             dims: Seq[(Column, String)],
                             sums: Seq[(Column, String)],
                             countCol: Option[String],
                             mins: Seq[(Column, String)],
                             maxs: Seq[(Column, String)]): Registration = {
    val srcPlan = source.queryExecution.analyzed
    def resolve(cs: Seq[(Column, String)]) = cs.map { case (c, name) =>
      source.select(c).queryExecution.analyzed match {
        case Project(Seq(Alias(child, _)), _) => (child, name)
        case Project(Seq(e), _)               => (e: Expression, name)
        case other => sys.error(s"cannot resolve rollup partial: $other")
      }
    }
    val rollupPlan = rollup.queryExecution.analyzed
    // Grain validation (ADVICE r15): the exact-grain Project path is
    // sound only when the rollup is UNIQUE per registered dims. When
    // the rollup's own topmost Aggregate is visible in its plan, check
    // that the registered dims cover ALL of its grouping keys — a
    // subset registration (dims coarser than the rollup's true grain)
    // would make the exact-grain rewrite emit finer-grain duplicate
    // rows with no error. Plans with no visible Aggregate (a stored
    // table scan) keep the documented registrar's-obligation contract.
    rollupPlan.collectFirst { case a: Aggregate => a }.foreach { a =>
      val grain = a.groupingExpressions.length
      require(dims.length == grain,
        s"RollupRewrite.register: ${dims.length} registered dims but the " +
          s"rollup groups by $grain keys — a dims subset would make the " +
          "exact-grain rewrite return duplicate finer-grain rows")
    }
    Registration(srcPlan, rollupPlan,
      resolve(dims), resolve(sums), countCol, resolve(mins), resolve(maxs))
  }

  def clear(spark: SparkSession): Unit = { regs.remove(key(spark)); () }

  /** The rewrite rule; inject via GraftExtensions
    * (postHocResolutionRule) or apply directly to an analyzed plan. */
  class RewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val rs = Option(regs.get(key(spark))).fold(Vector.empty[Registration])(_.regs)
      if (rs.isEmpty) plan else go(plan, rs)
    }

    /** Top-down with two pruning rules (the r18 MV-partitioning find):
      *
      * 1. A subtree that IS a registered rollup's own plan is left
      *    intact — it's the MV's lineage, and CacheManager swaps it
      *    for the InMemoryRelation wholesale. The old transformUp
      *    rewrote the rollup's own builder-Aggregate wherever the MV
      *    frame was referenced (an identity rewrite): harmless while
      *    the MV plan ended at that Aggregate, but the moment the MV
      *    carries a layout wrapper (Views.cached partitionBy →
      *    Repartition on top) the identity rewrite nested a second
      *    wrapper, broke canonical equality for every ENCLOSING
      *    registration match, and un-matched the plan cache.
      * 2. A fired rewrite substitutes the registered rollup plan and
      *    stops — descending into the substitution would re-trigger
      *    rule 1's failure mode one level down. */
    private def go(p: LogicalPlan, rs: Vector[Registration]): LogicalPlan =
      if (rs.exists(_.rollup.canonicalized == p.canonicalized)) p
      else p match {
        case agg: Aggregate =>
          rs.iterator
            .filter(r => agg.child.canonicalized == r.source.canonicalized)
            .flatMap(r => tryRewrite(agg, agg.child, r))
            .nextOption()
            .getOrElse(agg.mapChildren(go(_, rs)))
        case other => other.mapChildren(go(_, rs))
      }
  }

  private def tryRewrite(agg: Aggregate, child: LogicalPlan,
                         r: Registration): Option[LogicalPlan] = {
    val rollupAttr: Map[String, Attribute] =
      r.rollup.output.map(a => a.name -> a).toMap
    if (!(r.dims ++ r.sums ++ r.mins ++ r.maxs)
          .forall(s => rollupAttr.contains(s._2)) ||
        !r.countCol.forall(rollupAttr.contains)) return None
    // translate query-side attributes onto the registered source's
    // (canonical plan equality ⇒ outputs correspond positionally)
    if (child.output.length != r.source.output.length) return None
    val sub: Map[ExprId, Attribute] =
      child.output.zip(r.source.output).map { case (q, s) => q.exprId -> s }.toMap
    def toReg(e: Expression): Expression = e.transform {
      case a: AttributeReference => sub.getOrElse(a.exprId, a)
    }
    // dim lookup by EXPRESSION identity (ADVICE r14: name-keyed
    // translation could mis-map when output names diverge or collide;
    // expression matching also admits derived grouping keys)
    def dimFor(e: Expression): Option[Attribute] = {
      val t = toReg(e).canonicalized
      r.dims.collectFirst {
        case (regE, rcol) if regE.canonicalized == t => rollupAttr(rcol)
      }
    }

    val newGroupings: Option[Seq[Expression]] =
      traverse(agg.groupingExpressions.map(g => dimFor(g)))

    // EXACT-GRAIN detection: when the query groups by EVERY registered
    // dim, each rollup row already IS one query group (the rollup is
    // unique per dims by the registration contract), so the rewrite
    // needs no re-aggregation at all — sum(e) is the partial column,
    // count(*) is the row-count column, min/max are their partials. A
    // CH PROJECTION hit at matching grain reads the projection parts
    // the same way. The Project also preserves the rollup MV's
    // partitioning and sort order for downstream operators, which an
    // Aggregate would destroy.
    val exactGrain = r.dims.nonEmpty && newGroupings.exists(gs =>
      gs.collect { case a: Attribute => a.exprId }.toSet.size == r.dims.size)

    def partialFor(fn: AggregateFunction): Option[Expression] = {
      def direct(pairs: Seq[(Expression, String)], e: Expression) =
        pairs.collectFirst {
          case (regE, partial)
              if toReg(e).canonicalized == regE.canonicalized =>
            val a = rollupAttr(partial)
            if (a.dataType == fn.dataType) a else Cast(a, fn.dataType)
        }
      fn match {
        case Sum(e, _) => direct(r.sums, e)
        case Count(children)
            if children.forall(c => c.foldable && c.eval() != null) =>
          r.countCol.map { c =>
            val a = rollupAttr(c)
            if (a.dataType == fn.dataType) a else Cast(a, fn.dataType)
          }
        case Min(e) => direct(r.mins, e)
        case Max(e) => direct(r.maxs, e)
        case _ => None
      }
    }

    def rewriteAggFn(fn: AggregateFunction): Option[Expression] = fn match {
      case Sum(e, mode) =>
        r.sums.collectFirst {
          case (regE, partial)
              if toReg(e).canonicalized == regE.canonicalized =>
            val again = Sum(rollupAttr(partial), mode).toAggregateExpression()
            if (again.dataType == fn.dataType) again
            else Cast(again, fn.dataType)
        }
      // count(*) / count(<provably non-null literal>) = the row count.
      // count(NULL) must stay 0 and is NOT the row count — the
      // eval()!=null guard keeps it unrewritten (ADVICE r14). A
      // GLOBAL count over an empty source returns 0 where sum(n) over
      // the (empty) rollup returns NULL, so the ungrouped form wraps
      // in coalesce(·, 0) (ADVICE r14).
      case Count(children)
          if children.forall(c => c.foldable && c.eval() != null) =>
        r.countCol.map { c =>
          val s: Expression = Sum(rollupAttr(c)).toAggregateExpression()
          val grouped =
            if (agg.groupingExpressions.nonEmpty) s
            else Coalesce(Seq(s, Literal(0L)))
          if (grouped.dataType == fn.dataType) grouped
          else Cast(grouped, fn.dataType)
        }
      // min-of-mins / max-of-maxs re-aggregate losslessly and never
      // widen, so no cast is needed
      case Min(e) =>
        r.mins.collectFirst {
          case (regE, partial)
              if toReg(e).canonicalized == regE.canonicalized =>
            Min(rollupAttr(partial)).toAggregateExpression()
        }
      case Max(e) =>
        r.maxs.collectFirst {
          case (regE, partial)
              if toReg(e).canonicalized == regE.canonicalized =>
            Max(rollupAttr(partial)).toAggregateExpression()
        }
      case _ => None
    }

    def outputList(aggFn: AggregateFunction => Option[Expression])
        : Option[Seq[NamedExpression]] =
      traverse(agg.aggregateExpressions.map {
        case a: AttributeReference =>
          dimFor(a).map(ra => Alias(ra, a.name)(exprId = a.exprId))
        case al @ Alias(ae: AggregateExpression, name)
            if ae.filter.isEmpty && !ae.isDistinct =>
          aggFn(ae.aggregateFunction)
            .map(e => Alias(e, name)(exprId = al.exprId))
        // a grouping expression (plain column OR derived key like
        // date_trunc) projected under an alias
        case al @ Alias(e, name) if !e.exists(
            _.isInstanceOf[AggregateExpression]) =>
          dimFor(e).map(ra => Alias(ra, name)(exprId = al.exprId))
        case _ => None
      })

    if (exactGrain) {
      // prefer the aggregation-free form; fall back to the re-agg form
      // if some aggregate has a partial only the re-agg can express
      outputList(partialFor).map(Project(_, r.rollup))
        .orElse(for (gs <- newGroupings; as <- outputList(rewriteAggFn))
          yield Aggregate(gs, as, r.rollup))
    } else
      for (gs <- newGroupings; as <- outputList(rewriteAggFn))
        yield Aggregate(gs, as, r.rollup)
  }

  private def traverse[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

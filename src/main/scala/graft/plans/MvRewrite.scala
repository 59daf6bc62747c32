package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/** A registered rollup MATERIALIZED VIEW: a parquet table holding, per
  * `groupCols` grain of the fact at `factPath`, re-aggregable partial
  * state — `SUM` columns, a `COUNT(*)` column, and optional `MIN`/`MAX`
  * columns. Because sum/count/min/max are all associative, ANY aggregate
  * over a grouping SUBSET of the grain (including the empty/global
  * grouping) can be answered by RE-aggregating the MV instead of the
  * fact — the classic rollup-MV rewrite (Gupta & Mumick, "Maintenance of
  * Materialized Views", and every warehouse engine since).
  *
  * CONTRACT: the registrant guarantees each MV column really is the
  * declared aggregate of the fact at registration time — `sums(k)` holds
  * `SUM(expr)` where queries write `sum(expr)` with `expr` an attribute
  * `k` or a cast of it (the engine's exact-decimal discipline means the
  * cast is part of the column's one canonical aggregation form). The
  * rewrite preserves result TYPES by casting each re-aggregation back to
  * the original aggregate's dataType (one decimal-widening round-trip —
  * exact for the engine's DECIMAL(38,·) headroom discipline).
  */
/** A KEY-PRESERVING dimension of a registered fact (the star-schema
  * rewrite's contract, declared by the registrant like the `sums`
  * contract): the fact's `factKey` column — which MUST be part of the
  * MV grain — joins the dimension at `dimPath` on its UNIQUE key
  * `dimKey`, and every fact row has exactly ONE match (FK with
  * referential integrity). Under that contract an inner fact⋈dim join
  * neither duplicates nor drops fact rows, so any aggregate over the
  * join folds onto the MV joined to the SAME dimension: a dim predicate
  * selects whole factKey-groups, and factKey ∈ grain means those groups
  * are whole MV rows. */
case class MvDim(dimPath: String, factKey: String, dimKey: String)

case class MvDef(
    name: String,
    factPath: String,
    mvPath: String,
    groupCols: Seq[String],
    sums: Map[String, String],
    countCol: Option[String],
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    dims: Seq[MvDim] = Seq.empty)

/** Driver-side registry of MV definitions + a cache of their analyzed
  * scan plans (one file-listing per MV, not per query). Registration is
  * idempotent — queries re-register on every invocation.
  *
  * A cached plan's `HadoopFsRelation` holds the session that analyzed
  * it, so each entry is scoped to that session's SparkContext: any
  * session on the same context (`newSession()`) reuses it, and the first
  * scan after a context restart re-analyzes instead of planning against
  * the stopped context. */
object MvRegistry {
  private val views = new ConcurrentHashMap[String, MvDef]()
  private val plans = new ConcurrentHashMap[String, (SparkContext, LogicalPlan)]()

  def register(d: MvDef): Unit = {
    val prev = views.put(d.name, d)
    if (prev != null && prev != d) plans.remove(prev.mvPath)
  }
  def clear(): Unit = { views.clear(); plans.clear() }
  def all: Seq[MvDef] = {
    val b = Seq.newBuilder[MvDef]
    views.values().forEach(v => b += v)
    b.result()
  }

  /** Fresh-ExprId scan of the MV parquet (analyzed once per path, then
    * `newInstance()`d per use so two rewrites never share attribute ids). */
  def scan(spark: SparkSession, mvPath: String): Option[LogicalRelation] = {
    val sc = spark.sparkContext
    val (_, cached) = plans.compute(mvPath, (p, old) =>
      if (old != null && (old._1 eq sc)) old
      else (sc, spark.read.parquet(p).queryExecution.analyzed))
    cached match {
      case lr: LogicalRelation => Some(lr.newInstance())
      case _ => None
    }
  }
}

/** Optimizer rewrite: `Aggregate` over a (filtered, projected) scan of a
  * registered fact table re-plans as a RE-aggregation of the fact's
  * rollup MV — the query reads `|MV|` rows instead of `|fact|` rows.
  * At 100 TB this is the difference between a dashboard query scanning
  * the corpus and scanning a few thousand pre-aggregated rows; the MV is
  * maintained incrementally (see `mv_refresh_incremental_stored`), so
  * the fact is scanned once per ingest batch, not once per query.
  *
  * Fires only when the whole query provably folds onto the MV grain:
  *  - the aggregate's child is the registered fact scan, under
  *    attribute-only `Project`s and `Filter`s whose predicates reference
  *    GRAIN columns only (a grain predicate selects whole MV groups, so
  *    it transplants onto the MV unchanged);
  *  - every grouping expression is a bare grain attribute (any SUBSET of
  *    the grain, empty = global rollup);
  *  - every aggregate call is non-DISTINCT, un-FILTERed, and one of:
  *    `sum(col)` / `sum(cast(col))` over a registered sum column
  *    (rewrites to `sum(mv.sum_col)`), `count(<literal>)` i.e. count(*)
  *    (rewrites to `coalesce(sum(mv.cnt), 0)` — the coalesce preserves
  *    COUNT's 0-on-empty while SUM yields null), `min(col)` / `max(col)`
  *    over registered min/max columns (min of per-group minima);
  *    expression trees AROUND the aggregates (casts, arithmetic) carry
  *    over verbatim.
  * Anything else — an unregistered column, count(col), avg, a distinct,
  *  a non-grain residual predicate — leaves the plan untouched: the
  * rewrite is an optimization, never a semantics gamble. Output
  * attribute ExprIds (and dataTypes, via the cast-back) are preserved,
  * so parent operators re-resolve unchanged.
  */
/** Folds aggregate calls / grain attributes of a query over the fact
  * onto the MV's stored state columns — the expression-level half of the
  * rewrite, shared by the direct and star-schema plan shapes. Returns
  * None wherever the fold is not provably exact. */
private class StateRewriter(d: MvDef, grainIds: Map[ExprId, String],
    grainMv: Map[String, AttributeReference],
    mvAttr: String => Option[AttributeReference]) {

  private def sumOf(a: Expression): AggregateExpression =
    Sum(a).toAggregateExpression()

  private def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    def srcName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case c: Cast => c.child match {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    ae.aggregateFunction match {
      case s: Sum =>
        srcName(s.child).flatMap(d.sums.get).flatMap(mvAttr)
          .map(a => Cast(sumOf(a), ae.dataType))
      case c: Count if c.children.forall {
          case Literal(v, _) => v != null
          case _ => false
        } =>
        d.countCol.flatMap(mvAttr).map(a =>
          Coalesce(Seq(Cast(sumOf(a), LongType), Literal(0L))))
      case m: Min =>
        srcName(m.child).flatMap(d.mins.get).flatMap(mvAttr)
          .map(a => Cast(Min(a).toAggregateExpression(), ae.dataType))
      case m: Max =>
        srcName(m.child).flatMap(d.maxs.get).flatMap(mvAttr)
          .map(a => Cast(Max(a).toAggregateExpression(), ae.dataType))
      case _ => None
    }
  }

  /** Rewrite an expression tree: aggregate calls fold onto MV state,
    * grain attrs map to MV attrs, literals/casts/arithmetic carry over;
    * any OTHER attribute (non-grain fact column, dim column) blocks. */
  def rw(e: Expression): Option[Expression] = e match {
    case ae: AggregateExpression => rewriteAgg(ae)
    case a: AttributeReference =>
      grainIds.get(a.exprId).flatMap(grainMv.get)
    case leaf if leaf.children.isEmpty => Some(leaf)
    case other =>
      val kids = other.children.map(rw)
      if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
      else None
  }
}

object MvRewrite extends Rule[LogicalPlan] {
  val EnabledConf = "spark.graft.mv.rewrite.enabled"

  private def enabled: Boolean =
    SQLConf.get.getConfString(EnabledConf, "true").toBoolean

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Peel attribute-only Projects and collect Filters down to the scan. */
  private def strip(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      strip(c, conds)
    case Filter(cond, c) => strip(c, conds :+ cond)
    case lr: LogicalRelation => Some((lr, conds))
    case _ => None
  }

  private def scanPaths(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(p => normalize(p.toString))
    case _ => Seq.empty
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled || MvRegistry.all.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(_, _, child, _) =>
        strip(child, Nil).flatMap { case (lr, conds) =>
          val paths = scanPaths(lr)
          // Several MVs may share a fact (different grains) — take the
          // first whose state set covers this query, not the first match.
          MvRegistry.all.filter(d => paths.contains(normalize(d.factPath)))
            .view.flatMap(d => rewrite(agg, lr, conds, d)).headOption
        }.orElse(starRewrite(agg, child)).getOrElse(agg)
    }
  }

  /** One peeled dim-join level of a star query, innermost (closest to
    * the fact) first: the dim SUBPLAN (transplanted verbatim), the raw
    * join condition, and the filters sitting immediately ABOVE this
    * join (below the next one out). */
  private case class DimLevel(dimSide: LogicalPlan, cond: Expression,
      above: Seq[Expression])

  /** THE STAR-SCHEMA SHAPE (round 10; generalized to dim CHAINS in
    * round 11, VERDICT r10 task #5): `Aggregate` over
    * `fact ⋈ dim₁ ⋈ … ⋈ dimₖ` where EVERY join is a REGISTERED
    * key-preserving dim join ([[MvDim]]) re-plans as the same aggregate
    * over `MV ⋈ dim₁ ⋈ … ⋈ dimₖ` — the dominant BI query (date +
    * customer + product dims around one fact) reads |MV| rows plus
    * broadcast-sized dimensions instead of the fact. Soundness is
    * per-level and compositional: each MvDim contract (factKey ∈ grain;
    * dimKey unique; referential integrity) makes ITS join neither
    * duplicate nor drop fact rows, so the chain preserves the fact's
    * row multiset and every dim predicate selects whole MV rows.
    * Eligibility, checked at EVERY level — one ineligible join blocks
    * the whole rewrite (never a partial gamble):
    *  - each join is INNER with a bare `factKey = dimKey` equality on
    *    a declared (factKey, dimKey) pair (either orientation), the
    *    dim side stripping to a scan of that MvDim's registered path;
    *  - groupings are bare FACT grain attributes only — grouping by a
    *    dim column is conservatively blocked (MvRewriteSpec pins it);
    *  - filters above join i may reference fact GRAIN columns and/or
    *    columns of dims joined at levels ≤ i (all select whole MV rows
    *    at that point in the plan); fact-side filters below every join
    *    must be grain-only as always;
    *  - aggregate calls fold onto MV state exactly as in the direct
    *    rewrite; any dim column inside the aggregate list blocks. */
  private def starRewrite(agg: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
    val defs = MvRegistry.all.filter(_.dims.nonEmpty)
    if (defs.isEmpty) return None
    defs.view.flatMap { d =>
      val factPath = normalize(d.factPath)
      // Peel Projects/Filters/Joins down to the registered fact scan;
      // `pending` = filters collected above the current node. Levels
      // come back innermost-first.
      def peel(p: LogicalPlan, pending: Seq[Expression])
          : Option[(LogicalRelation, Seq[Expression], List[DimLevel])] = p match {
        case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
          peel(c, pending)
        case Filter(cond, c) => peel(c, pending :+ cond)
        case Join(l, r, Inner, Some(cond), _) =>
          def orient(factSide: LogicalPlan, dimSide: LogicalPlan) =
            peel(factSide, Nil).map { case (lr, fc, inner) =>
              (lr, fc, inner :+ DimLevel(dimSide, cond, pending))
            }
          orient(l, r).orElse(orient(r, l))
        case lr: LogicalRelation if scanPaths(lr).contains(factPath) =>
          Some((lr, pending, Nil))
        case _ => None
      }
      peel(child, Nil).filter(_._3.nonEmpty).flatMap {
        case (factLr, factConds, levels) =>
          rewriteStar(agg, factLr, factConds, levels, d)
      }
    }.headOption
  }

  private def rewriteStar(agg: Aggregate, fact: LogicalRelation,
      factConds: Seq[Expression], levels: List[DimLevel],
      d: MvDef): Option[LogicalPlan] = {
    val grainIds: Map[ExprId, String] = fact.output
      .filter(a => d.groupCols.contains(a.name)).map(a => a.exprId -> a.name).toMap
    // Validate every level: the dim side is a (filtered, projected) scan
    // of a registered MvDim's path whose factKey sits in the MV grain,
    // and the join condition is the DECLARED key equality on bare
    // attributes (a cast or expression around either side could merge
    // key groups — not the registered contract).
    val resolved: Seq[Option[(MvDim, AttributeReference)]] = levels.map { lvl =>
      strip(lvl.dimSide, Nil).flatMap { case (dimLr, _) =>
        val dPaths = scanPaths(dimLr)
        d.dims.find(dm => dPaths.contains(normalize(dm.dimPath)) &&
            d.groupCols.contains(dm.factKey))
          .flatMap { dm =>
            val dimKeyAttr: Option[AttributeReference] = lvl.cond match {
              case EqualTo(a: AttributeReference, b: AttributeReference) =>
                val factKeyOk = (x: AttributeReference) =>
                  grainIds.get(x.exprId).contains(dm.factKey)
                val dimKeyOk = (x: AttributeReference) =>
                  x.name == dm.dimKey && lvl.dimSide.outputSet.contains(x)
                if (factKeyOk(a) && dimKeyOk(b)) Some(b)
                else if (factKeyOk(b) && dimKeyOk(a)) Some(a)
                else None
              case _ => None
            }
            dimKeyAttr.map(dm -> _)
          }
      }
    }
    if (resolved.exists(_.isEmpty)) return None
    // Groupings: bare fact grain attributes only.
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference => grainIds.get(a.exprId)
      case _ => None
    }
    if (groupNames.exists(_.isEmpty)) return None
    // Below-join fact filters: grain-only. Filters above join i: grain
    // and/or columns of dims joined at levels <= i.
    if (!factConds.forall(_.references.forall(a => grainIds.contains(a.exprId))))
      return None
    val cumDimOut = levels.scanLeft(AttributeSet.empty) {
      (acc, lvl) => acc ++ lvl.dimSide.outputSet
    }.tail
    val aboveOk = levels.zip(cumDimOut).forall { case (lvl, dimsBelow) =>
      lvl.above.forall(_.references.forall(a =>
        grainIds.contains(a.exprId) || dimsBelow.contains(a)))
    }
    if (!aboveOk) return None

    val spark = SparkSession.active
    val mv = MvRegistry.scan(spark, d.mvPath).getOrElse(return None)
    def mvAttr(name: String): Option[AttributeReference] =
      mv.output.collectFirst { case a if a.name == name => a }
    val grainMv: Map[String, AttributeReference] =
      d.groupCols.flatMap(g => mvAttr(g).map(g -> _)).toMap
    if (grainMv.size != d.groupCols.size) return None

    val rewriter = new StateRewriter(d, grainIds, grainMv, mvAttr)
    val newAggExprs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        grainIds.get(a.exprId).flatMap(grainMv.get)
          .map(m => Alias(m, a.name)(exprId = a.exprId))
      case al @ Alias(c, name) =>
        rewriter.rw(c).map(nc => Alias(nc, name)(exprId = al.exprId))
      case _ => None
    }
    if (newAggExprs.exists(_.isEmpty)) return None
    val newGroupings = groupNames.flatten.map(grainMv)
    def mapFact(e: Expression): Expression = e.transform {
      case a: AttributeReference if grainIds.contains(a.exprId) =>
        grainMv(grainIds(a.exprId))
    }
    // Rebuild innermost-out: MV (with fact filters) joined through the
    // chain, each level's above-filters re-applied at its place.
    val mvFiltered: LogicalPlan =
      if (factConds.isEmpty) mv else Filter(mapFact(factConds.reduce(And)), mv)
    val rebuilt = levels.zip(resolved.map(_.get)).foldLeft(mvFiltered) {
      case (acc, (lvl, (dm, dimKeyAttr))) =>
        val joined: LogicalPlan = Join(acc, lvl.dimSide, Inner,
          Some(EqualTo(grainMv(dm.factKey), dimKeyAttr)), JoinHint.NONE)
        if (lvl.above.isEmpty) joined
        else Filter(mapFact(lvl.above.reduce(And)), joined)
    }
    Some(Aggregate(newGroupings, newAggExprs.map(_.get), rebuilt))
  }

  private def rewrite(agg: Aggregate, fact: LogicalRelation,
      conds: Seq[Expression], d: MvDef): Option[LogicalPlan] = {
    // Grain attrs of the FACT scan, by name (engine tables are lower-case).
    val grainIds: Map[ExprId, String] = fact.output
      .filter(a => d.groupCols.contains(a.name)).map(a => a.exprId -> a.name).toMap
    // All groupings must be bare grain attributes.
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference => grainIds.get(a.exprId)
      case _ => None
    }
    if (groupNames.exists(_.isEmpty)) return None
    // Filters may touch grain columns only.
    val condsOk = conds.forall(_.references.forall(a => grainIds.contains(a.exprId)))
    if (!condsOk) return None

    val spark = SparkSession.active
    val mv = MvRegistry.scan(spark, d.mvPath).getOrElse(return None)
    def mvAttr(name: String): Option[AttributeReference] =
      mv.output.collectFirst { case a if a.name == name => a }
    // Every grain / state column the rewrite may reference must exist in
    // the MV schema — else someone registered a stale artifact; bail out.
    val grainMv: Map[String, AttributeReference] =
      d.groupCols.flatMap(g => mvAttr(g).map(g -> _)).toMap
    if (grainMv.size != d.groupCols.size) return None

    val rewriter = new StateRewriter(d, grainIds, grainMv, mvAttr)
    val newAggExprs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        grainIds.get(a.exprId).flatMap(grainMv.get)
          .map(m => Alias(m, a.name)(exprId = a.exprId))
      case al @ Alias(c, name) =>
        rewriter.rw(c).map(nc => Alias(nc, name)(exprId = al.exprId))
      case _ => None
    }
    if (newAggExprs.exists(_.isEmpty)) return None
    val newGroupings = groupNames.flatten.map(grainMv)
    val newChild: LogicalPlan =
      if (conds.isEmpty) mv
      else Filter(conds.reduce(And).transform {
        case a: AttributeReference => grainMv(grainIds(a.exprId))
      }, mv)
    Some(Aggregate(newGroupings, newAggExprs.map(_.get), newChild))
  }
}

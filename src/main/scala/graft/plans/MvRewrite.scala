package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count, hll_sketch_agg, lit, max, min, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Materialized-aggregate registry + transparent query rewrite.
  *
  * At 100 TB the single biggest lever is not reading the data at all:
  * a dashboard aggregate over a registered summary table should scan
  * the summary (thousands of rows), not the lake. [[MaterializedViews]]
  * holds the registered summaries; [[MvRewrite]] is the Catalyst
  * optimizer rule that spots a logical `Aggregate` over a registered
  * base path and rewrites it onto the summary, re-aggregating the
  * stored partials:
  *
  *  - `SUM(c)`    → `SUM(mv_sum_c)`        (sum of partial sums)
  *  - `COUNT(*)`  → `SUM(mv_count_star)`
  *  - `COUNT(c)`  → `SUM(mv_count_c)`      (per-column non-null count)
  *  - `MIN(c)`    → `MIN(mv_min_c)`, `MAX(c)` → `MAX(mv_max_c)`
  *  - `AVG(c)`    → `SUM(mv_sum_c) / SUM(mv_count_c)` (derived)
  *
  * Rewrites fire for GROUP BY on any subset of the view's group
  * columns (subset rollup: finer-grained partials re-aggregate to any
  * coarser grouping), with arbitrary scalar expressions over group
  * columns and over the aggregates, and with filters that reference
  * only group columns (pushed onto the summary scan). Anything else —
  * a filter on a non-group column, a DISTINCT aggregate, an
  * unsupported aggregate function, a missing partial column — leaves
  * the plan untouched, so the rule is always safe to have enabled.
  *
  * Freshness is the registrant's contract, exactly as in Spark's own
  * cache or a database MV: register after (re)materializing. The
  * summary composes with the incremental machinery in
  * [[graft.ops.MergeData.feedDeltas]] — advance the summary from a
  * change feed, re-register, and the rewrite serves the new state
  * without a base rescan (oracled end-to-end by q148).
  *
  * Output schema fidelity: the rewritten `Aggregate` preserves every
  * output attribute's name and exprId (grouping passthroughs are
  * re-aliased under their original exprIds), so parent operators are
  * untouched. The rule cannot re-fire on its own output (the summary
  * path is not a registered base).
  *
  * Decimal sums are NOT rewritten: Spark widens `SUM(DECIMAL(p,s))` to
  * `DECIMAL(p+10,s)`, so re-aggregating a stored partial would widen
  * twice and change the output type.
  */
object MaterializedViews {

  /** A registered summary: `mvPath` holds `basePath`'s rows grouped by
    * `groupCols` with partial-aggregate columns for `sums` / `counts` /
    * `mins` / `maxs` (+ a row count when `countStar`). */
  final case class MvDef(
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[String] = Nil,
      counts: Seq[String] = Nil,
      countStar: Boolean = true,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      hlls: Seq[String] = Nil,
      hllLgK: Int = 12)

  def sumCol(c: String): String = s"mv_sum_$c"
  def countCol(c: String): String = s"mv_count_$c"
  val countStarCol: String = "mv_count_star"
  def minCol(c: String): String = s"mv_min_$c"
  def maxCol(c: String): String = s"mv_max_$c"
  def hllCol(c: String): String = s"mv_hll_$c"

  /** Normalized (scheme-free, absolute) path — the registry key and
    * the form a `HadoopFsRelation`'s root path reduces to. */
  def norm(p: String): String =
    Path.getPathWithoutSchemeAndAuthority(
      new Path(new java.io.File(p).getAbsolutePath)).toString

  /** Several summaries may serve one base (e.g. a fine-grained
    * (user, type) rollup AND a coarse daily one); registration order
    * is preference order and the first that can serve a query wins. */
  private val registry = new TrieMap[String, Seq[MvDef]]

  def register(d: MvDef): Unit =
    registry.updateWith(norm(d.basePath)) {
      case Some(ds) => Some(ds.filterNot(_.name == d.name) :+ d)
      case None => Some(Seq(d))
    }
  def deregister(basePath: String): Unit = registry.remove(norm(basePath))
  def clear(): Unit = registry.clear()
  def isEmpty: Boolean = registry.isEmpty
  def forBase(normedPath: String): Seq[MvDef] =
    registry.getOrElse(normedPath, Nil)

  private object AqeTree extends AdaptiveSparkPlanHelper

  /** Does `d`'s executed plan hold a file scan rooted at `path` or below
    * it? Reads the scans' root paths off the plan tree (inside adaptive
    * plans too), never `executedPlan.toString`, which Spark cuts off at
    * `spark.sql.maxMetadataStringLength` characters. */
  def scans(d: DataFrame, path: String): Boolean = {
    val p = norm(path)
    AqeTree.collect(d.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths
    }.flatten.map(r => Path.getPathWithoutSchemeAndAuthority(r).toString)
      .exists(r => r == p || r.startsWith(p + "/"))
  }

  /** Build (or rebuild) the summary table: one full-scan aggregate of
    * the base — the last time the base needs to be read for any query
    * the rewrite can serve.
    *
    * The build itself must NEVER be served by the rewrite: if the base
    * is already registered (a rebuild, or a fixture replay in the same
    * JVM), the defining aggregate would read the PREVIOUS summary —
    * stale or deleted — instead of the base. The registration is
    * suspended for the duration of the build. */
  def materialize(spark: SparkSession, d: MvDef): Unit = {
    val prev = forBase(norm(d.basePath))
    deregister(d.basePath)
    try {
      val base = spark.read.parquet(d.basePath)
      val aggs =
        d.sums.map(c => sum(col(c)).as(sumCol(c))) ++
          d.counts.map(c => count(col(c)).as(countCol(c))) ++
          (if (d.countStar) Seq(count(lit(1)).as(countStarCol)) else Nil) ++
          d.mins.map(c => min(col(c)).as(minCol(c))) ++
          d.maxs.map(c => max(col(c)).as(maxCol(c))) ++
          // DataSketches HLL partials: register-wise union of sketches
          // is EXACTLY the sketch of the unioned items, so approx-
          // distinct rollups re-aggregate losslessly (unlike the
          // non-mergeable HyperLogLogPlusPlus behind
          // approx_count_distinct, which is deliberately not stored)
          d.hlls.map(c => hll_sketch_agg(col(c), d.hllLgK).as(hllCol(c)))
      base.groupBy(d.groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(d.mvPath)
    } finally prev.foreach(register)
  }

  /** Advance a summary's SUM/COUNT(*) partials from
    * [[graft.ops.MergeData.feedDeltas]] deltas (`delta_sum`,
    * `delta_count` per group) — incremental view maintenance without a
    * base rescan. Groups whose row count reaches zero are dropped;
    * groups new in the deltas appear. MIN/MAX partials are not
    * delta-maintainable (a delete can expose a new extremum) and must
    * not be declared on a delta-maintained view. */
  def appliedDeltas(mv: DataFrame, deltas: DataFrame, d: MvDef,
      sumOf: String): DataFrame = {
    require(d.mins.isEmpty && d.maxs.isEmpty,
      "min/max partials cannot be maintained from deltas")
    val sc = sumCol(sumOf)
    val joined = mv.join(deltas, d.groupCols, "full_outer")
    val outCols = d.groupCols.map(col) ++ Seq(
      (coalesce(col(sc), lit(0L)) + coalesce(col("delta_sum"), lit(0L))).as(sc),
      (coalesce(col(countStarCol), lit(0L)) +
        coalesce(col("delta_count"), lit(0L))).as(countStarCol))
    joined.select(outCols: _*).filter(col(countStarCol) > 0)
  }
}

/** The rewrite rule. Register per-session via
  * `GraftExtensions.register(spark)` (appends to
  * `spark.experimental.extraOptimizations`, idempotent) or at session
  * build via `spark.sql.extensions=graft.GraftExtensions`. A no-op
  * while the [[MaterializedViews]] registry is empty.
  */
case class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import MaterializedViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedViews.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Peel Projects / Filters / subquery aliases off the aggregate's
    * child down to a file-source relation, collecting filter conditions
    * and the alias bindings Projects introduce (Catalyst extracts
    * complex grouping expressions into `expr AS _groupingexpression#N`
    * Projects; computed columns added via withColumn land here too).
    * Substituting the bindings back (see `desugar`) re-expresses every
    * collected expression over relation attributes. */
  private def strip(p: LogicalPlan, conds: List[Expression] = Nil,
      subst: Map[ExprId, Expression] = Map.empty)
      : Option[(LogicalRelation, Seq[Expression], Map[ExprId, Expression])] =
    p match {
      case Filter(cond, c) => strip(c, cond :: conds, subst)
      case Project(list, c)
          if list.forall(e =>
            e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        val add = list.collect { case al: Alias => al.exprId -> al.child }
        strip(c, conds, subst ++ add)
      case SubqueryAlias(_, c) => strip(c, conds, subst)
      case lr: LogicalRelation => Some((lr, conds, subst))
      case _ => None
    }

  /** Attribute references appearing OUTSIDE any aggregate expression —
    * the set that must stay within the view's group columns. */
  private def outsideAggRefs(e: Expression): Seq[AttributeReference] = e match {
    case _: AggregateExpression => Nil
    case a: AttributeReference => Seq(a)
    case other => other.children.flatMap(outsideAggRefs)
  }

  private def mvRelation(d: MvDef): Option[LogicalRelation] =
    spark.read.parquet(d.mvPath).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr.newInstance() }

  private def tryRewrite(agg: Aggregate): Option[Aggregate] = {
    val (lr, rawConds, subst) = strip(agg.child).getOrElse(return None)

    // substitute stacked Project aliases until everything is expressed
    // over relation attributes (nesting depth bounds the iteration)
    def desugar(e: Expression): Expression = {
      var cur = e
      var rounds = 0
      var changed = true
      while (changed && rounds < 10) {
        val next = cur.transformUp {
          case a: AttributeReference if subst.contains(a.exprId) =>
            subst(a.exprId)
        }
        changed = !next.fastEquals(cur)
        cur = next
        rounds += 1
      }
      cur
    }
    val conds = rawConds.map(desugar)
    val groupingExprs = agg.groupingExpressions.map(desugar)
    val resultExprs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      desugar(ne) match {
        case n: NamedExpression => n
        case e => Alias(e, ne.name)(exprId = ne.exprId)
      }
    }
    val fsRel = lr.relation match {
      case r: HadoopFsRelation => r
      case _ => return None
    }
    val roots = fsRel.location.rootPaths
    if (roots.length != 1) return None
    val candidates = forBase(
      Path.getPathWithoutSchemeAndAuthority(roots.head).toString)
    if (candidates.isEmpty) return None

    def attempt(d: MvDef): Option[Aggregate] = {
    val groupSet = d.groupCols.toSet
    def inGroup(as: Seq[AttributeReference]) = as.forall(a => groupSet(a.name))
    if (!conds.forall(c => inGroup(outsideAggRefs(c)))) return None
    if (!groupingExprs.forall(g => inGroup(outsideAggRefs(g)))) return None
    if (!resultExprs.forall(r => inGroup(outsideAggRefs(r)))) return None

    val mvRel = mvRelation(d).getOrElse(return None)
    val byName = mvRel.output.map(a => a.name -> a).toMap
    if (!d.groupCols.forall(byName.contains)) return None

    // remap relation attrs to the summary's by name; None if any name
    // has no counterpart (shouldn't happen once the checks above pass)
    def remap(e: Expression): Option[Expression] = {
      var good = true
      val out = e.transform {
        case a: AttributeReference =>
          byName.get(a.name) match {
            case Some(m) => m
            case None => good = false; a
          }
      }
      if (good) Some(out) else None
    }

    // rewrite one aggregate call onto the stored partials, or None if
    // this view can't serve it
    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      def reagg(f: AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false, filter = None,
          resultId = ae.resultId)
      def partial(name: String)(f: Attribute => AggregateFunction) =
        byName.get(name).map(a => reagg(f(a)): Expression)
      def nonDecimal(a: AttributeReference) =
        !a.dataType.isInstanceOf[DecimalType]
      ae.aggregateFunction match {
        case Sum(a: AttributeReference, _) if nonDecimal(a) =>
          partial(sumCol(a.name))(Sum(_))
        case Min(a: AttributeReference) => partial(minCol(a.name))(Min(_))
        case Max(a: AttributeReference) => partial(maxCol(a.name))(Max(_))
        case Count(Seq(l: Literal)) if l.value != null =>
          partial(countStarCol)(Sum(_))
        case Count(Seq(a: AttributeReference)) =>
          partial(countCol(a.name))(Sum(_))
        case h: HllSketchAgg =>
          // the stored sketch's precision must be the one the query
          // asked for — a different lgK would silently change the
          // estimate's error profile
          (h.left, h.right) match {
            case (a: AttributeReference, lgk: Literal)
                if lgk.value == d.hllLgK =>
              partial(hllCol(a.name))(m => new HllUnionAgg(m))
            case _ => None
          }
        case Average(a: AttributeReference, _) if nonDecimal(a) =>
          for {
            s <- byName.get(sumCol(a.name))
            c <- byName.get(countCol(a.name))
          } yield Divide(
            Cast(AggregateExpression(Sum(s), Complete, isDistinct = false,
              filter = None, resultId = NamedExpression.newExprId), DoubleType),
            Cast(AggregateExpression(Sum(c), Complete, isDistinct = false,
              filter = None, resultId = NamedExpression.newExprId), DoubleType))
        case _ => None
      }
    }

    // result expressions: replace every aggregate call; remap leftover
    // (group-column) references; preserve each output exprId. Manual
    // top-down recursion — a rewritten aggregate's replacement tree
    // must NOT be revisited (the derived AVG contains fresh Sum calls
    // over summary columns that would fail a second lookup).
    var ok = true
    def rw(e: Expression): Expression = e match {
      case ae: AggregateExpression =>
        rewriteAgg(ae) match {
          case Some(x) => x
          case None => ok = false; ae
        }
      case a: AttributeReference => byName.getOrElse(a.name, { ok = false; a })
      case other => other.mapChildren(rw)
    }
    val newRs: Seq[NamedExpression] = resultExprs.map {
      case a: AttributeReference =>
        byName.get(a.name) match {
          case Some(m) => Alias(m, a.name)(exprId = a.exprId)
          case None => ok = false; a
        }
      case al: Alias =>
        Alias(rw(al.child), al.name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
      case other => ok = false; other
    }
    if (!ok) return None

    val newGsOpt = groupingExprs.map(remap)
    val newCondsOpt = conds.map(remap)
    if ((newGsOpt ++ newCondsOpt).exists(_.isEmpty)) return None
    val newGs = newGsOpt.flatten
    val newConds = newCondsOpt.flatten

    val filtered = newConds.foldLeft(mvRel: LogicalPlan)((p, c) => Filter(c, p))
    val needed = {
      val refs = AttributeSet(
        newGs.flatMap(_.references) ++ newRs.flatMap(_.references) ++
          newConds.flatMap(_.references))
      mvRel.output.filter(refs.contains)
    }
    Some(Aggregate(newGs, newRs, Project(needed, filtered)))
    } // attempt

    candidates.iterator.map(attempt).collectFirst { case Some(a) => a }
  }
}

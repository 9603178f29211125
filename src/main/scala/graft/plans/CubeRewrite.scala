package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Materialized-aggregate rewrite — the classic OLAP cube / MV-routing
  * optimization as a Catalyst rule: queries aggregating the BASE table
  * with grouping keys ⊆ the cube's dimensions and MERGEABLE aggregates
  * (count/sum/min/max) are rewritten to re-aggregate the pre-built cube
  * instead. At 100 TB the cube is orders of magnitude smaller than the
  * base scan (|dim-combination| rows), so every dashboard-shaped query
  * drops from a full-table scan to a lookup-sized one — the single
  * biggest repeated-query accelerator a warehouse has, and the reason
  * every engine grows some form of MV routing.
  *
  * Merge laws used (and the ONLY aggregates accepted — anything else
  * bails, leaving the plan untouched):
  *
  *   - `count(*)`/`count(lit)` over base  == `sum(cnt)` over cube
  *     (coalesced to 0 for the global-aggregate-over-empty-base edge);
  *   - `sum(x)`  == `sum(sum_x)` (cast back to the original result
  *     type — re-summing a widened DECIMAL widens again);
  *   - `min(x)`  == `min(min_x)`, `max(x)` == `max(max_x)`;
  *   - dimension-only `Filter`s commute with the dim grouping and move
  *     onto the cube scan; a filter touching any NON-dimension column
  *     bails (its row-level predicate is unanswerable post-aggregation).
  *
  * DISTINCT aggregates, FILTER clauses, and expressions over measures
  * all bail: a cube cannot answer them. Float-typed sums merge with
  * different addition order than the base scan — register integral or
  * DECIMAL measures where bit-exactness matters (the engine-wide exact
  * numeric policy).
  *
  * Output attribute ExprIds are preserved via same-id aliases, so the
  * rewrite is invisible to every parent operator. Correctness is
  * certified two ways: CubeRewriteSpec pins rewrite-fires / bails
  * guards and result identity on randomized data, and q163 runs a
  * routed query against the plain DuckDB aggregate over the base.
  *
  * Registration is per-JVM ([[registerCube]]) + per-session activation
  * ([[install]] for `experimental.extraOptimizations`, or cluster-wide
  * via `spark.sql.extensions=graft.GraftExtensions`); the
  * `spark.graft.cube.enabled` conf gates the rule at runtime.
  *
  * Freshness contract (every MV's): the cube answers for the base AS
  * OF its build/refresh. Appends go through
  * [[refreshCubeAdditive]]; rewriting or deleting base data without a
  * rebuild leaves a stale cube, silently — the user owns that
  * invariant, exactly as with any materialized view.
  */
object CubeRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.cube.enabled"

  final case class CubeSpec(basePath: String, cubePath: String,
                            dims: Seq[String], sumCols: Seq[String],
                            minMaxCols: Seq[String], cubePlan: LogicalPlan)

  private val registry = new ConcurrentHashMap[String, CubeSpec]()

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Build the cube parquet from the base table and register it. */
  def buildCube(spark: SparkSession, basePath: String, cubePath: String,
                dims: Seq[String], sumCols: Seq[String] = Nil,
                minMaxCols: Seq[String] = Nil): CubeSpec = {
    require(dims.nonEmpty, "cube needs at least one dimension")
    require(normalize(basePath) != normalize(cubePath),
      "cube path must differ from base path")
    // a REBUILD over an already-registered base must not have its own
    // aggregate routed to the stale cube it is replacing (and must not
    // overwrite cube files a routed plan is reading) — deregister for
    // the duration; registerCube at the end restores routing
    registry.remove(normalize(basePath))
    val base = spark.read.parquet(basePath)
    val aggs = (count(lit(1)).as("cnt") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
      minMaxCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(cubePath)
    registerCube(spark, basePath, cubePath, dims, sumCols, minMaxCols)
  }

  /** Register an existing cube for routing (per-JVM). */
  def registerCube(spark: SparkSession, basePath: String, cubePath: String,
                   dims: Seq[String], sumCols: Seq[String] = Nil,
                   minMaxCols: Seq[String] = Nil): CubeSpec = {
    val cubePlan = spark.read.parquet(cubePath).queryExecution.analyzed
    val spec = CubeSpec(normalize(basePath), normalize(cubePath), dims,
      sumCols, minMaxCols, cubePlan)
    registry.put(spec.basePath, spec)
    spec
  }

  /** Incremental refresh for an APPEND-ONLY delta (the log-table case):
    * the delta is aggregated with the cube's own shape and merged by
    * the same laws routing uses — counts and sums add, min/max fold —
    * so the cube stays consistent with the base WITHOUT rescanning it.
    * (Deletes would break min/max mergeability; that path is a
    * rebuild, deliberately.) The merged cube is localCheckpointed
    * before overwriting the files its plan read, then re-registered
    * (the stored scan's file listing is stale after the rewrite). */
  def refreshCubeAdditive(spark: SparkSession, basePath: String,
                          delta: DataFrame): CubeSpec = {
    val spec = Option(registry.get(normalize(basePath))).getOrElse(
      throw new IllegalArgumentException(s"no cube registered for $basePath"))
    // the delta may itself read from the base path — its aggregation
    // must not route to the cube being refreshed
    registry.remove(spec.basePath)
    val aggs = (count(lit(1)).as("cnt") +:
      spec.sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
      spec.minMaxCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val deltaAgg = delta.groupBy(spec.dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val old = spark.read.parquet(spec.cubePath)
    val mergeAggs = (sum(col("cnt")).as("cnt") +:
      spec.sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))) ++
      spec.minMaxCols.flatMap(c =>
        Seq(min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c")))
    val merged = old.unionByName(deltaAgg)
      .groupBy(spec.dims.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      // re-summing widens DECIMALs: pin the cube schema stable
      .select(old.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(spec.cubePath)
    registerCube(spark, spec.basePath, spec.cubePath, spec.dims,
      spec.sumCols, spec.minMaxCols)
  }

  /** Activate the rule in this session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  // ------------------------------------------------------------------ rule

  /** Strip dim-only Filters and pruning Projects down to the scanned
    * V1 relation, accumulating the filter conditions. */
  private def peel(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, conds))
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      peel(c, conds)
    case Filter(cond, c) => peel(c, conds :+ cond)
    case _ => None
  }

  private def specFor(lr: LogicalRelation): Option[CubeSpec] =
    lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths match {
        case Seq(single) => Option(registry.get(normalize(single.toString)))
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty ||
      conf.getConfString(EnabledKey, "true") != "true") return plan
    plan.transformUp {
      case agg @ Aggregate(gs, as, child, _) if agg.resolved =>
        rewrite(gs, as, child).getOrElse(agg)
    }
  }

  private def rewrite(gs: Seq[Expression], as: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val (lr, conds) = peel(child, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val spec = specFor(lr) match {
      case Some(s) => s
      case None => return None
    }
    // fresh cube-relation instance per rewrite site: two routed
    // aggregates in one query must not share attribute ids
    val cubeScan = spec.cubePlan transform {
      case l: LogicalRelation => l.newInstance()
    }
    val cubeAttr: Map[String, Attribute] =
      cubeScan.output.map(a => a.name -> a).toMap
    val dimSet = spec.dims.toSet

    def asDim(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if dimSet(a.name) => Some(a)
      case _ => None
    }
    // every grouping expression must be a plain dimension column
    val gDims = gs.map(asDim)
    if (gDims.exists(_.isEmpty)) return None
    // filters may only touch dimensions (they commute with the cube) —
    // and must be DETERMINISTIC: a rand()-style predicate has no column
    // references at all, yet filters ROWS, which a pre-aggregated cube
    // cannot replay
    if (conds.exists(c => !c.deterministic ||
      c.references.exists(a => !dimSet(a.name)))) return None

    def mapRefs(e: Expression): Expression = e transform {
      case a: AttributeReference => cubeAttr(a.name)
    }

    // the analyzer may wrap the measure in a same-type Cast (decimal
    // sums); an IDENTITY cast is transparent for routing — any
    // type-changing cast is not (the cube aggregated the raw column)
    def asMeasure(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case Cast(a: AttributeReference, dt, _, _) if dt == a.dataType => Some(a)
      case _ => None
    }

    def mergeAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      def rollup(fn: AggregateFunction): Expression =
        ae.copy(aggregateFunction = fn)
      ae.aggregateFunction match {
        case Count(args) if args.forall(a => a.foldable && a.eval() != null) =>
          // count over base == sum of per-combination counts; coalesce
          // restores count's 0-on-empty (and non-null type) contract.
          // NULL literals must bail: count(NULL) is 0 over the base,
          // not the row count — the merge law doesn't hold
          Some(Coalesce(Seq(rollup(Sum(cubeAttr("cnt"))), Literal(0L))))
        case Sum(c, _) if asMeasure(c).exists(a => spec.sumCols.contains(a.name)) =>
          val a = asMeasure(c).get
          val merged = rollup(Sum(cubeAttr(s"sum_${a.name}")))
          Some(if (merged.dataType == ae.dataType) merged
               else Cast(merged, ae.dataType))
        case Min(c) if asMeasure(c).exists(a => spec.minMaxCols.contains(a.name)) =>
          Some(rollup(Min(cubeAttr(s"min_${asMeasure(c).get.name}"))))
        case Max(c) if asMeasure(c).exists(a => spec.minMaxCols.contains(a.name)) =>
          Some(rollup(Max(cubeAttr(s"max_${asMeasure(c).get.name}"))))
        case _ => None
      }
    }

    // output expressions may wrap the aggregates arbitrarily (the
    // optimizer collapses post-aggregation projections — casts,
    // arithmetic — into the aggregate list): map the whole tree,
    // rewriting every embedded aggregate by its merge law and every
    // bare column reference by its cube dimension; anything else bails
    def mapExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => mergeAgg(ae)
      case a: AttributeReference =>
        if (dimSet(a.name)) Some(cubeAttr(a.name)) else None
      case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        None // a subplan rides inside: not ours to remap, bail
      case other if !other.deterministic => None
      case other =>
        val kids = other.children.map(mapExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    val mapped: Seq[Option[NamedExpression]] = as.map {
      case a: AttributeReference if dimSet(a.name) =>
        Some(Alias(cubeAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(e, name) =>
        mapExpr(e).map(m => Alias(m, name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None

    val filtered = conds.foldLeft(cubeScan)((p, c) => Filter(mapRefs(c), p))
    Some(Aggregate(gDims.map(d => cubeAttr(d.get.name)),
      mapped.map(_.get), filtered))
  }
}

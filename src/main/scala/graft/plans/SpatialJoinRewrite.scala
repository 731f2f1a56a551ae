package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.GeoEngine
import graft.GeoEngine.RectCols
import graft.core.Predicates
import graft.functions.{GeoExprs, STRefine}

/**
 * Catalyst optimizer rule: a declarative spatial-predicate join —
 *
 *   SELECT ... FROM r JOIN s
 *   ON st_intersects(r.gtype, r.coords, s.gtype, s.coords)
 *
 * — analyzes to an inner join with no equi-keys, which Spark executes as a
 * cartesian/nested-loop product. This rule rewrites it into the engine's
 * merged multi-resolution exchange on the world grid (Pages.WorldGrid):
 * each side derives its MBR from the predicate's own coords and explodes
 * ONCE into level-tagged tiles (GeoEngine.lvlTiles — a narrow row emits its
 * fine and coarse cover, a wide row its coarse cover), the two sides meet
 * in ONE equi-join on the tile key, GeoEngine.mergedPairCond keeps each
 * MBR-overlapping pair exactly once, the rectangular column fast path
 * decides POINT/BOX pairs, and only non-rectangular pairs evaluate the
 * exact kernel. One explode and one exchange per side, as
 * GeoEngine.spatialJoin plans for sides holding both narrow and wide rows —
 * the rewrite is purely lazy (no jobs at optimization time), so no side
 * statistics exist to prune a level.
 *
 * Scope guards (anything else is left untouched):
 *  - the join must be INNER and its condition EXACTLY one st_* predicate
 *    call whose two geometry argument pairs each reference exactly one side;
 *  - st_disjoint is NOT rewritten: the engine's documented tile-local
 *    DISJOINT semantics differ from the cartesian SQL meaning, and silently
 *    changing SQL results is worse than a slow plan;
 *  - to switch the rule off, exclude it like any optimizer rule:
 *    spark.sql.optimizer.excludedRules=graft.plans.SpatialJoinRewrite.
 *
 * Out-of-grid coordinates clamp into edge cells — still correct, just less
 * pruned.
 */
case class SpatialJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private val P = "__graft_"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // exactly one st_* conjunct drives the candidate structure; remaining
    // deterministic conjuncts (cross-side residuals — single-side ones
    // were already pushed below the join) apply as a post-filter
    case j @ Join(left, right, Inner, Some(cond), _) =>
      extract(cond, left, right) match {
        case Some((st, rest, aOnLeft)) =>
          rewrite(j, left, right, st, aOnLeft, rest)
        case None => j
      }
  }

  private def extract(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(STRefine, Seq[Expression], Boolean)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // a cross-side EQUALITY conjunct means Spark already has a real
    // equi-join key — planning a hash/sort-merge join on it and evaluating
    // st_* as a post-filter beats the tile explode; don't rewrite
    def crossEqui(e: Expression): Boolean = e match {
      case EqualTo(a, b) =>
        (a.references.nonEmpty && b.references.nonEmpty) &&
          ((a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet)) ||
           (a.references.subsetOf(right.outputSet) &&
            b.references.subsetOf(left.outputSet)))
      case _ => false
    }
    conjuncts.collect { case st: STRefine => st } match {
      case Seq(st) if st.predId != Predicates.DISJOINT &&
          conjuncts.forall(_.deterministic) && !conjuncts.exists(crossEqui) =>
        sideOf(st, left, right).map(aOnLeft =>
          (st, conjuncts.filterNot(_ eq st), aOnLeft))
      case _ => None
    }
  }

  /** Some(true) → (rg, rc) reference the LEFT child; Some(false) → RIGHT;
    * None → not cleanly separated (no rewrite). */
  private def sideOf(st: STRefine, left: LogicalPlan,
                     right: LogicalPlan): Option[Boolean] = {
    val aRefs = st.rg.references ++ st.rc.references
    val bRefs = st.sg.references ++ st.sc.references
    if (aRefs.isEmpty || bRefs.isEmpty) None
    else if (aRefs.subsetOf(left.outputSet) && bRefs.subsetOf(right.outputSet))
      Some(true)
    else if (aRefs.subsetOf(right.outputSet) && bRefs.subsetOf(left.outputSet))
      Some(false)
    else None
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      st: STRefine, aOnLeft: Boolean,
                      rest: Seq[Expression]): LogicalPlan = {
    val grid = graft.web.Pages.WorldGrid
    def C(e: Expression): Column = GraftColumnBridge.column(e)

    // derive gtype + MBR from the predicate's own argument expressions
    // (coords packed [x0,y0,x1,y1,...], one codegen `coords_mbr` call) under
    // a reserved prefix, so user columns of any name pass through; rows
    // with degenerate coords (< 1 vertex) are dropped. Then the engine's
    // level-tagged emission with every level on.
    def prep(child: LogicalPlan, p: String, g: Expression, c: Expression): DataFrame = {
      val cc = C(c)
      GraftColumnBridge.ofRows(spark, child).where(size(cc) >= 2)
        .select(col("*"), C(g).as(p + "g"), GeoExprs.coordsMbr(cc).as(p + "m"))
        .select(col("*") +: Seq("xmin", "ymin", "xmax", "ymax")
          .map(f => col(s"${p}m.$f").as(p + f)): _*)
        .drop(p + "m")
        .withColumn(p + "tile", explode(GeoEngine.lvlTiles(grid,
          GeoEngine.MaxFineCover, emitF = true, emitCNarrow = true,
          emitCWide = true, RectCols.prefixed(p))))
    }

    val (lg, lCoords, rg, rCoords) =
      if (aOnLeft) (st.rg, st.rc, st.sg, st.sc) else (st.sg, st.sc, st.rg, st.rc)
    // one equi-join on the tile key; its EqualTo is a cross-side equality,
    // so extract() leaves the rewritten join alone on later passes
    val cands = prep(left, P + "l", lg, lCoords)
      .join(prep(right, P + "r", rg, rCoords), col(P + "ltile") === col(P + "rtile"))
      .where(GeoEngine.mergedPairCond(col(P + "ltile"),
        RectCols.prefixed(P + "l"), RectCols.prefixed(P + "r"),
        grid, GeoEngine.MaxFineCover))

    // rectangular pairs decide on the shipped columns; everything else
    // evaluates the ORIGINAL kernel expression (references resolve against
    // the carried-through child outputs)
    val (ap, bp) = if (aOnLeft) (P + "l", P + "r") else (P + "r", P + "l")
    val (ar, br) = (RectCols.prefixed(ap), RectCols.prefixed(bp))
    val rect = GeoEngine.rectangularCond(ar, br)
    val rectEx = GeoEngine.rectExactExpr(st.predId, ar, br)
    val spatial = when(rect, rectEx).otherwise(C(st))
    val fullCond = rest.map(C).foldLeft(spatial)(_ && _)
    val filtered = cands.where(fullCond)

    // project back to exactly the join's output (same attributes, same order)
    GraftColumnBridge.logicalPlan(filtered.select(j.output.map(C): _*))
  }
}

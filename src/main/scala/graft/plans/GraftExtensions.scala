package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.core.CellIndex
import graft.functions.{CellDisk, CellEncode, CellParentAt, UrlLat, UrlLon}

/**
 * Session extensions (`SparkSessionExtensions`): SQL surface + optimizer
 * rule for the cell index.
 *
 *  - SQL functions: `cell_encode(lon, lat, res)`, `cell_parent(cell, res)`,
 *    `cell_disk(cell, k)`, `url_lon(url)`, `url_lat(url)` usable from
 *    `spark.sql(...)`;
 *  - [[CellParentPruning]]: rewrites `cell_parent(cell, r) = <lit>`
 *    equality predicates into RANGE predicates on the raw cell id
 *    (`cell >= firstChild AND cell <= lastChild`), because a cell's
 *    descendants at a finer resolution occupy a contiguous id range only
 *    per-axis — the rewrite emits ix/iy range bounds that parquet min/max
 *    row-group statistics and cell-sorted layouts can prune with, where
 *    the original function-call predicate prunes nothing.
 *
 * Register with
 * `SparkSession.builder().withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Require a foldable integral literal (INT or BIGINT in int range). */
  private def intLiteral(ex: Expression, what: String): Int = ex match {
    case e if e.foldable => e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3000",
        messageParameters = Map("message" ->
          s"$what must be an integer literal, got $other"))
    }
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3000",
      messageParameters = Map("message" ->
        s"$what must be a foldable integer literal, got ${ex.sql}"))
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    def reg(name: String, builder: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))

    reg("cell_encode", args => CellEncode(args(0), args(1), args(2)))
    reg("cell_parent", args => CellParentAt(args(0), args(1)))
    reg("cell_disk", args => CellDisk(args(0), args(1)))
    reg("url_lon", args => UrlLon(args.head))
    reg("url_lat", args => UrlLat(args.head))
    reg("text_fingerprint", args => graft.functions.TextFingerprint(args.head))
    reg("vec_dot", args => graft.functions.VecDot(args(0), args(1)))
    reg("rings_contain", args =>
      graft.functions.RingsContain(args(0), args(1), args(2), args(3)))
    // minhash_sig(text) / shingle_ids(text): the engine's fixed w=3 /
    // 16-hash parameterization (Dedup.MinhashParams)
    reg("minhash_sig", args => graft.functions.MinHashSig(args.head, 3,
      graft.operators.Dedup.MinhashParams.map(_._1),
      graft.operators.Dedup.MinhashParams.map(_._2)))
    reg("shingle_ids", args => graft.functions.ShingleIds(args.head, 3))
    // top_k(struct, k) aggregate — k must be a foldable integral
    // literal; validated explicitly (a blind eval().asInstanceOf[Int]
    // ClassCastExceptions on BIGINT literals and garbage-evals
    // non-foldable expressions — ADVICE r4)
    reg("top_k", args => graft.functions.BoundedTopK(args(0), intLiteral(args(1), "top_k k")))
    // UTM transverse-Mercator surface for SQL users: zone and north
    // (0/1) must be integer literals (they select the transform); the
    // functions evaluate through Warp's own CrsPoint kernel, with the
    // coordinates cast to double (a no-op cast is simplified away)
    import graft.operators.{CrsPoint, Warp}
    def utm(args: Seq[Expression], forward: Boolean, takeX: Boolean): Expression = {
      val zone = intLiteral(args(2), "utm zone")
      val north = intLiteral(args(3), "utm north flag") != 0
      val t = if (forward) Warp.LonLatToUtm(zone, north) else Warp.UtmToLonLat(zone, north)
      CrsPoint(Cast(args(0), DoubleType), Cast(args(1), DoubleType), t, takeX)
    }
    reg("utm_lon", utm(_, forward = false, takeX = true))
    reg("utm_lat", utm(_, forward = false, takeX = false))
    reg("utm_easting", utm(_, forward = true, takeX = true))
    reg("utm_northing", utm(_, forward = true, takeX = false))

    e.injectOptimizerRule(_ => CellParentPruning)
    e.injectPlannerStrategy(_ => PipAssignStrategy)
  }
}

/**
 * `cell_parent(cell, r) = lit` -> conjunction of ix/iy range bounds on
 * the raw cell column — statistics-prunable. The original predicate is
 * kept (the ranges are implied, Catalyst removes redundancy after
 * constant folding; keeping it preserves exactness unconditionally).
 */
object CellParentPruning extends Rule[LogicalPlan] {

  /** Marks already-rewritten predicates so the fixed-point loop terminates. */
  private val Rewritten = org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graftCellPruned")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case eq @ EqualTo(CellParentAt(cell, Literal(_, IntegerType)), Literal(p: Long, LongType))
        if cell.deterministic && !cell.foldable && eq.getTagValue(Rewritten).isEmpty =>
      rewrite(eq, cell, p)
    case eq @ EqualTo(Literal(p: Long, LongType), CellParentAt(cell, Literal(_, IntegerType)))
        if cell.deterministic && !cell.foldable && eq.getTagValue(Rewritten).isEmpty =>
      rewrite(eq, cell, p)
  }

  /**
   * Sound descendant-id envelope: every descendant of `parent` (at any
   * res r' in [res(parent), MaxRes]) has
   *   id >= parent                      (res occupies the TOP bits; a
   *                                      deeper res only raises the id)
   *   id <= pack(MaxRes, hiIx, hiIy)    (ix/iy fields of descendants
   *                                      never exceed the subtree's
   *                                      max-res corner)
   * The range may over-include ids of OTHER cells at intermediate res
   * (pruning stays sound: the original equality is kept and filters
   * exactly); for the engine's single-res cell columns the range is a
   * tight per-row-group discriminator.
   */
  private def rewrite(orig: Expression, cell: Expression, parent: Long): Expression = {
    val pRes = CellIndex.res(parent)
    val shift = CellIndex.MaxRes - pRes
    val hi = CellIndex.pack(CellIndex.MaxRes,
      ((CellIndex.ix(parent) + 1) << shift) - 1,
      ((CellIndex.iy(parent) + 1) << shift) - 1)
    orig.setTagValue(Rewritten, true)
    And(orig,
      And(GreaterThanOrEqual(cell, Literal(parent, LongType)),
          LessThanOrEqual(cell, Literal(hi, LongType))))
  }
}

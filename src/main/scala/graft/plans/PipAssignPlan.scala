package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

import graft.core.PolygonSet

/**
 * WHOLE-OPERATOR point-in-polygon assignment — the top rung of the
 * custom-operator ladder (expression -> optimizer Rule ->
 * LogicalPlan + Strategy + physical SparkPlan): one logical node whose
 * physical operator streams child rows once, probes the broadcast PIP
 * index per row (allocation-free `PolygonSet.winner`) and appends the
 * last-wins polygon id. Semantics identical to the expression path
 * (`SpatialJoin.assign`, reference rasterize burn order
 * raster.py:2442-2448); equality is asserted in ExtensionsSpec.
 *
 * The expression path stays the engine default — it composes with
 * WholeStageCodegen, which a custom exec opts out of. This node exists
 * for operators whose semantics DON'T decompose into expressions; it
 * demonstrates the full extension wiring on one whose results can be
 * cross-checked exactly.
 *
 * The output attribute is a CONSTRUCTOR PARAMETER (minted once in
 * [[PipAssignPlan.apply]]) — a `val` inside the node would be re-minted
 * with a fresh exprId on every `copy(...)` the optimizer performs,
 * orphaning downstream references.
 */
case class PipAssignPlan(child: LogicalPlan, lon: Expression, lat: Expression,
                         polys: PolygonSet, outAttr: AttributeReference) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): PipAssignPlan =
    copy(child = newChild)
}

object PipAssignPlan {
  def apply(child: LogicalPlan, lon: Expression, lat: Expression,
            polys: PolygonSet, outName: String): PipAssignPlan =
    PipAssignPlan(child, lon, lat, polys,
      AttributeReference(outName, IntegerType, nullable = false)())
}

/** Plans [[PipAssignPlan]] to [[PipAssignExec]] (inject via GraftExtensions
  * or `spark.experimental.extraStrategies`). */
object PipAssignStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ PipAssignPlan(child, lon, lat, polys, _) =>
      PipAssignExec(planLater(child), lon, lat, polys, p.outAttr) :: Nil
    case _ => Nil
  }
}

/**
 * Physical PIP assign: zero shuffle (`outputPartitioning` delegates to
 * the child), polygon layer broadcast once per executor as its flat
 * index, per-row winner probe. The UnsafeProjection rebuild per
 * partition keeps rows unsafe end-to-end.
 */
case class PipAssignExec(child: SparkPlan, lon: Expression, lat: Expression,
                         polys: PolygonSet, outAttr: AttributeReference)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    child.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val bc = sparkContext.broadcast(polys)
    val childOutput = child.output
    val lonE = lon; val latE = lat; val out = output
    child.execute().mapPartitions { iter =>
      val coords = UnsafeProjection.create(Seq(lonE, latE), childOutput)
      val outProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val idRow = new SpecificInternalRow(Seq(IntegerType))
      val set = bc.value
      iter.map { row =>
        val c = coords(row)
        idRow.setInt(0, set.winner(c.getDouble(0), c.getDouble(1)))
        outProj(joined(row, idRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PipAssignExec =
    copy(child = newChild)
}

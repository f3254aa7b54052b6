package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet,
  BindReferences, Expression, NamedExpression, Predicate, SubqueryExpression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.sources.Filter

/**
 * Driver-served point selects. A filter set that routes one of the
 * handle relations to a DRIVER lane ([[IndexedFrame.DriverLanes]]:
 * primary point/IN probes, secondary point and range probes, probe-memo
 * hits) ends with its whole result on the driver. Through `buildScan`
 * those rows go back to Spark as a one-slice RDD, and a root-level
 * collect then runs a second job just to ship them home — and the
 * probe itself runs at PLANNING time, so even `explain()` pays it.
 *
 * The strategy plans such a select as one [[IndexedPointExec]] whose
 * `executeCollect` / `executeTake` run the probe lazily and answer on
 * the driver: one pruned probe job on a miss, none on a memo hit. A
 * parent operator (join, union, aggregate) still gets an RDD through
 * `doExecute`.
 */
object IndexedPoint {

  object IndexedPointStrategy extends SparkStrategy {

    private def servable(e: Expression): Boolean =
      e.deterministic && !SubqueryExpression.hasSubquery(e)

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PhysicalOperation(projects, conds, l: LogicalRelation)
          if !l.isStreaming && conds.nonEmpty &&
            (projects ++ conds).forall(servable) =>
        l.relation match {
          case rel: IndexedFrame.DriverLanes if l.output.length == rel.schema.length =>
            // the pushed set is exactly what the DataSource path pushes;
            // conjuncts that do not translate are only re-applied
            val pushed = conds.flatMap(ExpressionBridge.translateFilter)
            if (!rel.markDriverLane(pushed.toArray)) Nil
            else IndexedPointExec(projects.map(_.toAttribute), rel, l.output,
              projects, conds.reduceOption(And), pushed) :: Nil
          case _ => Nil
        }
      case _ => Nil
    }
  }

  /** Filters rows of the relation's full schema by every conjunct — the
    * superset-then-recheck rule `unhandledFilters` relies on — and
    * projects them. Top-level, so executor closures capture no node. */
  private def finish(condition: Option[Expression], projects: Seq[NamedExpression],
      input: Seq[Attribute])(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    // interpreted: the condition carries the probed literals, and a
    // generated class per literal would cost a compile per query
    val pred = condition.map(c => Predicate.createInterpreted(
      BindReferences.bindReference(c, input)))
    val proj = UnsafeProjection.create(projects, input)
    rows.filter(r => pred.forall(_.eval(r))).map(proj)
  }

  /** A driver lane of `rel` under `condition` and `projects`. The
    * relation stays on the driver: a parent's generated code ships
    * this node to executors, which never call it. */
  case class IndexedPointExec(output: Seq[Attribute],
      @transient rel: IndexedFrame.DriverLanes, relOutput: Seq[Attribute],
      projects: Seq[NamedExpression], condition: Option[Expression],
      pushed: Seq[Filter]) extends LeafExecNode {

    override def producedAttributes: AttributeSet = AttributeSet(relOutput)

    private def rowsRdd(driver: Option[Array[InternalRow]]): RDD[InternalRow] = {
      val src = driver match {
        case Some(rows) => IndexedFrame.localRows(sparkContext, rows.toIndexedSeq)
        // the lane fell back at run time (a secondary probe over its
        // budget): the scan lanes serve, and every conjunct re-applies
        case None => rel.scanRows(pushed.toArray)
      }
      val (c, p, in) = (condition, projects, relOutput)
      src.mapPartitions(finish(c, p, in))
    }

    override protected def doExecute(): RDD[InternalRow] =
      rowsRdd(rel.driverRows(pushed.toArray))

    override def executeCollect(): Array[InternalRow] = serve(None)

    override def executeTake(n: Int): Array[InternalRow] =
      if (n <= 0) Array.empty else serve(Some(n))

    /** This node's rows on the driver, at most `limit` of them. */
    private def serve(limit: Option[Int]): Array[InternalRow] =
      rel.driverRows(pushed.toArray) match {
        case Some(rows) =>
          val out = finish(condition, projects, relOutput)(rows.iterator).map(_.copy())
          limit.fold(out)(out.take).toArray
        case None =>
          val all = rowsRdd(None).map(_.copy())
          limit.fold(all.collect())(all.take)
      }

    override def simpleString(maxFields: Int): String =
      s"IndexedPoint ${rel.getClass.getSimpleName} pushed=${pushed.mkString("[", ", ", "]")}" +
        condition.fold("")(c => s" recheck=$c") +
        " [driver lane: rows answer on the driver]"
  }
}

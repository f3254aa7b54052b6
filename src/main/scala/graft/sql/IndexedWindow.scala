package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  AttributeReference, BoundReference, EqualTo, Expression, GenericInternalRow,
  GreaterThan, GreaterThanOrEqual, IntegerLiteral, JoinedRow, LessThan,
  LessThanOrEqual, RowNumber, SortOrder, UnsafeProjection, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.IntegerType

/**
 * Index-served grouped top-n: `row_number() OVER (PARTITION BY a
 * ORDER BY b) <= n` over a range-partitioned composite (a, b) handle.
 *
 * The layout already IS the window's work product — each a-group is a
 * contiguous key run, internally sorted by b — so the whole query is
 * one streaming pass per trie emitting the first n rows of every run
 * with their ranks, plus an O(partitions) boundary pass for runs that
 * straddle adjacent partitions. NO exchange, NO sort, NO window state;
 * at most n rows per group are ever materialized. Catalyst's default
 * (even with its WindowGroupLimit pre-filter) hash-exchanges and sorts
 * every surviving row.
 *
 * Claims exactly `Filter(rank-prefix predicate on rn, Window(row_number
 * PARTITION BY leading ORDER BY second ASC))` over a bare composite
 * relation (attribute-only Projects allowed; an optimizer-inserted
 * WindowGroupLimit below the Window is absorbed). Descending order,
 * extra conjuncts, other window functions, or value-column filters all
 * fall through to the default planner.
 */
object IndexedWindow {

  /** Register the strategy on a session (idempotent). */
  def enable(spark: SparkSession): Unit =
    GraftStrategies.install(spark, Seq(IndexedGroupTopNStrategy))

  object IndexedGroupTopNStrategy extends SparkStrategy {

    /** The composite handle under attribute-only Projects; Filters
      * disqualify (rows would need inspection above this node). */
    private def bare(p: LogicalPlan): Option[IndexedFrame.CompositeNHandle] =
      p match {
        case lr: LogicalRelation => lr.relation match {
          case rel: IndexedFrame.CompositeNRelation => Some(rel.h)
          case _ => None
        }
        case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
          bare(child)
        case _ => None
      }

    /** The per-group prefix bound `n` the filter condition pins on the
      * rank attribute, if the WHOLE condition is one such predicate. */
    private def rankLimitOf(cond: Expression, rn: Attribute): Option[Int] = {
      def isRn(e: Expression): Boolean = e match {
        case a: AttributeReference => a.exprId == rn.exprId
        case _ => false
      }
      cond match {
        case LessThanOrEqual(a, IntegerLiteral(n)) if isRn(a) => Some(n)
        case LessThan(a, IntegerLiteral(n)) if isRn(a) => Some(n - 1)
        case EqualTo(a, IntegerLiteral(1)) if isRn(a) => Some(1)
        case EqualTo(IntegerLiteral(1), a) if isRn(a) => Some(1)
        case GreaterThanOrEqual(IntegerLiteral(n), a) if isRn(a) => Some(n)
        case GreaterThan(IntegerLiteral(n), a) if isRn(a) => Some(n - 1)
        case _ => None
      }
    }

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case logical.Filter(cond, w: logical.Window) =>
        (w.windowExpressions, w.partitionSpec, w.orderSpec) match {
          case (Seq(al @ Alias(we: WindowExpression, _)),
              Seq(pa: AttributeReference), Seq(so: SortOrder))
              if we.windowFunction.isInstanceOf[RowNumber] &&
                so.direction == Ascending =>
            val obCol = so.child match {
              case a: AttributeReference => Some(a.name)
              case _ => None
            }
            // absorb the optimizer's WindowGroupLimit pre-filter (same
            // specs by construction when present)
            val wchild = w.child match {
              case gl: logical.WindowGroupLimit => gl.child
              case other => other
            }
            (rankLimitOf(cond, al.toAttribute), obCol, bare(wchild)) match {
              case (Some(n), Some(ob), Some(h))
                  if n >= 0 && h.groupTopNServable &&
                    pa.name == h.keyCols.head && ob == h.keyCols(1) =>
                IndexedGroupTopNExec(
                  wchild.output :+ al.toAttribute, h, n) :: Nil
              case _ => Nil
            }
          case _ => Nil
        }
      case _ => Nil
    }
  }

  /** First n rows of every leading-column run, with ranks — emitted
    * from the partitions that already hold them, in layout order. */
  case class IndexedGroupTopNExec(output: Seq[Attribute],
      h: IndexedFrame.CompositeNHandle, n: Int) extends LeafExecNode {

    override protected def doExecute(): RDD[InternalRow] = {
      h.lastScanKind = "group_topn"
      val fields: Seq[Expression] = output.dropRight(1).map { a =>
        val i = h.schema.fieldIndex(a.name)
        BoundReference(i, h.schema.fields(i).dataType, h.schema.fields(i).nullable)
      } :+ BoundReference(h.schema.length, IntegerType, nullable = false)
      h.groupTopN(n).mapPartitions { it =>
        val proj = UnsafeProjection.create(fields.toIndexedSeq)
        val joined = new JoinedRow
        val rnRow = new GenericInternalRow(1)
        it.map { case (r, rank) =>
          rnRow.update(0, rank)
          proj(joined(r, rnRow)): InternalRow
        }
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedGroupTopN n=$n [per-run streaming ranks off the layout " +
        "— no exchange, no sort, no window state]"
  }
}

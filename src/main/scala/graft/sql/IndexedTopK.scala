package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, BoundReference, IntegerLiteral, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/**
 * Index-answered `ORDER BY key LIMIT n`: on a RANGE-PARTITIONED handle
 * the global partition order IS the key order, so the first (or last)
 * `n` rows live in a known partition prefix (suffix) — one cheap sizes
 * job finds it, one job streams those tries in key order, and the
 * query reads O(n) rows. Catalyst's own `TakeOrderedAndProject` scans
 * EVERY partition into per-partition bounded heaps — O(corpus) work
 * that the layout already did at build time.
 *
 * Claims exactly `Limit(n, Sort(key asc|desc, global))` over a bare
 * indexed relation (attribute-only Projects allowed), `n` under
 * [[IndexedTopK.TopKBudget]], on a topK-capable handle. Anything else
 * — extra sort columns, filters, non-key sorts, hash layouts — falls
 * through to the default planner.
 */
object IndexedTopK {

  /** Register the strategy on a session (idempotent). */
  def enable(spark: SparkSession): Unit =
    GraftStrategies.install(spark, Seq(IndexedTopKStrategy))

  /** Driver-side row budget: `n` beyond this plans as Catalyst's
    * bounded-heap scan instead (the rows land on the driver here). */
  val TopKBudget = 100000

  object IndexedTopKStrategy extends SparkStrategy
      with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

    /** The handle under attribute-only Projects and Filters, plus the
      * conjuncts of every Filter passed through. A Filter makes the
      * claim KEYSET PAGINATION (`WHERE key > cursor ORDER BY key LIMIT
      * n`) — served iff every conjunct translates to a key-interval
      * bound the handle enforces exactly (checked in planTopK). */
    private def bare(p: LogicalPlan)
        : Option[(IndexedFrame.TopKServable,
            Seq[org.apache.spark.sql.catalyst.expressions.Expression])] = p match {
      case lr: LogicalRelation => lr.relation match {
        case rel: IndexedFrame.IndexedRelation[_] => Some((rel.h, Nil))
        case rel: IndexedFrame.CompositeNRelation => Some((rel.h, Nil))
        case _ => None
      }
      case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
        bare(child)
      case logical.Filter(cond, child) =>
        bare(child).map { case (h, fs) =>
          (h, fs ++ splitConjunctivePredicates(cond))
        }
      case _ => None
    }

    /** Claims a uniform-direction sort on a non-empty PREFIX of the
      * layout's order columns: `key` for single-key handles; `(a)` or
      * `(a, b)` for composites — a leading-column sort is served by the
      * full tuple order (ties broken deterministically by b, a legal
      * answer where SQL leaves ties unspecified). Mixed directions or
      * non-layout sort columns fall through. */
    private def planTopK(limit: Int, s: logical.Sort): Seq[SparkPlan] = {
      val cols = s.order.map(_.child).collect { case a: AttributeReference => a.name }
      val dirs = s.order.map(_.direction).distinct
      if (cols.isEmpty || cols.length != s.order.length || dirs.length != 1) Nil
      else bare(s.child) match {
        case Some((h, conds)) =>
          // every conjunct must translate to a source Filter (the scan
          // path's own translation, via the bridge) AND the handle must
          // claim the (sortCols, filters) pair as a whole; otherwise
          // the shape falls through (claiming a subset would silently
          // drop the residual predicate — this node is the final plan)
          val translated = conds.map(
            org.apache.spark.sql.graftbridge.ExpressionBridge.translateFilter)
          if (translated.exists(_.isEmpty)) Nil
          else {
            val fs = translated.map(_.get)
            if (!h.topKClaimable(cols, fs)) Nil
            else IndexedTopKExec(s.child.output, h, limit,
              dirs.head == Ascending, s.order, fs) :: Nil
          }
        case _ => Nil
      }
    }

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      // ReturnAnswer wraps root plans of collect-like actions; claim it
      // here or the built-in SpecialLimits takes the whole subtree
      case ReturnAnswer(root) => apply(root)
      case logical.Limit(IntegerLiteral(n), s: logical.Sort)
          if s.global && n <= TopKBudget && n >= 0 =>
        planTopK(n, s)
      // Project BETWEEN limit and sort — the shape the optimizer's
      // ColumnPruning leaves when the projection DROPS a sort column
      // (`SELECT v ... ORDER BY ts LIMIT n`): a projection that keeps
      // the sort columns is instead pushed below the Sort, where bare()
      // already accepts it. This is exactly Catalyst's own
      // TakeOrderedAndProject claim, index-served.
      case logical.Limit(IntegerLiteral(n), Project(projs, s: logical.Sort))
          if s.global && n <= TopKBudget && n >= 0 =>
        if (projs.forall(_.isInstanceOf[Attribute])) {
          // attribute-only: serve the projected columns straight from
          // the handle rows (collect() stays driver-side, zero jobs on
          // memo hits). outputOrdering keeps only the sort prefix that
          // survives the projection — claiming less is always sound.
          val attrs = projs.map(_.asInstanceOf[Attribute])
          planTopK(n, s).map { case e: IndexedTopKExec =>
            e.copy(output = attrs, sortOrder = e.sortOrder.takeWhile(_.child match {
              case a: AttributeReference => attrs.exists(_.exprId == a.exprId)
              case _ => false
            }))
          }
        } else {
          // computed projections (casts, functions): evaluate them in a
          // ProjectExec over the O(n) index-served rows
          planTopK(n, s).map(e =>
            org.apache.spark.sql.execution.ProjectExec(projs, e))
        }
      case _ => Nil
    }
  }

  /** `n` rows in key order (within the pushed key interval `fs`, when
    * present), fetched from only the covering partition prefix/suffix
    * and emitted as ONE ordered partition. */
  case class IndexedTopKExec(output: Seq[Attribute],
      h: IndexedFrame.TopKServable, n: Int, asc: Boolean,
      sortOrder: Seq[SortOrder],
      fs: Seq[org.apache.spark.sql.sources.Filter] = Nil) extends LeafExecNode {

    override def outputPartitioning: Partitioning = SinglePartition
    override def outputOrdering: Seq[SortOrder] = sortOrder

    private def boundFields: Seq[BoundReference] = output.map { a =>
      val i = h.schema.fieldIndex(a.name)
      BoundReference(i, h.schema.fields(i).dataType, h.schema.fields(i).nullable)
    }

    /** collect()-rooted top-k never touches the cluster after the first
      * fetch: the rows are already on the driver (memoized on the
      * immutable handle), so answer from them directly — zero Spark
      * jobs on repeat queries. Same driver-side shortcut Catalyst's
      * `TakeOrderedAndProjectExec` takes via `executeCollect`. */
    override def executeCollect(): Array[InternalRow] = {
      val rows = h.takeOrderedRows(n, asc, fs)
      val proj = UnsafeProjection.create(boundFields.toIndexedSeq)
      rows.iterator.map(r => proj(r).copy(): InternalRow).toArray
    }

    override def executeTake(limit: Int): Array[InternalRow] =
      executeCollect().take(limit)

    override protected def doExecute(): RDD[InternalRow] = {
      val rows = h.takeOrderedRows(n, asc, fs)
      val fields = boundFields
      sparkContext.parallelize(rows, 1).mapPartitions { it =>
        val proj = UnsafeProjection.create(fields.toIndexedSeq)
        it.map(r => proj(r): InternalRow)
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedTopK n=$n ${if (asc) "asc" else "desc"}" +
        (if (fs.isEmpty) " " else s" filters=${fs.mkString(",")} ") +
        "[O(n): covering partition prefix only, no scan, no sort]"
  }
}

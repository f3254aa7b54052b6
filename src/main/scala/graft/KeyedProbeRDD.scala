package graft

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD

/** One partition of a [[KeyedProbeRDD]]: the parent (index) partition
  * it reads and the probe slice routed to it. The slice travels inside
  * the task that runs this partition, and only there. */
private[graft] final class KeyedProbePartition[S](
    override val index: Int, val parent: Partition, val slice: S)
    extends Partition

/**
 * A narrow, single-stage probe job over an index's partitions, where
 * each task carries exactly the probes its partition owns.
 *
 * `slices` names the parent partitions this RDD covers, in output
 * order, each with its probe slice: only the owning partitions for a
 * pruned probe (point reads), or every partition in parent order for a
 * fan-out that must keep the index's partition count and numbering.
 * Like `ParallelCollectionRDD`, the slice is part of the partition
 * object, so a probe batch costs no broadcast and no copy of the whole
 * batch in every task; like `PartitionPruningRDD`, the dependency is
 * narrow, so the scheduler places each task where its parent partition
 * is cached.
 *
 * `probe(slice, part)` computes one partition from its slice and a
 * thunk for the parent partition's single element.
 * The thunk is the only way the parent block is fetched: a partition
 * whose slice needs no lookup never deserializes its index partition.
 */
private[graft] final class KeyedProbeRDD[P: ClassTag, S, R: ClassTag](
    prev: RDD[P],
    @transient slices: Seq[(Int, S)],
    probe: (S, () => Option[P]) => Iterator[R])
    extends RDD[R](prev.context, List(new NarrowDependency[P](prev) {
      // child i reads exactly the parent partition its slice names
      private val parentIds = slices.map(_._1).toArray
      override def getParents(partitionId: Int): Seq[Int] =
        List(parentIds(partitionId))
    })) {

  override protected def getPartitions: Array[Partition] = {
    val parents = prev.partitions
    slices.iterator.zipWithIndex.map { case ((pid, slice), i) =>
      new KeyedProbePartition(i, parents(pid), slice): Partition
    }.toArray
  }

  override def compute(split: Partition, context: TaskContext): Iterator[R] = {
    val p = split.asInstanceOf[KeyedProbePartition[S]]
    probe(p.slice, () => {
      val it = firstParent[P].iterator(p.parent, context)
      if (it.hasNext) Some(it.next()) else None
    })
  }
}

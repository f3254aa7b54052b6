package graft

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.keys.KeySerializer
import graft.partition.{HashIndexedPartition, IndexedPartition, LazyIndexedPartition}

/**
 * An updatable, point-queryable, key-unique distributed map `K -> V`,
 * exposed as an `RDD[(K, V)]`.
 *
 * Capability parity with the reference engine (reference
 * IndexedRDD.scala:37-498), re-expressed on the Spark 4 RDD API with
 * an in-repo persistent per-partition index:
 *
 *  - entries are hash-partitioned by key and key-unique;
 *  - each Spark partition holds ONE [[graft.partition.IndexedPartition]]
 *    (this is an RDD whose elements are whole indexed partitions,
 *    connected by a [[OneToOneDependency]]);
 *  - point reads run a partition-pruned job over only the owning
 *    partitions;
 *  - updates/deletes are copy-on-write: every mutation returns a new
 *    IndexedRDD, and the previous version remains queryable;
 *  - joins against co-partitioned IndexedRDDs are narrow (zero
 *    shuffle); joins against arbitrary pair RDDs shuffle ONLY the
 *    other side, never the indexed base.
 *
 * Scale notes (designed for many-executor clusters, tested locally):
 * point-read key sets travel per task, each owning partition's task
 * carrying only its own slice ([[KeyedProbeRDD]]) — the reference
 * ships all keys in each closure (reference IndexedRDD.scala:82 TODO);
 * partition count is inherited from the input, so a 100 TB build keeps
 * whatever parallelism the source scan chose.
 */
class IndexedRDD[K: ClassTag, V: ClassTag] private[graft] (
    private[graft] val partitionsRDD: RDD[IndexedPartition[K, V]])
    extends RDD[(K, V)](partitionsRDD.context,
      List(new OneToOneDependency(partitionsRDD))) {

  require(partitionsRDD.partitioner.isDefined,
    "IndexedRDD requires a partitioner on its partitions RDD")

  override val partitioner: Option[org.apache.spark.Partitioner] =
    partitionsRDD.partitioner

  override protected def getPartitions: Array[Partition] = partitionsRDD.partitions

  override protected def getPreferredLocations(s: Partition): Seq[String] =
    partitionsRDD.preferredLocations(s)

  override def compute(part: Partition, context: TaskContext): Iterator[(K, V)] = {
    val it = firstParent[IndexedPartition[K, V]].iterator(part, context)
    if (it.hasNext) it.next().iterator else Iterator.empty
  }

  /** Persists the INDEXED representation (the partitions RDD), so cached
    * probes hit the built index, not re-built tuples.
    *
    * Storage policy at scale: a partition is built in heap (size the
    * partition COUNT with [[IndexedRDD.build]] so each one fits), but
    * the total cached footprint may exceed executor memory —
    * `MEMORY_AND_DISK(_SER)` spills cold partitions to disk and
    * `DISK_ONLY` keeps the whole index out of heap; every operator
    * (point read, COW update, join, range) streams partitions back on
    * demand because the partition contract is serialization-clean
    * (Java AND Kryo round-trips, spec-enforced). See SpillSpec. */
  override def persist(newLevel: StorageLevel): this.type = {
    partitionsRDD.persist(newLevel); this
  }
  override def unpersist(blocking: Boolean = false): this.type = {
    partitionsRDD.unpersist(blocking); this
  }
  override def setName(name: String): this.type = {
    partitionsRDD.setName(name); this
  }
  def cached: this.type = persist(StorageLevel.MEMORY_ONLY)

  /** Content-identical copy with FRESHLY REBUILT partitions and CUT
    * lineage — the engine under `OPTIMIZE`.
    *
    * Copy-on-write DML (`multiputRDD`/`deleteRDD`) stacks one
    * zip-with-delta stage per statement: correctness never degrades,
    * but an un-checkpointed N-statement chain re-plays N delta zips on
    * every read, task closures grow with the lineage graph, and
    * recovery of a lost block recomputes the whole chain. Compaction
    * resets all three to O(1): each partition rebuilds into a fresh
    * index sharing nothing with its ancestors, and the rebuilt RDD is
    * checkpoint-materialized so its dependency graph terminates right
    * here. In local mode that is `localCheckpoint` (block-backed); on
    * a cluster the same call site is where a reliable checkpoint
    * directory would slot in — either way the partitioner (and so
    * every pruned-probe and zip-join route) is preserved.
    *
    * The source RDD is left untouched: older chain versions remain
    * queryable until their references are dropped (see `VACUUM`). */
  def compacted(): IndexedRDD[K, V] = {
    val parts = partitionsRDD.mapPartitions(
      it => it.map(_.compacted), preservesPartitioning = true)
    parts.localCheckpoint()
    // materialize NOW so the lineage truncates before anyone plans
    // against the new snapshot (localCheckpoint truncates on first job)
    parts.foreachPartition(_ => ())
    new IndexedRDD(parts)
  }

  /** Per-partition index sizes, one O(partitions) header pass (no
    * tuple scan) — the balance probe [[reskewed]] and maintenance
    * tooling read. */
  def partitionSizes(): Array[Long] = {
    val pairs = partitionsRDD.mapPartitionsWithIndex((pid, it) =>
      Iterator.single((pid, if (it.hasNext) it.next().size else 0L))).collect()
    val out = new Array[Long](partitionsRDD.getNumPartitions)
    pairs.foreach { case (pid, n) => out(pid) = n }
    out
  }

  /** POST-BUILD re-skew (the [[IndexedRDD.skewAware]] guard re-run on
    * a live index): if any partition outgrew `maxRowsPerPartition` —
    * months of upserts concentrating on one bucket's key range — the
    * entries rebuild under a fresh [[IndexedRDD.SplitPartitioner]]
    * sized from the OBSERVED per-partition counts (for an existing
    * split layout, sub-partition counts fold back onto their base
    * buckets first, so splits re-size rather than stack). Balanced
    * indexes return `this` after one O(partitions) size probe; the
    * rebuild itself is a full shuffle — pair it with compaction
    * (OPTIMIZE), which rewrites the base anyway. Non-hash layouts
    * (range partitioning) return `this`: an order-breaking split would
    * void their pruning contract — re-range-partition those
    * explicitly. `ordered` selects the per-partition layout of the
    * rebuilt index (radix vs hash), matching the original build. */
  def reskewed(maxRowsPerPartition: Long, ordered: Boolean = false)(
      implicit ser: KeySerializer[K]): IndexedRDD[K, V] = {
    require(maxRowsPerPartition > 0)
    val sizes = partitionSizes()
    if (sizes.forall(_ <= maxRowsPerPartition)) return this
    def resplit(counts: Array[Long]): Array[Int] = counts.map(c =>
      math.max(1L, (c + maxRowsPerPartition - 1) / maxRowsPerPartition).toInt)
    val newPart = partitioner.get match {
      case hp: HashPartitioner =>
        Some(new IndexedRDD.SplitPartitioner(hp.numPartitions, resplit(sizes)))
      case sp0: IndexedRDD.SplitPartitioner =>
        val baseCounts = new Array[Long](sp0.baseParts)
        var b = 0; var p = 0
        while (b < sp0.baseParts) {
          var i = 0
          while (i < sp0.splits(b)) { baseCounts(b) += sizes(p); p += 1; i += 1 }
          b += 1
        }
        Some(new IndexedRDD.SplitPartitioner(sp0.baseParts, resplit(baseCounts)))
      case _ => None
    }
    newPart match {
      case None => this
      case Some(np) =>
        val moved = (this: RDD[(K, V)]).partitionBy(np)
        if (ordered) IndexedRDD.ordered(moved) else IndexedRDD(moved)
    }
  }

  /** Longest dependency path under the index (diagnostic: the replay
    * depth a cold read of this snapshot pays; `compacted()` resets it). */
  def lineageDepth: Int = {
    def depth(r: RDD[_]): Int =
      1 + (if (r.dependencies.isEmpty) 0
           else r.dependencies.map(d => depth(d.rdd)).max)
    depth(partitionsRDD)
  }

  /** O(partitions): sums per-partition index sizes, no tuple scan. */
  override def count(): Long =
    partitionsRDD.map(_.size).fold(0L)(_ + _)

  // ---------------------------------------------------------------------
  // Point reads
  // ---------------------------------------------------------------------

  /** Point lookup of one key: a single-partition Spark job probing one
    * index. */
  def get(k: K): Option[V] = multiget(Array(k)).get(k)

  /**
   * Batch point lookup. Groups keys by owning partition on the driver
   * and runs a job over ONLY those partitions (partition pruning for
   * cached data — Catalyst cannot do this on an InMemoryRelation).
   * Each task carries its own partition's key slice; no broadcast.
   */
  def multiget(ks: Array[K]): Map[K, V] = {
    if (ks.isEmpty) return Map.empty
    val part = partitioner.get
    val slices = ks.groupBy(k => part.getPartition(k)).toSeq.sortBy(_._1)
    val probe = new KeyedProbeRDD[IndexedPartition[K, V], Array[K], (K, V)](
      partitionsRDD, slices,
      (keys, p) => p().map(_.multiget(keys)).getOrElse(Iterator.empty))
    context.runJob(probe, (it: Iterator[(K, V)]) => it.toArray).iterator.flatten.toMap
  }

  // ---------------------------------------------------------------------
  // Point mutations (copy-on-write)
  // ---------------------------------------------------------------------

  /** Upsert one pair, last-write-wins. */
  def put(k: K, v: V): IndexedRDD[K, V] = multiput(Map(k -> v))

  /** Upsert a driver-side map, last-write-wins. */
  def multiput(kvs: Map[K, V]): IndexedRDD[K, V] =
    multiput[V](kvs, (_, v) => v, (_, _, v) => v)

  /** Upsert a driver-side map with a merge function for existing keys. */
  def multiput(kvs: Map[K, V], merge: (K, V, V) => V): IndexedRDD[K, V] =
    multiput[V](kvs, (_, v) => v, merge)

  /** General upsert: `project` builds values for new keys, `merge`
    * combines with existing values. */
  def multiput[U: ClassTag](kvs: Map[K, U], project: (K, U) => V,
      merge: (K, V, U) => V): IndexedRDD[K, V] =
    multiputRDD(context.parallelize(kvs.toSeq), project, merge)

  /** Upsert a distributed update set, last-write-wins. */
  def multiputRDD(updates: RDD[(K, V)]): IndexedRDD[K, V] =
    multiputRDD[V](updates, (_, v) => v, (_, _, v) => v)

  /** Upsert a distributed update set with a merge function for existing
    * keys. */
  def multiputRDD(updates: RDD[(K, V)], merge: (K, V, V) => V): IndexedRDD[K, V] =
    multiputRDD[V](updates, (_, v) => v, merge)

  /** Distributed upsert: shuffles ONLY the update set to the index's
    * partitioning, then copy-on-write inserts per partition. */
  def multiputRDD[U: ClassTag](updates: RDD[(K, U)], project: (K, U) => V,
      merge: (K, V, U) => V): IndexedRDD[K, V] =
    zipWithOther(updates) { (part, iter) => part.multiput(iter, project, merge) }

  /** Remove keys (shipped via a one-sided shuffle of the key set). */
  def delete(ks: Array[K]): IndexedRDD[K, V] =
    deleteRDD(context.parallelize(ks.toSeq))

  /** Remove a DISTRIBUTED key set: only the keys shuffle (to this
    * index's partitioning), then copy-on-write removal per partition —
    * the bulk-retraction twin of [[multiputRDD]], costing the delta,
    * never the corpus. */
  def deleteRDD(keys: RDD[K]): IndexedRDD[K, V] =
    zipWithOther(keys.map(k => (k, ()))) { (part, iter) =>
      part.delete(iter.map(_._1))
    }

  // ---------------------------------------------------------------------
  // Projections / filters
  // ---------------------------------------------------------------------

  /** Predicate over entries; result stays indexed and co-partitioned. */
  override def filter(pred: ((K, V)) => Boolean): IndexedRDD[K, V] =
    mapIndexedPartitions(_.filter((k, v) => pred((k, v))))

  /** Map values, preserving index and partitioning. */
  def mapValues[V2: ClassTag](f: V => V2): IndexedRDD[K, V2] =
    mapIndexedPartitions(_.mapValues((_, v) => f(v)))

  /** Map values with the key in scope, preserving index and
    * partitioning. */
  def mapValues[V2: ClassTag](f: (K, V) => V2): IndexedRDD[K, V2] =
    mapIndexedPartitions(_.mapValues(f))

  // ---------------------------------------------------------------------
  // Joins — narrow when co-partitioned, one-sided shuffle otherwise
  // ---------------------------------------------------------------------

  /** Inner equi-join on the key. */
  def innerJoin[U: ClassTag, V2: ClassTag](other: RDD[(K, U)])(
      f: (K, V, U) => V2): IndexedRDD[K, V2] =
    other match {
      case o: IndexedRDD[K, U] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => a.innerJoin(b)(f))
      case _ =>
        zipWithOther(other) { (part, iter) =>
          part.innerJoin(HashIndexedPartition(iter))(f)
        }
    }

  /**
   * Inner equi-join that STREAMS results instead of building an index
   * over them: per partition, scan this side and probe the other
   * side's index, emitting `f` lazily. The right consumer shape for
   * engines layered above (the SQL zip join): join output feeds
   * straight into the parent operator without materializing a result
   * partition. Narrow when co-partitioned; otherwise only `other`
   * shuffles.
   */
  /**
   * Inner equi-join that PROBES this index with `other`'s rows instead
   * of scanning either side: `other` alone shuffles (to this index's
   * partitioning); each probe row costs one O(depth) point lookup in
   * the owning partition's trie, emitting `f` on hit and nothing on
   * miss — pass `missing` to null-extend misses instead (the LEFT
   * OUTER enrichment shape). The 100 TB lookup-join primitive: join a
   * keyed corpus with a batch and the cost scales with the BATCH —
   * the corpus is never scanned and never moves. Duplicate probe keys
   * emit once per probe row (SQL multiplicity; this side is
   * key-unique).
   */
  /** Bounded per-task probe memo — the SKEW guard for every lookup
    * path: a zipfian probe batch repeats a few hot keys thousands of
    * times, and probing the trie per duplicate makes the hot key's
    * owning task the straggler. Each duplicate beyond the first now
    * costs one hash lookup instead of an O(depth) descent (hits AND
    * misses memoize). The memo is capped so a high-cardinality
    * (uniform) probe cannot balloon task memory — once full, further
    * DISTINCT keys probe directly and pay only the failed map lookup. */
  private def memoizedProbe[V1](p: IndexedPartition[K, V1]): K => Option[V1] = {
    val cap = 1 << 16
    val memo = new java.util.HashMap[K, Option[V1]]()
    k => {
      val cached = memo.get(k)
      if (cached != null) cached
      else {
        val r = p(k)
        if (memo.size < cap) memo.put(k, r)
        r
      }
    }
  }

  def lookupJoinStream[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, V, U) => R, missing: Option[(K, U) => R] = None): RDD[R] = {
    val partitioned =
      if (other.partitioner == partitioner) other
      else other.partitionBy(partitioner.get)
    partitionsRDD.zipPartitions(partitioned,
      preservesPartitioning = false) { (pit, oit) =>
      if (!pit.hasNext) {
        missing match {
          case Some(m) => oit.map { case (k, u) => m(k, u) }
          case None => Iterator.empty
        }
      } else {
        val probe = memoizedProbe(pit.next())
        oit.flatMap { case (k, u) =>
          probe(k) match {
            case Some(v) => Iterator.single(f(k, v, u))
            case None => missing match {
              case Some(m) => Iterator.single(m(k, u))
              case None => Iterator.empty
            }
          }
        }
      }
    }
  }

  /**
   * [[lookupJoinStream]] accepting NULL probe keys — the LEFT-OUTER /
   * ANTI enrichment shapes over nullable key columns, where SQL keeps
   * the null-keyed probe rows as guaranteed misses. Null keys route
   * to partition 0 (they never probe) and emit `missing`.
   */
  def lookupJoinStreamNullable[U: ClassTag, R: ClassTag](other: RDD[(Any, U)])(
      f: (K, V, U) => R, missing: U => R): RDD[R] = {
    val base = partitioner.get
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = base.numPartitions
      override def getPartition(key: Any): Int =
        if (key == null) 0 else base.getPartition(key)
    }
    partitionsRDD.zipPartitions(other.partitionBy(part),
      preservesPartitioning = false) { (pit, oit) =>
      if (!pit.hasNext) oit.map { case (_, u) => missing(u) }
      else {
        val probe = memoizedProbe(pit.next())
        oit.map { case (k, u) =>
          if (k == null) missing(u)
          else probe(k.asInstanceOf[K]) match {
            case Some(v) => f(k.asInstanceOf[K], v, u)
            case None => missing(u)
          }
        }
      }
    }
  }

  /**
   * Keyed-probe lookup join for DRIVER-RESIDENT batches — the
   * small-side twin of [[lookupJoinStream]]. The probes group by
   * owning partition on the driver, each partition's task carries only
   * its own slice ([[KeyedProbeRDD]]), and a NARROW single-stage job
   * probes the owning partitions' tries: no shuffle stage, no
   * broadcast, and a task whose partition owns no probe is a no-op
   * that never deserializes its partition (cold/disk partitions the
   * batch skips stay cold). The enrich-a-small-delta shape at cluster
   * scale: with today's keys clustered in recent partitions, cost is
   * O(partitions) no-op task launches + O(probes) O(depth) descents —
   * Catalyst's broadcast hash join scans the ENTIRE corpus per query
   * even with the delta broadcast. `nullKeyed` rows (SQL null join
   * keys) never probe; with `missing` set they are emitted as
   * guaranteed misses from partition 0.
   *
   * Full fan-out, NOT pruned: partition count and numbering are
   * preserved, so every output row still sits in its key's owning
   * partition under THIS index's partitioner and key-clustered
   * partitioning claims stay valid upstairs.
   */
  def lookupJoinLocal[U: ClassTag, R: ClassTag](
      probes: Seq[(K, U)], nullKeyed: Seq[U] = Nil)(
      f: (K, V, U) => R, missing: Option[U => R] = None): RDD[R] = {
    val slices = localSlices(probes, nullKeyed, missing.isDefined)
    val none = (Array.empty[(K, U)], Array.empty[U])
    new KeyedProbeRDD[IndexedPartition[K, V], (Array[(K, U)], Array[U]), R](
      partitionsRDD,
      (0 until partitionsRDD.getNumPartitions).map(pid => (pid, slices.getOrElse(pid, none))),
      (slice, part) => probeSlice(slice, part, f, missing))
  }

  /**
   * Driver-COLLECTED twin of [[lookupJoinLocal]] for root-level
   * consumers (a `.collect()` with no parent operator): ONE job on
   * ONLY the probe-owning partitions — the no-op task launches on
   * every other partition, the price [[lookupJoinLocal]] pays to keep
   * its partition numbering claimable, disappear entirely. At 100 TB
   * scale that is the difference between O(probes) task launches and
   * O(partitions) of them per probe batch. Result size is O(matches),
   * which a root-level collect materializes on the driver anyway.
   */
  def lookupJoinLocalCollect[U: ClassTag, R: ClassTag](
      probes: Seq[(K, U)], nullKeyed: Seq[U] = Nil)(
      f: (K, V, U) => R, missing: Option[U => R] = None): Array[R] = {
    val slices = localSlices(probes, nullKeyed, missing.isDefined)
    if (slices.isEmpty) return Array.empty[R]
    new KeyedProbeRDD[IndexedPartition[K, V], (Array[(K, U)], Array[U]), R](
      partitionsRDD, slices.toSeq.sortBy(_._1),
      (slice, part) => probeSlice(slice, part, f, missing)).collect()
  }

  /** Driver-side routing of a [[lookupJoinLocal]] batch: each owning
    * partition's probes, plus the null-keyed rows (kept only when
    * `keepNulls`), which ride in partition 0's slice — the SAME
    * placement the shuffled path uses (lookupJoinStreamNullable routes
    * nulls to partition 0), so both probe paths satisfy the documented
    * null-group layout identically. */
  private def localSlices[U: ClassTag](probes: Seq[(K, U)], nullKeyed: Seq[U],
      keepNulls: Boolean): Map[Int, (Array[(K, U)], Array[U])] = {
    val part = partitioner.get
    val byPid = probes.groupBy { case (k, _) => part.getPartition(k) }
      .map { case (pid, ps) => (pid, (ps.toArray, Array.empty[U])) }
    if (!keepNulls || nullKeyed.isEmpty) byPid
    else byPid.updated(0,
      (byPid.get(0).map(_._1).getOrElse(Array.empty[(K, U)]), nullKeyed.toArray))
  }

  /** One task of a [[lookupJoinLocal]] job: probe this partition's
    * slice (fetching the partition only if the slice holds a probe),
    * then emit the null-keyed misses it carries. */
  private def probeSlice[U, R](slice: (Array[(K, U)], Array[U]),
      part: () => Option[IndexedPartition[K, V]], f: (K, V, U) => R,
      missing: Option[U => R]): Iterator[R] = {
    val (mine, nulls) = slice
    val hits: Iterator[R] =
      if (mine.isEmpty) Iterator.empty
      else part() match {
        case None => missing match {
          case Some(m) => mine.iterator.map { case (_, u) => m(u) }
          case None => Iterator.empty
        }
        case Some(p) =>
          val probe = memoizedProbe(p)
          mine.iterator.flatMap { case (k, u) =>
            probe(k) match {
              case Some(v) => Iterator.single(f(k, v, u))
              case None => missing match {
                case Some(m) => Iterator.single(m(u))
                case None => Iterator.empty
              }
            }
          }
      }
    if (nulls.isEmpty) hits else hits ++ nulls.iterator.map(missing.get)
  }

  /**
   * INTERVAL probes against the globally ordered layout — the
   * BAND-JOIN primitive. Each probe row carries a half-open key
   * interval `[lo, hi)` (`hi = None` = unbounded above, the
   * domain-max edge); the row is routed to every partition whose key
   * range overlaps it — tiny for narrow bands under a
   * RangePartitioner — and each delivery runs ONE pruned trie range
   * scan, emitting `f` per (corpus entry, probe row) match. Spark's
   * default for a non-equi join is a nested loop over the whole
   * corpus per probe partition; here cost is O(deliveries + matches)
   * and the corpus never moves.
   */
  def lookupRangeJoinStream[U: ClassTag, R: ClassTag](
      other: RDD[((K, Option[K]), U)])(f: (K, V, U) => R)(
      implicit ser: KeySerializer[K]): RDD[R] = {
    require(ser.isOrderPreserving,
      s"lookupRangeJoinStream scans tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val rp = partitioner match {
      case Some(p: org.apache.spark.RangePartitioner[K @unchecked, _]) => p
      case _ => throw new IllegalArgumentException(
        "lookupRangeJoinStream requires a range-partitioned index")
    }
    val n = rp.numPartitions
    val routed = other.flatMap { case ((lo, hi), u) =>
      val a = rp.getPartition(lo)
      val b = hi.map(rp.getPartition).getOrElse(n - 1)
      (math.min(a, b) to math.max(a, b)).iterator
        .map(pid => (pid, ((lo, hi), u)))
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    partitionsRDD.zipPartitions(routed,
      preservesPartitioning = false) { (pit, oit) =>
      if (!pit.hasNext) Iterator.empty
      else {
        val p = pit.next()
        val ordK = Ordering.fromLessThan[K]((x, y) =>
          java.util.Arrays.compareUnsigned(ser.toBytes(x), ser.toBytes(y)) < 0)
        oit.flatMap { case (_, ((lo, hi), u)) =>
          val hits = (p, hi) match {
            case (r: graft.partition.RadixIndexedPartition[K, V], Some(h)) =>
              r.range(lo, h)
            case (r: graft.partition.RadixIndexedPartition[K, V], None) =>
              r.iterator.filter { case (k, _) => ordK.gteq(k, lo) }
            case (p2, h) => p2.iterator.filter { case (k, _) =>
              ordK.gteq(k, lo) && h.forall(t => ordK.lt(k, t))
            }
          }
          hits.map { case (k, v) => f(k, v, u) }
        }
      }
    }
  }

  /**
   * Keyed-probe twin of [[lookupRangeJoinStream]] for DRIVER-RESIDENT
   * interval batches (the small-side band join): each interval routes
   * to its overlapping partitions ON THE DRIVER (the RangePartitioner's
   * bounds are driver-resident), each partition's task carries only the
   * intervals routed to it ([[KeyedProbeRDD]]), and a narrow
   * single-stage job runs one pruned trie range scan per delivery — no
   * shuffle stage, no broadcast, and a task whose partition no interval
   * overlaps never deserializes it. Same partition count/numbering as
   * the index, so key-clustered partitioning claims stay valid
   * upstairs.
   */
  def lookupRangeJoinLocal[U: ClassTag, R: ClassTag](
      probes: Seq[((K, Option[K]), U)])(f: (K, V, U) => R)(
      implicit ser: KeySerializer[K]): RDD[R] = {
    require(ser.isOrderPreserving,
      s"lookupRangeJoinLocal scans tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val rp = partitioner match {
      case Some(p: org.apache.spark.RangePartitioner[K @unchecked, _]) => p
      case _ => throw new IllegalArgumentException(
        "lookupRangeJoinLocal requires a range-partitioned index")
    }
    val n = rp.numPartitions
    val byPid: Map[Int, Array[((K, Option[K]), U)]] = probes
      .flatMap { case (iv @ (lo, hi), u) =>
        val a = rp.getPartition(lo)
        val b = hi.map(rp.getPartition).getOrElse(n - 1)
        (math.min(a, b) to math.max(a, b)).map(pid => (pid, (iv, u)))
      }
      .groupBy(_._1).map { case (pid, xs) => (pid, xs.map(_._2).toArray) }
    // An empty routing map still fans out over every partition (each
    // task no-ops) so the physical partition count/numbering always
    // matches the index's declared partitioning — a 0-partition
    // emptyRDD would contradict upstream partitioning claims.
    val none = Array.empty[((K, Option[K]), U)]
    new KeyedProbeRDD[IndexedPartition[K, V], Array[((K, Option[K]), U)], R](
      partitionsRDD, (0 until n).map(pid => (pid, byPid.getOrElse(pid, none))),
      (mine, part) =>
        if (mine.isEmpty) Iterator.empty // never touches (or deserializes) the partition
        else part() match {
          case None => Iterator.empty
          case Some(p) =>
            val ordK = Ordering.fromLessThan[K]((x, y) =>
              java.util.Arrays.compareUnsigned(ser.toBytes(x), ser.toBytes(y)) < 0)
            mine.iterator.flatMap { case ((lo, hi), u) =>
              val hits = (p, hi) match {
                case (r: graft.partition.RadixIndexedPartition[K, V], Some(h)) =>
                  r.range(lo, h)
                case (r: graft.partition.RadixIndexedPartition[K, V], None) =>
                  r.iterator.filter { case (k, _) => ordK.gteq(k, lo) }
                case (p2, h) => p2.iterator.filter { case (k, _) =>
                  ordK.gteq(k, lo) && h.forall(t => ordK.lt(k, t))
                }
              }
              hits.map { case (k, v) => f(k, v, u) }
            }
        })
  }

  /**
   * Per-probe FLOOR lookups — the BATCH point-in-time (as-of) join
   * primitive. Each probe row carries a half-open key interval
   * `[lo, ub)` (`ub = None` = unbounded above) and yields the
   * GREATEST entry whose key falls in it, or None. Probe rows route
   * only to the overlapping partitions (one, for an entity whose
   * versions don't straddle a boundary); each delivery is one O(depth)
   * bounded floor descent, and a tiny (probeId, best) reduce picks the
   * global floor when an interval spans partitions. The corpus never
   * moves and is never scanned.
   */
  def lookupFloorStream[U: ClassTag](other: RDD[((K, Option[K]), U)])(
      implicit ser: KeySerializer[K]): RDD[(Option[(K, V)], U)] = {
    require(ser.isOrderPreserving,
      s"lookupFloorStream descends tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val rp = partitioner match {
      case Some(p: org.apache.spark.RangePartitioner[K @unchecked, _]) => p
      case _ => throw new IllegalArgumentException(
        "lookupFloorStream requires a range-partitioned index")
    }
    val n = rp.numPartitions
    val routed = other.zipWithUniqueId().flatMap {
      case (((lo, ub), u), id) =>
        val a = rp.getPartition(lo)
        val b = ub.map(rp.getPartition).getOrElse(n - 1)
        (math.min(a, b) to math.max(a, b)).iterator
          .map(pid => (pid, (id, lo, ub, u)))
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    val cmp: (K, K) => Int = (x, y) =>
      java.util.Arrays.compareUnsigned(ser.toBytes(x), ser.toBytes(y))
    val local: RDD[(Long, (Option[(K, V)], U))] =
      partitionsRDD.zipPartitions(routed,
        preservesPartitioning = false) { (pit, oit) =>
        if (!pit.hasNext)
          oit.map { case (_, (id, _, _, u)) =>
            (id, (None: Option[(K, V)], u))
          }
        else {
          val p = pit.next()
          oit.map { case (_, (id, lo, ub, u)) =>
            val fk: Option[K] = (p, ub) match {
              case (r: graft.partition.RadixIndexedPartition[K, V], Some(t)) =>
                r.lastInRange(lo, t)
              case (r: graft.partition.RadixIndexedPartition[K, V], None) =>
                r.lastKey.filter(k => cmp(k, lo) >= 0)
              case (p2, t) =>
                val inRange = p2.iterator.map(_._1).filter(k =>
                  cmp(k, lo) >= 0 && t.forall(tt => cmp(k, tt) < 0))
                if (inRange.isEmpty) None
                else Some(inRange.maxBy(identity)(
                  Ordering.fromLessThan((x: K, y: K) => cmp(x, y) < 0)))
            }
            (id, (fk.map(k => (k, p(k).get)), u))
          }
        }
      }
    local.reduceByKey { (x, y) =>
      (x._1, y._1) match {
        case (Some((kx, _)), Some((ky, _))) => if (cmp(kx, ky) >= 0) x else y
        case (Some(_), None) => x
        case _ => y
      }
    }.map(_._2)
  }

  /**
   * Semi/anti twin of [[lookupJoinStream]] KEEPING THIS SIDE's rows:
   * `keys` shuffle to their owning partitions (one small one-sided
   * shuffle), then semi emits each locally-present key's entry via one
   * O(depth) probe per DISTINCT key — the corpus is never scanned —
   * while anti streams the partition's trie once filtering against the
   * local key set (a local scan, but the corpus still never shuffles).
   */
  def lookupSemiStream(keys: RDD[K], anti: Boolean = false): RDD[(K, V)] = {
    val pairs = keys.map((_, ())).partitionBy(partitioner.get)
    partitionsRDD.zipPartitions(pairs,
      preservesPartitioning = false) { (pit, kit) =>
      if (!pit.hasNext) Iterator.empty
      else {
        val p = pit.next()
        val set = new java.util.HashSet[K]()
        kit.foreach { case (k, _) => set.add(k) }
        if (anti) p.iterator.filter { case (k, _) => !set.contains(k) }
        else {
          import scala.jdk.CollectionConverters._
          set.iterator().asScala.flatMap(k => p(k).map(v => (k, v)))
        }
      }
    }
  }

  def innerJoinStream[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, V, U) => R): RDD[R] =
    other match {
      case o: IndexedRDD[K, U] if o.partitioner == partitioner =>
        partitionsRDD.zipPartitions(o.partitionsRDD,
          preservesPartitioning = true) { (ai, bi) =>
          if (ai.hasNext && bi.hasNext) {
            val a = ai.next(); val b = bi.next()
            a.iterator.flatMap { case (k, v) =>
              b(k) match { case Some(u) => Iterator.single(f(k, v, u)); case None => Iterator.empty }
            }
          } else Iterator.empty
        }
      case _ =>
        val partitioned =
          if (other.partitioner == partitioner) other
          else other.partitionBy(partitioner.get)
        partitionsRDD.zipPartitions(partitioned,
          preservesPartitioning = true) { (ai, oi) =>
          if (ai.hasNext) {
            val a = ai.next(); val b = HashIndexedPartition(oi)
            a.iterator.flatMap { case (k, v) =>
              b(k) match { case Some(u) => Iterator.single(f(k, v, u)); case None => Iterator.empty }
            }
          } else Iterator.empty
        }
    }

  /** PROBE-side join for batch/stream enrichment — the dual of
    * [[innerJoinStream]]: scan `other` (shipped one-sided to this
    * index's partitioning), probe THIS index per row, emit `f`
    * lazily. Per-call cost is O(|other|) probes — the index is never
    * scanned, rebuilt, or re-hashed — so enriching a small micro-batch
    * against a huge indexed dimension costs the batch, not the corpus.
    * The output claims NO partitioner: `f` may re-key, and a stale
    * partitioner claim on re-keyed pairs would silently mis-place
    * downstream copy-on-write inserts. */
  def lookupJoin[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, V, U) => R): RDD[R] = {
    val partitioned =
      if (other.partitioner == partitioner) other
      else other.partitionBy(partitioner.get)
    partitionsRDD.zipPartitions(partitioned,
      preservesPartitioning = false) { (ai, oi) =>
      if (!ai.hasNext) Iterator.empty
      else {
        val a = ai.next()
        oi.flatMap { case (k, u) =>
          a(k) match {
            case Some(v) => Iterator.single(f(k, v, u))
            case None => Iterator.empty
          }
        }
      }
    }
  }

  /** Left-outer twin of [[lookupJoin]]: every `other` row is emitted,
    * with `None` where this index has no entry for its key. The CDC /
    * changelog probe shape — "what was the old value, if any, for each
    * key this batch touches" costs O(batch) point probes. */
  def lookupJoinLeft[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, Option[V], U) => R): RDD[R] = {
    val partitioned =
      if (other.partitioner == partitioner) other
      else other.partitionBy(partitioner.get)
    partitionsRDD.zipPartitions(partitioned,
      preservesPartitioning = false) { (ai, oi) =>
      if (!ai.hasNext) oi.map { case (k, u) => f(k, None, u) }
      else {
        val a = ai.next()
        oi.map { case (k, u) => f(k, a(k), u) }
      }
    }
  }

  /** Left-outer analogue of [[innerJoinStream]]: scan this side, probe
    * the other, emit lazily — no result index is built. */
  def leftJoinStream[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, V, Option[U]) => R): RDD[R] =
    other match {
      case o: IndexedRDD[K, U] if o.partitioner == partitioner =>
        partitionsRDD.zipPartitions(o.partitionsRDD,
          preservesPartitioning = true) { (ai, bi) =>
          if (ai.hasNext && bi.hasNext) {
            val a = ai.next(); val b = bi.next()
            a.iterator.map { case (k, v) => f(k, v, b(k)) }
          } else if (ai.hasNext) {
            val a = ai.next()
            a.iterator.map { case (k, v) => f(k, v, None) }
          } else Iterator.empty
        }
      case _ =>
        val partitioned =
          if (other.partitioner == partitioner) other
          else other.partitionBy(partitioner.get)
        partitionsRDD.zipPartitions(partitioned,
          preservesPartitioning = true) { (ai, oi) =>
          if (ai.hasNext) {
            val a = ai.next(); val b = HashIndexedPartition(oi)
            a.iterator.map { case (k, v) => f(k, v, b(k)) }
          } else Iterator.empty
        }
    }

  /** Full-outer analogue of [[innerJoinStream]]: all left rows (with
    * their match, if any), then the right side's anti half — emitted
    * lazily, no result index. */
  def fullOuterJoinStream[U: ClassTag, R: ClassTag](other: RDD[(K, U)])(
      f: (K, Option[V], Option[U]) => R): RDD[R] = {
    def emit(a: IndexedPartition[K, V], b: IndexedPartition[K, U]): Iterator[R] =
      a.iterator.map { case (k, v) => f(k, Some(v), b(k)) } ++
        b.iterator.collect { case (k, u) if !a.isDefined(k) => f(k, None, Some(u)) }
    other match {
      case o: IndexedRDD[K, U] if o.partitioner == partitioner =>
        partitionsRDD.zipPartitions(o.partitionsRDD,
          preservesPartitioning = true) { (ai, bi) =>
          (ai.hasNext, bi.hasNext) match {
            case (true, true) => emit(ai.next(), bi.next())
            case (true, false) =>
              ai.next().iterator.map { case (k, v) => f(k, Some(v), None) }
            case (false, true) =>
              bi.next().iterator.map { case (k, u) => f(k, None, Some(u)) }
            case _ => Iterator.empty
          }
        }
      case _ =>
        val partitioned =
          if (other.partitioner == partitioner) other
          else other.partitionBy(partitioner.get)
        partitionsRDD.zipPartitions(partitioned,
          preservesPartitioning = true) { (ai, oi) =>
          if (ai.hasNext) emit(ai.next(), HashIndexedPartition(oi))
          else HashIndexedPartition[K, U](oi).iterator
            .map { case (k, u) => f(k, None, Some(u)) }
        }
    }
  }

  /** Left outer equi-join with free result type. */
  def leftJoin[V2: ClassTag, V3: ClassTag](other: RDD[(K, V2)])(
      f: (K, V, Option[V2]) => V3): IndexedRDD[K, V3] =
    other match {
      case o: IndexedRDD[K, V2] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => a.leftJoin(b)(f))
      case _ =>
        zipWithOther(other) { (part, iter) =>
          part.leftJoin(HashIndexedPartition(iter))(f)
        }
    }

  /** Left outer join that updates matched values IN PLACE (value type
    * preserved; unmatched keys keep their current value). */
  def join[U: ClassTag](other: RDD[(K, U)])(f: (K, V, U) => V): IndexedRDD[K, V] =
    other match {
      case o: IndexedRDD[K, U] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => a.join(b.iterator)(f))
      case _ =>
        zipWithOther(other) { (part, iter) => part.join(iter)(f) }
    }

  /** Full outer equi-join (eager). */
  def fullOuterJoin[V2: ClassTag, W: ClassTag](other: RDD[(K, V2)])(
      f: (K, Option[V], Option[V2]) => W): IndexedRDD[K, W] =
    other match {
      case o: IndexedRDD[K, V2] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => a.fullOuterJoin(b)(f))
      case _ =>
        zipWithOther(other) { (part, iter) =>
          part.fullOuterJoin(HashIndexedPartition(iter))(f)
        }
    }

  /**
   * LAZY keyed union under a reducer: returns a view whose partitions
   * accumulate delta lists instead of merging indexes eagerly
   * (reference `fullOuterJoin(maybeLazy = true)`,
   * IndexedRDD.scala:360-378 / LazyPartition.scala — here as a typed
   * overload instead of the reference's runtime-ClassTag dispatch).
   * Point reads probe each delta and reduce; the first full-scan
   * operator forces a one-time merge. Chained unions flatten.
   */
  def unionWith(other: RDD[(K, V)], reduce: (V, V) => V): IndexedRDD[K, V] =
    other match {
      case o: IndexedRDD[K, V] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => LazyIndexedPartition.union(a, b, reduce))
      case _ =>
        zipWithOther(other) { (part, iter) =>
          // duplicate keys within `other` fold with the same reducer
          // (matching the co-partitioned branch's semantics)
          LazyIndexedPartition.union(part,
            HashIndexedPartition[K, V, V](iter, (_, v) => v, (_, old, v) => reduce(old, v)),
            reduce)
        }
    }

  /** Keys present in BOTH sides whose values differ, keeping THIS
    * side's value (changeset between two versions). */
  def diff(other: RDD[(K, V)]): IndexedRDD[K, V] =
    other match {
      case o: IndexedRDD[K, V] if o.partitioner == partitioner =>
        zipIndexed(o)((a, b) => a.diff(b))
      case _ =>
        zipWithOther(other) { (part, iter) => part.diff(HashIndexedPartition(iter)) }
    }

  // ---------------------------------------------------------------------
  // Index-reusing aggregation / rebuild
  // ---------------------------------------------------------------------

  /** Reduce-by-key `elems` into this index's partitioning (keys absent
    * from the index are kept). A partial+final hash aggregation whose
    * final layout reuses the index. */
  def aggregateUsingIndex[V2: ClassTag](elems: RDD[(K, V2)],
      reduce: (V2, V2) => V2): IndexedRDD[K, V2] =
    zipWithOther(elems) { (part, iter) => part.aggregateUsingIndex(iter, reduce) }

  /** Rebuild a same-partitioned IndexedRDD from new elements
    * (duplicate keys: last write wins). */
  def createUsingIndex[V2: ClassTag](elems: RDD[(K, V2)]): IndexedRDD[K, V2] =
    zipWithOther(elems) { (part, iter) => part.createUsingIndex(iter) }

  /** Collapse lazy delta chains into materialized indexes. */
  def reindex(): IndexedRDD[K, V] = mapIndexedPartitions(_.reindex)

  /**
   * Range scan `from <= k < to` (order defined by the serializer's byte
   * encoding — numeric order for the fixed-width numeric serializers).
   * Ordered (radix) partitions answer with a pruned trie descent; other
   * layouts fall back to a filtered scan. Hash partitioning spreads any
   * range across all partitions, so this runs everywhere but does NO
   * shuffle and streams only matching entries.
   */
  /** Smallest / largest key in SERIALIZED BYTE order (== natural order
    * when the serializer is order-preserving — same contract as
    * [[range]]): radix partitions answer with one O(depth) descent (no
    * scan); hash-map partitions fall back to a per-partition key pass.
    * One job, no shuffle, driver combines P candidates. */
  def minKey()(implicit ser: KeySerializer[K]): Option[K] =
    extremeKey(ser, min = true)

  def maxKey()(implicit ser: KeySerializer[K]): Option[K] =
    extremeKey(ser, min = false)

  /** (count, minKey, maxKey) in ONE job: partition sizes are O(1) and
    * the extrema are O(depth) descents on radix layouts, so the job
    * touches no entries there. Same byte-order contract as
    * [[minKey]]/[[maxKey]]. */
  def keyStats()(implicit ser: KeySerializer[K]): (Long, Option[K], Option[K]) = {
    val perPart = partitionsRDD.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        (r.size, r.firstKey.map(ser.toBytes), r.lastKey.map(ser.toBytes))
      case p =>
        var mn: Array[Byte] = null
        var mx: Array[Byte] = null
        var n = 0L
        p.iterator.foreach { case (k, _) =>
          val kb = ser.toBytes(k)
          if (mn == null || java.util.Arrays.compareUnsigned(kb, mn) < 0) mn = kb
          if (mx == null || java.util.Arrays.compareUnsigned(kb, mx) > 0) mx = kb
          n += 1
        }
        (n, Option(mn), Option(mx))
    }.collect()
    val total = perPart.map(_._1).sum
    val mn = perPart.flatMap(_._2).reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) < 0) a else b)
    val mx = perPart.flatMap(_._3).reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) > 0) a else b)
    (total, mn.map(ser.fromBytes), mx.map(ser.fromBytes))
  }

  private def extremeKey(ser: KeySerializer[K], min: Boolean): Option[K] = {
    def better(a: Array[Byte], b: Array[Byte]): Boolean = {
      val c = java.util.Arrays.compareUnsigned(a, b)
      if (min) c < 0 else c > 0
    }
    val perPart = partitionsRDD.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        (if (min) r.firstKey else r.lastKey).map(ser.toBytes)
      case p =>
        var best: Array[Byte] = null
        p.iterator.foreach { case (k, _) =>
          val kb = ser.toBytes(k)
          if (best == null || better(kb, best)) best = kb
        }
        Option(best)
    }.collect()
    perPart.flatten.reduceOption((a, b) => if (better(a, b)) a else b)
      .map(ser.fromBytes)
  }

  def range(from: K, to: K)(implicit ser: KeySerializer[K]): RDD[(K, V)] = {
    val fromB = ser.toBytes(from)
    val toB = ser.toBytes(to)
    // under a RangePartitioner (see IndexedRDD.rangePartitioned) prune
    // to the partitions whose key interval overlaps [from, to) — ONLY
    // when the serializer's byte order equals the key's natural order
    // (RangePartitioner bounds are natural-order; the row filter below
    // is byte-order; for length-prefixed encodings they disagree and
    // pruning would drop matching rows)
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _])
          if ser.isOrderPreserving =>
        val lo = rp.getPartition(from)
        val hi = rp.getPartition(to)
        org.apache.spark.rdd.PartitionPruningRDD.create(
          partitionsRDD, pid => pid >= math.min(lo, hi) && pid <= math.max(lo, hi))
      case _ => partitionsRDD
    }
    base.mapPartitions(_.flatMap {
      case r: graft.partition.RadixIndexedPartition[K, V] => r.range(from, to)
      case p => p.iterator.filter { case (k, _) =>
        val kb = ser.toBytes(k)
        java.util.Arrays.compareUnsigned(kb, fromB) >= 0 &&
          java.util.Arrays.compareUnsigned(kb, toB) < 0
      }
    })
  }

  /** COUNT of keys in the half-open interval [from, to) without
    * materializing a single value: the same partition pruning and
    * radix range descents as [[range]], but each partition contributes
    * ONE long — no row ships, no value deserializes. The aggregate
    * pushdown ([[graft.sql.IndexedAgg]]) rides this for
    * `SELECT count(*) WHERE key BETWEEN ...`. */
  def rangeCount(from: K, to: K)(implicit ser: KeySerializer[K]): Long = {
    require(ser.isOrderPreserving,
      s"rangeCount decides membership in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val fromB = ser.toBytes(from)
    val toB = ser.toBytes(to)
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _])
          if ser.isOrderPreserving =>
        val lo = rp.getPartition(from)
        val hi = rp.getPartition(to)
        org.apache.spark.rdd.PartitionPruningRDD.create(
          partitionsRDD, pid => pid >= math.min(lo, hi) && pid <= math.max(lo, hi))
      case _ => partitionsRDD
    }
    base.mapPartitions(_.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        val it = r.range(from, to)
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      case p =>
        var n = 0L
        p.iterator.foreach { case (k, _) =>
          val kb = ser.toBytes(k)
          if (java.util.Arrays.compareUnsigned(kb, fromB) >= 0 &&
              java.util.Arrays.compareUnsigned(kb, toB) < 0) n += 1
        }
        n
    }).fold(0L)(_ + _)
  }

  /** (min, max) key inside the half-open interval [from, to) without
    * reading a single value: the same partition pruning as [[range]],
    * then per visited partition one BOUNDED leftmost descent
    * (`firstInRange`) and one bounded rightmost descent
    * (`lastInRange`) — O(depth) each on radix layouts, a keys-only
    * pass elsewhere. The aggregate pushdown rides this for
    * `SELECT min(key), max(key) WHERE key BETWEEN ...`. */
  def rangeExtrema(from: K, to: K)(
      implicit ser: KeySerializer[K]): (Option[K], Option[K]) = {
    require(ser.isOrderPreserving,
      s"rangeExtrema decides membership in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val fromB = ser.toBytes(from)
    val toB = ser.toBytes(to)
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _]) =>
        val lo = rp.getPartition(from)
        val hi = rp.getPartition(to)
        org.apache.spark.rdd.PartitionPruningRDD.create(
          partitionsRDD, pid => pid >= math.min(lo, hi) && pid <= math.max(lo, hi))
      case _ => partitionsRDD
    }
    val perPart = base.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        (r.firstInRange(from, to).map(ser.toBytes),
          r.lastInRange(from, to).map(ser.toBytes))
      case p =>
        var mn: Array[Byte] = null
        var mx: Array[Byte] = null
        p.iterator.foreach { case (k, _) =>
          val kb = ser.toBytes(k)
          if (java.util.Arrays.compareUnsigned(kb, fromB) >= 0 &&
              java.util.Arrays.compareUnsigned(kb, toB) < 0) {
            if (mn == null || java.util.Arrays.compareUnsigned(kb, mn) < 0) mn = kb
            if (mx == null || java.util.Arrays.compareUnsigned(kb, mx) > 0) mx = kb
          }
        }
        (Option(mn), Option(mx))
    }.collect()
    val mn = perPart.flatMap(_._1).reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) < 0) a else b)
    val mx = perPart.flatMap(_._2).reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) > 0) a else b)
    (mn.map(ser.fromBytes), mx.map(ser.fromBytes))
  }

  /** Largest key STRICTLY BELOW `before` (floor of the half-open
    * interval): on radix layouts one bounded rightmost descent per
    * visited partition, and under a RangePartitioner only the partition
    * prefix that can hold keys < `before` is visited — the time-series
    * "as of" key lookup (callers wanting an inclusive floor pass
    * `succ(t)`). One job, no values read, driver combines candidates. */
  def floorKey(before: K)(implicit ser: KeySerializer[K]): Option[K] = {
    require(ser.isOrderPreserving,
      s"floorKey decides order in encoded bytes; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val beforeB = ser.toBytes(before)
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _]) =>
        val hi = rp.getPartition(before)
        org.apache.spark.rdd.PartitionPruningRDD.create(partitionsRDD, _ <= hi)
      case _ => partitionsRDD
    }
    val perPart = base.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        // lastInRange is half-open [from, to): anchor at the partition's
        // own first key (≤ every key it holds)
        r.firstKey.flatMap(fk => r.lastInRange(fk, before)).map(ser.toBytes)
      case p =>
        var best: Array[Byte] = null
        p.iterator.foreach { case (k, _) =>
          val kb = ser.toBytes(k)
          if (java.util.Arrays.compareUnsigned(kb, beforeB) < 0 &&
              (best == null || java.util.Arrays.compareUnsigned(kb, best) > 0))
            best = kb
        }
        Option(best)
    }.collect()
    perPart.flatten.reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a, b) > 0) a else b)
      .map(ser.fromBytes)
  }

  /** [[floorKey]] FUSED with the value fetch: the descent that finds
    * each partition's floor candidate already sits on its entry, so
    * ONE bounded job returns the (key, value) pair — a point-in-time
    * (as-of) read costs a single job instead of floorKey plus a
    * second point probe. Same pruning and byte-order contract as
    * [[floorKey]]. */
  def floorEntry(before: K)(implicit ser: KeySerializer[K]): Option[(K, V)] = {
    require(ser.isOrderPreserving,
      s"floorEntry decides order in encoded bytes; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val beforeB = ser.toBytes(before)
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _]) =>
        val hi = rp.getPartition(before)
        org.apache.spark.rdd.PartitionPruningRDD.create(partitionsRDD, _ <= hi)
      case _ => partitionsRDD
    }
    val perPart = base.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        r.firstKey.flatMap(fk => r.lastInRange(fk, before))
          .flatMap(k => r(k).map(v => (ser.toBytes(k), v)))
      case p =>
        var bestK: Array[Byte] = null
        var bestV: V = null.asInstanceOf[V]
        p.iterator.foreach { case (k, v) =>
          val kb = ser.toBytes(k)
          if (java.util.Arrays.compareUnsigned(kb, beforeB) < 0 &&
              (bestK == null || java.util.Arrays.compareUnsigned(kb, bestK) > 0)) {
            bestK = kb
            bestV = v
          }
        }
        if (bestK == null) None else Some((bestK, bestV))
    }.collect()
    perPart.flatten.reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a._1, b._1) > 0) a else b)
      .map { case (kb, v) => (ser.fromBytes(kb), v) }
  }

  /** [[maxKey]]'s entry twin — one O(depth) rightmost descent per
    * partition, value included. The as-of fallback for a probe at the
    * key domain's maximum. */
  def maxEntry()(implicit ser: KeySerializer[K]): Option[(K, V)] = {
    val perPart = partitionsRDD.map {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        r.lastKey.flatMap(k => r(k).map(v => (ser.toBytes(k), v)))
      case p =>
        var bestK: Array[Byte] = null
        var bestV: V = null.asInstanceOf[V]
        p.iterator.foreach { case (k, v) =>
          val kb = ser.toBytes(k)
          if (bestK == null || java.util.Arrays.compareUnsigned(kb, bestK) > 0) {
            bestK = kb
            bestV = v
          }
        }
        if (bestK == null) None else Some((bestK, bestV))
    }.collect()
    perPart.flatten.reduceOption((a, b) =>
      if (java.util.Arrays.compareUnsigned(a._1, b._1) > 0) a else b)
      .map { case (kb, v) => (ser.fromBytes(kb), v) }
  }

  /** FIRST (asc) or LAST (desc) `n` pairs in natural key order from a
    * RANGE-PARTITIONED index, visiting only the head (or tail)
    * partitions that can hold them: one O(partitions) sizes job picks
    * the minimal partition prefix whose cumulative size covers `n`,
    * then ONE job over just those partitions streams each radix trie in
    * key order (`take(n)` ascending; a ring buffer of the last `n`
    * descending) — O(n + visited partitions) work, never a corpus scan
    * or sort. The 100 TB shape of `ORDER BY key LIMIT n`: read O(n)
    * rows, not the table. Requires an order-preserving serializer (the
    * trie's byte order must BE the key order) and a RangePartitioner
    * (global partition order = key order, so visited partitions
    * concatenate — no merge). */
  def takeOrderedByKey(n: Int, asc: Boolean = true)(
      implicit ser: KeySerializer[K]): Array[(K, V)] = {
    require(ser.isOrderPreserving,
      s"takeOrderedByKey streams tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    require(partitioner.exists(_.isInstanceOf[org.apache.spark.RangePartitioner[_, _]]),
      "takeOrderedByKey requires a range-partitioned index " +
        "(IndexedRDD.rangePartitioned)")
    if (n <= 0) return Array.empty
    val sizes = partitionsRDD.map(_.size).collect()
    val visitOrder = if (asc) sizes.indices else sizes.indices.reverse
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    var acc = 0L
    visitOrder.foreach { pid =>
      if (acc < n && sizes(pid) > 0) { picked += pid; acc += sizes(pid) }
    }
    if (picked.isEmpty) return Array.empty
    val byteOrd: Ordering[(K, V)] = Ordering.fromLessThan((x, y) =>
      java.util.Arrays.compareUnsigned(ser.toBytes(x._1), ser.toBytes(y._1)) < 0)
    val perPart = context.runJob(
      partitionsRDD,
      (it: Iterator[IndexedPartition[K, V]]) =>
        if (!it.hasNext) Array.empty[(K, V)]
        else {
          // radix partitions iterate in key-byte order already; any
          // other layout (possible after hash-path mutations) sorts —
          // bounded by the partition, and only on visited partitions
          val entries = it.next() match {
            case r: graft.partition.RadixIndexedPartition[K, V] => r.iterator
            case p => p.iterator.toArray.sorted(byteOrd).iterator
          }
          if (asc) entries.take(n).toArray
          else {
            val ring = new Array[(K, V)](n)
            var seen = 0L
            entries.foreach { kv => ring((seen % n).toInt) = kv; seen += 1 }
            val m = math.min(seen, n.toLong).toInt
            val start = if (seen <= n) 0 else (seen % n).toInt
            Array.tabulate(m)(j => ring((start + j) % n))
          }
        },
      picked.toIndexedSeq)
    // visited partitions hold disjoint ordered key ranges in pid order:
    // ascending concatenates as-is; descending reverses within and
    // across (perPart already arrived in descending-pid visit order)
    val out = scala.collection.mutable.ArrayBuffer.empty[(K, V)]
    perPart.foreach { arr => out ++= (if (asc) arr else arr.reverse) }
    out.take(n).toArray
  }

  /** [[takeOrderedByKey]] restricted to the half-open key interval
    * `[from, to)` — the KEYSET-PAGINATION primitive (`WHERE key >
    * cursor ORDER BY key LIMIT n`, the only ORDER-BY shape that stays
    * O(page) on a 100 TB table no matter how deep the pagination
    * goes). Partition pruning narrows to the partitions whose key
    * interval overlaps `[from, to)`; those are then visited
    * INCREMENTALLY from the `from` end (the `to` end for `desc`) in
    * doubling batches — each visited partition streams at most `n`
    * in-range rows from one pruned radix range descent, and visited
    * partitions' disjoint ordered ranges concatenate. A page that fits
    * in the first overlapping partition (the common pagination case)
    * costs ONE job touching ONE partition; the worst case is
    * O(log visited) jobs — never a scan, never a sort. */
  def takeOrderedByKeyInRange(from: K, to: K, n: Int, asc: Boolean = true)(
      implicit ser: KeySerializer[K]): Array[(K, V)] = {
    require(ser.isOrderPreserving,
      s"takeOrderedByKeyInRange streams tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    val rp = partitioner match {
      case Some(p: org.apache.spark.RangePartitioner[K @unchecked, _]) => p
      case _ => throw new IllegalArgumentException(
        "takeOrderedByKeyInRange requires a range-partitioned index " +
          "(IndexedRDD.rangePartitioned)")
    }
    if (n <= 0) return Array.empty
    val fromB = ser.toBytes(from)
    val toB = ser.toBytes(to)
    if (java.util.Arrays.compareUnsigned(fromB, toB) >= 0) return Array.empty
    def inRange(kb: Array[Byte]): Boolean =
      java.util.Arrays.compareUnsigned(kb, fromB) >= 0 &&
        java.util.Arrays.compareUnsigned(kb, toB) < 0
    val lo = rp.getPartition(from)
    val hi = rp.getPartition(to)
    val visit = {
      val asc0 = (math.min(lo, hi) to math.max(lo, hi)).toIndexedSeq
      if (asc) asc0 else asc0.reverse
    }
    val byteOrd: Ordering[(K, V)] = Ordering.fromLessThan((x, y) =>
      java.util.Arrays.compareUnsigned(ser.toBytes(x._1), ser.toBytes(y._1)) < 0)
    def fetch(limit: Int) = (it: Iterator[IndexedPartition[K, V]]) =>
      if (!it.hasNext) Array.empty[(K, V)]
      else {
        val entries = it.next() match {
          case r: graft.partition.RadixIndexedPartition[K, V] => r.range(from, to)
          case p => p.iterator.filter { case (k, _) => inRange(ser.toBytes(k)) }
            .toArray.sorted(byteOrd).iterator
        }
        if (asc) entries.take(limit).toArray
        else {
          val ring = new Array[(K, V)](limit)
          var seen = 0L
          entries.foreach { kv => ring((seen % limit).toInt) = kv; seen += 1 }
          val m = math.min(seen, limit.toLong).toInt
          val start = if (seen <= limit) 0 else (seen % limit).toInt
          Array.tabulate(m)(j => ring((start + j) % limit))
        }
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(K, V)]
    var i = 0
    var batch = 1
    while (out.length < n && i < visit.length) {
      val batchPids = visit.slice(i, math.min(i + batch, visit.length))
      val perPart = context.runJob(partitionsRDD, fetch(n - out.length), batchPids)
      perPart.foreach { arr => out ++= (if (asc) arr else arr.reverse) }
      i += batch
      batch *= 4
    }
    out.take(n).toArray
  }

  /** The keys at the given 0-based GLOBAL ranks of the key order —
    * the order-statistic primitive behind exact index-served
    * percentile/median. Under a RangePartitioner with an
    * order-preserving serializer the global key order is (partition
    * order, in-partition trie order), so rank selection needs NO sort
    * and NO shuffle: one O(partitions) sizes job locates each rank's
    * owning partition, then ONE pruned job walks only the owning
    * partitions' tries in order up to the deepest local rank. The
    * 100 TB shape of `median(key)`: read one partition's index, not
    * the table — Catalyst's exact-percentile plan ships EVERY value
    * into a single aggregator. Ranks outside `[0, count)` error. */
  def selectKthByKey(ranks: Array[Long])(
      implicit ser: KeySerializer[K]): Array[K] = {
    require(ser.isOrderPreserving,
      s"selectKthByKey walks tries in encoded-byte order; " +
        s"${ser.getClass.getSimpleName} is not order-preserving")
    require(partitioner.exists(_.isInstanceOf[org.apache.spark.RangePartitioner[_, _]]),
      "selectKthByKey requires a range-partitioned index " +
        "(IndexedRDD.rangePartitioned)")
    if (ranks.isEmpty) return Array.empty[K]
    val sizes = partitionsRDD.map(_.size).collect()
    val total = sizes.sum
    require(ranks.forall(r => r >= 0 && r < total),
      s"ranks must lie in [0, $total)")
    // rank -> (owning pid, local rank) via the running prefix sum
    val sorted = ranks.distinct.sorted
    val byPid = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    var pid = 0
    var prefix = 0L
    sorted.foreach { r =>
      while (prefix + sizes(pid) <= r) { prefix += sizes(pid); pid += 1 }
      byPid.getOrElseUpdate(pid, scala.collection.mutable.ArrayBuffer.empty) += ((r, r - prefix))
    }
    val pids = byPid.keys.toIndexedSeq
    val wantByPid: Map[Int, Array[Long]] =
      pids.map(p => p -> byPid(p).map(_._2).toArray).toMap
    val perPart = context.runJob(
      partitionsRDD,
      (tc: TaskContext, it: Iterator[IndexedPartition[K, V]]) => {
        val want = wantByPid(tc.partitionId())
        val entries = it.next() match {
          case r: graft.partition.RadixIndexedPartition[K, V] => r.iterator
          case p => p.iterator.toArray.sortBy(kv => ser.toBytes(kv._1))(
            Ordering.fromLessThan((a: Array[Byte], b: Array[Byte]) =>
              java.util.Arrays.compareUnsigned(a, b) < 0)).iterator
        }
        // one ordered pass to the deepest requested local rank
        val out = new Array[K](want.length)
        var idx = 0L
        var wi = 0
        while (wi < want.length && entries.hasNext) {
          val (k, _) = entries.next()
          while (wi < want.length && want(wi) == idx) { out(wi) = k; wi += 1 }
          idx += 1
        }
        out
      },
      pids)
    val got: Map[Long, K] = pids.zipWithIndex.flatMap { case (p, i) =>
      byPid(p).map(_._1).zip(perPart(i))
    }.toMap
    ranks.map(got)
  }

  /** MANY half-open key intervals served in ONE pass over the partition
    * set: each partition scans every interval of its local index
    * (O(depth + hits) per interval on radix layouts), instead of k
    * unioned [[range]] RDDs costing k passes. Intervals must be
    * DISJOINT — overlapping intervals would emit a row once per
    * covering interval. Under a RangePartitioner (order-preserving
    * serializer) prunes to partitions overlapping any interval.
    * Requires an ORDER-PRESERVING serializer: interval membership is
    * decided in encoded-byte order (trie descents and the fallback
    * filter alike), so a length-prefixed encoding would silently remap
    * the caller's natural-order interval to a different key set. */
  def multiRange(intervals: Seq[(K, K)])(implicit ser: KeySerializer[K]): RDD[(K, V)] = {
    require(ser.isOrderPreserving,
      s"multiRange needs an order-preserving serializer (byte order == key " +
        s"order); ${ser.getClass.getSimpleName} is not")
    val ivs = intervals.toArray
    if (ivs.isEmpty) return sparkContext.emptyRDD[(K, V)]
    val base = partitioner match {
      case Some(rp: org.apache.spark.RangePartitioner[K @unchecked, _])
          if ser.isOrderPreserving =>
        val wanted = ivs.iterator.flatMap { case (f, t) =>
          val lo = rp.getPartition(f)
          val hi = rp.getPartition(t)
          math.min(lo, hi) to math.max(lo, hi)
        }.toSet
        org.apache.spark.rdd.PartitionPruningRDD.create(partitionsRDD, wanted.contains)
      case _ => partitionsRDD
    }
    val bytePairs = ivs.map { case (f, t) => (ser.toBytes(f), ser.toBytes(t)) }
    base.mapPartitions(_.flatMap {
      case r: graft.partition.RadixIndexedPartition[K, V] =>
        ivs.iterator.flatMap { case (f, t) => r.range(f, t) }
      case p => p.iterator.filter { case (k, _) =>
        val kb = ser.toBytes(k)
        bytePairs.exists { case (fb, tb) =>
          java.util.Arrays.compareUnsigned(kb, fb) >= 0 &&
            java.util.Arrays.compareUnsigned(kb, tb) < 0
        }
      }
    })
  }

  // ---------------------------------------------------------------------
  // Plumbing
  // ---------------------------------------------------------------------

  private def mapIndexedPartitions[K2: ClassTag, V2: ClassTag](
      f: IndexedPartition[K, V] => IndexedPartition[K2, V2]): IndexedRDD[K2, V2] =
    new IndexedRDD(partitionsRDD.mapPartitions(
      iter => if (iter.hasNext) Iterator(f(iter.next())) else Iterator.empty,
      preservesPartitioning = true))

  /** Narrow zip of two co-partitioned IndexedRDDs — zero shuffle
    * (reference zipIndexedRDDPartitions, IndexedRDD.scala:185-190). */
  private def zipIndexed[V2: ClassTag, V3: ClassTag](other: IndexedRDD[K, V2])(
      f: (IndexedPartition[K, V], IndexedPartition[K, V2]) => IndexedPartition[K, V3]): IndexedRDD[K, V3] = {
    require(partitioner == other.partitioner, "mismatched partitioners")
    new IndexedRDD(partitionsRDD.zipPartitions(other.partitionsRDD,
      preservesPartitioning = true) { (thisIter, otherIter) =>
      if (thisIter.hasNext && otherIter.hasNext)
        Iterator(f(thisIter.next(), otherIter.next()))
      else Iterator.empty
    })
  }

  /** Zip with an arbitrary pair RDD: shuffles ONLY `other` into this
    * index's partitioning, never the indexed base (reference
    * zipPartitionsWithOther, IndexedRDD.scala:193-198). */
  private def zipWithOther[U: ClassTag, V3: ClassTag](other: RDD[(K, U)])(
      f: (IndexedPartition[K, V], Iterator[(K, U)]) => IndexedPartition[K, V3]): IndexedRDD[K, V3] = {
    val partitioned =
      if (other.partitioner == partitioner) other
      else other.partitionBy(partitioner.get)
    new IndexedRDD(partitionsRDD.zipPartitions(partitioned,
      preservesPartitioning = true) { (thisIter, otherIter) =>
      if (thisIter.hasNext) Iterator(f(thisIter.next(), otherIter)) else Iterator.empty
    })
  }
}

object IndexedRDD {

  /** Build from a pair RDD; on duplicate keys the last write wins.
    * Hash-partitions the input unless it already has a partitioner
    * (reference IndexedRDD.scala:461-486). */
  def apply[K: ClassTag: KeySerializer, V: ClassTag](
      elems: RDD[(K, V)]): IndexedRDD[K, V] =
    updatable[K, V, V](elems, (_, v) => v, (_, _, v) => v)

  /** Build with explicit duplicate-key resolution: `z` projects the
    * first occurrence, `f` folds collisions. */
  def updatable[K: ClassTag: KeySerializer, U: ClassTag, V: ClassTag](
      elems: RDD[(K, U)], z: (K, U) => V, f: (K, V, U) => V): IndexedRDD[K, V] = {
    val partitioned = elems.partitioner match {
      case Some(_) => elems
      case None => elems.partitionBy(new HashPartitioner(elems.partitions.length))
    }
    val parts = partitioned.mapPartitions(
      iter => Iterator(HashIndexedPartition(iter, z, f): IndexedPartition[K, V]),
      preservesPartitioning = true)
    new IndexedRDD(parts)
  }

  /** Build with an explicit target partition count (use at scale to
    * decouple index parallelism from source-scan parallelism). */
  def build[K: ClassTag: KeySerializer, V: ClassTag](
      elems: RDD[(K, V)], numPartitions: Int): IndexedRDD[K, V] =
    apply(elems.partitionBy(new HashPartitioner(numPartitions)))

  /** Build RANGE-partitioned ordered indexes: keys are globally sorted
    * across partitions (sampling shuffle via [[RangePartitioner]]), so
    * [[IndexedRDD.range]] prunes to only the partitions whose interval
    * overlaps the query — O(range), not O(partitions). The layout of
    * choice for range-heavy workloads at scale. */
  def rangePartitioned[K: ClassTag: KeySerializer: Ordering, V: ClassTag](
      elems: RDD[(K, V)], numPartitions: Int): IndexedRDD[K, V] =
    ordered(elems.partitionBy(
      new org.apache.spark.RangePartitioner(numPartitions, elems)))

  /** Z-CURVE partitioner over a two-long composite key (the layout
    * behind `OPTIMIZE ... ZORDER BY` on two Long-coded key columns;
    * keys are `Seq(a, b)`): routes a key by binary-searching its Morton
    * interleave against sampled z bounds, so partitions hold
    * z-CONTIGUOUS key sets — each one covering a tight 2-D box of the
    * key space, which is exactly what makes per-partition min/max zone
    * maps on BOTH dimensions prune 2-D box queries. Routing is a pure
    * deterministic function of the key (any key routes, clustered or
    * not), so multiget pruning, one-sided COW shuffles, and IO
    * round-trips work unchanged; it is NOT a RangePartitioner, so every
    * natural-order interval-descent path correctly declines to claim
    * pushed ranges and falls back to the zone-pruned scan. `swapped`
    * says the SECOND key column leads the interleave (ZORDER BY named
    * the columns in reverse key order). */
  class MortonPartitioner(val bounds: Array[Long], val bits: Int,
      val swapped: Boolean) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = bounds.length + 1
    private def interleave(a: Long, b: Long): Long =
      if (swapped) graft.operators.ZOrder.interleave(b, a, bits)
      else graft.operators.ZOrder.interleave(a, b, bits)
    private[graft] def zOf(key: Any): Long = key match {
      case Seq(a: Long, b: Long) => interleave(a, b)
      case other => throw new IllegalArgumentException(
        s"MortonPartitioner routes Seq(Long, Long) composite keys, got " +
          s"${if (other == null) "null" else other.getClass.getName}")
    }
    override def getPartition(key: Any): Int = {
      val z = zOf(key)
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (bounds(m) <= z) lo = m + 1 else hi = m
      }
      lo
    }
    override def equals(other: Any): Boolean = other match {
      case m: MortonPartitioner => m.bits == bits && m.swapped == swapped &&
        java.util.Arrays.equals(m.bounds, bounds)
      case _ => false
    }
    override def hashCode: Int =
      31 * java.util.Arrays.hashCode(bounds) + bits
  }

  /** RANK-SPACE z-curve partitioner — the N-dimensional, any-ordered-
    * component generalization of [[MortonPartitioner]] (which needs
    * exactly two Long components). Each key component maps to its
    * EQUAL-DEPTH bucket rank (binary search against per-dimension
    * quantile edges frozen at OPTIMIZE time — Delta's rank-space
    * z-ordering, same idea as [[graft.sql.ZProjection]]'s cells, so
    * skew in any dimension cannot collapse the curve), the ranks
    * interleave bitwise into one z value, and the z value binary-
    * searches sampled bounds. Routing stays a PURE DETERMINISTIC
    * function of the key (the edges are data-derived but FROZEN in the
    * partitioner): point routing, one-sided COW shuffles, and IO
    * round-trips (the partitioner serializes with the save) all work
    * unchanged. Not a RangePartitioner — natural-order interval
    * descents decline, and N-dim box queries prune through the
    * per-partition zone maps the z-contiguous layout makes tight.
    *
    * `edges(d)` are z-DIMENSION `d`'s sorted bucket edges (component
    * values, at most 255 — 256 buckets/dim at 8 bits); `ords(d)`
    * orders that component (the key codec's ordering — serializable);
    * `perm(d)` is the KEY-COMPONENT index z-dimension `d` reads
    * (ZORDER BY may name the key columns in any order). Keys are the
    * Seq[Any] tuples of composite handles. */
  class RankZPartitioner(val edges: Array[Array[Any]],
      val ords: Array[Ordering[Any]], val perm: Array[Int],
      val bounds: Array[Long])
      extends org.apache.spark.Partitioner {
    require(edges.length == ords.length && edges.length == perm.length &&
      edges.length >= 1, "one edge array + ordering + index per dimension")
    override def numPartitions: Int = bounds.length + 1
    private def rankOf(v: Any, d: Int): Long = {
      val es = edges(d)
      val ord = ords(d)
      var lo = 0
      var hi = es.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (ord.lteq(es(m), v)) lo = m + 1 else hi = m
      }
      lo.toLong
    }
    private[graft] def zOf(key: Any): Long = {
      val n = edges.length
      val s = key match {
        case s: Seq[_] => s.toIndexedSeq
        case other => throw new IllegalArgumentException(
          s"RankZPartitioner routes Seq[Any] composite keys, got " +
            s"${if (other == null) "null" else other.getClass.getName}")
      }
      require(s.length == n, s"key arity ${s.length} != $n dims")
      val ranks = Array.tabulate(n)(d => rankOf(s(perm(d)), d))
      // 8 bits per dimension (<= 255 edges); dim 0 takes the HIGH
      // lane of each bit group so ZORDER BY's first column leads
      var z = 0L
      var bit = 0
      while (bit < 8) {
        var d = 0
        while (d < n) {
          z |= ((ranks(d) >> bit) & 1L) << (bit * n + (n - 1 - d))
          d += 1
        }
        bit += 1
      }
      z
    }
    override def getPartition(key: Any): Int = {
      val z = zOf(key)
      var lo = 0
      var hi = bounds.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (bounds(m) <= z) lo = m + 1 else hi = m
      }
      lo
    }
    override def equals(other: Any): Boolean = other match {
      case r: RankZPartitioner =>
        r.edges.length == edges.length &&
          java.util.Arrays.equals(r.bounds, bounds) &&
          java.util.Arrays.equals(r.perm, perm) &&
          r.edges.indices.forall(d =>
            r.edges(d).toSeq == edges(d).toSeq)
      case _ => false
    }
    override def hashCode: Int =
      31 * java.util.Arrays.hashCode(bounds) + edges.length
  }

  /** Two-level hash partitioner — the OVERSIZED-PARTITION guard
    * (SURVEY §7.5 risk 6): base buckets that [[skewAware]]'s count
    * pass found too large split into `splits(b)` sub-partitions by an
    * independent second hash (byteswap32 — decorrelated from
    * `hashCode % n`, which is what overloads a bucket when keys share
    * a stride, e.g. ids that are all ≡ 0 mod the partition count).
    * Routing stays a pure function of the key, so every downstream
    * consumer — multiget pruning, one-sided COW shuffles, zip joins
    * against `partitionBy(this)` sides, IO round-trips (the
    * partitioner is serialized with the save) — works unchanged. */
  class SplitPartitioner(val baseParts: Int, val splits: Array[Int])
      extends org.apache.spark.Partitioner {
    require(splits.length == baseParts)
    private val offsets: Array[Int] = splits.scanLeft(0)(_ + _)
    override def numPartitions: Int = offsets(baseParts)
    private def mod(x: Int, m: Int): Int = { val r = x % m; if (r < 0) r + m else r }
    override def getPartition(key: Any): Int = {
      // null hashes as 0 — mirrors HashPartitioner (which this replaces
      // transparently in the skew-aware build and must route the same
      // records), whose nonNegativeMod(null) path lands in partition 0
      val h = if (key == null) 0 else key.hashCode
      val b = mod(h, baseParts)
      val k = splits(b)
      if (k == 1) offsets(b)
      else offsets(b) + mod(scala.util.hashing.byteswap32(h), k)
    }
    override def equals(other: Any): Boolean = other match {
      case s: SplitPartitioner =>
        s.baseParts == baseParts && java.util.Arrays.equals(s.splits, splits)
      case _ => false
    }
    override def hashCode(): Int =
      31 * baseParts + java.util.Arrays.hashCode(splits)
  }

  /** Hash build that CANNOT produce an executor-crushing partition: an
    * O(buckets)-state key-counting pass sizes every base bucket first,
    * and any bucket over `maxRowsPerPartition` splits into enough
    * sub-partitions (via [[SplitPartitioner]]) to respect the cap in
    * expectation. A skewed 100 TB key distribution — ids sharing a
    * stride, a generator that clusters hash codes — then costs extra
    * partitions instead of an OOM. The counting pass reads only keys
    * (values never move) and shuffles O(buckets) longs; a build with
    * no oversized bucket takes the ordinary single-level layout. */
  def skewAware[K: ClassTag: KeySerializer, V: ClassTag](
      elems: RDD[(K, V)], numPartitions: Int,
      maxRowsPerPartition: Long): IndexedRDD[K, V] = {
    require(numPartitions > 0 && maxRowsPerPartition > 0)
    val base = new HashPartitioner(numPartitions)
    val counts = elems.mapPartitions { it =>
      val a = new Array[Long](numPartitions)
      it.foreach { case (k, _) => a(base.getPartition(k)) += 1 }
      Iterator.single(a)
    }.fold(new Array[Long](numPartitions)) { (x, y) =>
      var i = 0; while (i < numPartitions) { x(i) += y(i); i += 1 }; x
    }
    val splits = counts.map(c =>
      math.max(1L, (c + maxRowsPerPartition - 1) / maxRowsPerPartition).toInt)
    if (splits.forall(_ == 1)) apply(elems.partitionBy(base))
    else apply(elems.partitionBy(new SplitPartitioner(numPartitions, splits)))
  }

  /** Build with ORDERED per-partition indexes (persistent radix tree
    * over serialized keys): same operator surface plus pruned
    * [[IndexedRDD.range]] scans; point probes cost O(key length). */
  def ordered[K: ClassTag: KeySerializer, V: ClassTag](
      elems: RDD[(K, V)]): IndexedRDD[K, V] = {
    val partitioned = elems.partitioner match {
      case Some(_) => elems
      case None => elems.partitionBy(new HashPartitioner(elems.partitions.length))
    }
    val parts = partitioned.mapPartitions(
      iter => Iterator(graft.partition.RadixIndexedPartition(iter): IndexedPartition[K, V]),
      preservesPartitioning = true)
    new IndexedRDD(parts)
  }
}

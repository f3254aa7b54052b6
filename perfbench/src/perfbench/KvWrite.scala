package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.HashPartitioner

import graft.IndexedRDD
import graft.keys.KeySerializer.LongSerializer

/** Copy-on-write batches on the default hash (HAMT) index, each read
  * back by point gets, with periodic compaction, against a driver-side
  * model that receives the same writes. `m` is the base entry count. */
final class KvWrite(c: Ctx, val m: Int) extends Workload(c) {
  val parts = 8
  val updates: Int = if (args.smoke) 70 else 700
  val inserts: Int = if (args.smoke) 30 else 300
  val deletes: Int = if (args.smoke) 20 else 200
  val readsPerBatch = 8
  val compactEvery = 6
  override def partitionRows: Int = m / parts
  // the read-back gets, 160 a run, are the steady per-op figure (their
  // median moved 5% between runs, the write batches' 23%); the batches
  // make most of the timed phase, so a slower write shows in ops_per_s
  override def headline = "rdd.get"

  private val model = mutable.LongMap.empty[Long]
  private val live = mutable.ArrayBuffer.empty[Long]  // model keys, for uniform draws
  private val livePos = mutable.LongMap.empty[Int]
  private var nextKey = 0L
  private var version = 0
  private var cur: IndexedRDD[Long, Long] = _
  private var held: IndexedRDD[Long, Long] = _
  private var heldExpect: Seq[(Long, Option[Long])] = Nil
  private val versionBytes = mutable.ArrayBuffer.empty[Long]

  private def v0(k: Long): Long = Gen.mix2(k, seed)

  private def put(k: Long, v: Long): Unit = {
    if (!model.contains(k)) { livePos(k) = live.size; live += k }
    model(k) = v
  }
  private def remove(k: Long): Unit = {
    val p = livePos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(p) = last; livePos(last) = p }
    model.remove(k)
  }

  override def setup(): Unit = {
    val s = seed
    val base = ctx.sc.range(0, m, 1, parts).map(k => (k, Gen.mix2(k, s)))
      .partitionBy(new HashPartitioner(parts))
    cur = IndexedRDD(base).setName("kv_write_v0").cached
    ctx.check(cur.count() == m, "kv_write: base entry count")
    (0L until m).foreach(k => put(k, v0(k)))
    nextKey = m
  }

  private def release(old: IndexedRDD[Long, Long]): Unit =
    if (old ne held) old.unpersist(blocking = false)

  /** One step: a batch of updates, inserts and deletes, then gets. */
  private def step(r: SplittableRandom): Unit = {
    version += 1
    val b = version
    val kvs = mutable.LinkedHashMap.empty[Long, Long]
    while (kvs.size < updates) {
      val k = live(r.nextInt(live.size))
      kvs(k) = Gen.mix2(k, seed ^ b)
    }
    (0 until inserts).foreach { _ => kvs(nextKey) = Gen.mix2(nextKey, seed ^ b); nextKey += 1 }
    val dels = mutable.LinkedHashSet.empty[Long]
    while (dels.size < deletes) {
      val k = live(r.nextInt(live.size))
      if (!kvs.contains(k)) dels += k
    }
    val puts = kvs.toMap
    val delArr = dels.toArray
    ctx.op("rdd.write") {
      val next = cur.multiput(puts).delete(delArr).setName(s"kv_write_v$b").cached
      next.count()
      next
    } match {
      case Some(next) =>
        if (ctx.tracer.enabled) versionBytes += storageBytes(s"kv_write_v$b")
        release(cur)
        cur = next
        kvs.foreach { case (k, v) => put(k, v) }
        dels.foreach(remove)
      case None => return
    }
    val written = kvs.keys.toArray
    val probes = Seq.fill(readsPerBatch / 2)(written(r.nextInt(written.length))) ++
      Seq.fill(readsPerBatch / 4)(delArr(r.nextInt(delArr.length))) ++
      Seq.fill(readsPerBatch - readsPerBatch / 2 - readsPerBatch / 4)(live(r.nextInt(live.size)))
    probes.foreach { k =>
      ctx.op("rdd.get")(cur.get(k)).foreach(res =>
        ctx.check(Checks.modelGet(model, k, res), s"kv_write get $k after batch $b"))
    }
    if (b == 2) holdSnapshot(r, written)
    if (b % compactEvery == 0) compact()
  }

  private def compact(): Unit =
    ctx.op("rdd.compact")(cur.compacted().setName(s"kv_write_v$version")).foreach { next =>
      release(cur)
      cur = next
    }

  /** Keep this version cached and remember what it must keep showing. */
  private def holdSnapshot(r: SplittableRandom, written: Array[Long]): Unit = {
    held = cur
    val ks = Seq.fill(32)(written(r.nextInt(written.length))) ++
      Seq.fill(32)(live(r.nextInt(live.size))) ++ Seq(nextKey, nextKey + 1)
    heldExpect = ks.distinct.map(k => (k, model.get(k)))
  }

  override def warmup(): Unit = {
    val r = new SplittableRandom(seed ^ 0x3A3A)
    (1 to (if (args.smoke) 2 else 14)).foreach(_ => step(r))
    compact()
  }

  override def run(): Unit = {
    val r = new SplittableRandom(seed)
    (1 to rounds(2.5)).foreach(_ => step(r))
  }

  /** The write path alone, for the per-layer metrics of a traced run
    * of another workload: three steps of warm-up, then one compaction
    * period of steps in the "probe" phase. */
  def probe(): Unit = {
    val r = new SplittableRandom(seed ^ 0x9B0B)
    ctx.phase = "probe-warmup"
    (1 to 3).foreach(_ => step(r))
    ctx.phase = "probe"
    (1 to compactEvery).foreach(_ => step(r))
  }

  private def checksum(idx: IndexedRDD[Long, Long]): Long =
    idx.mapPartitions(it => Iterator.single(Checks.checksum(it))).fold(0L)(_ + _)

  override def finish(): Unit = {
    val want = Checks.checksum(model.iterator)
    ctx.check(cur.count() == model.size, s"kv_write count ${cur.count()} != ${model.size}")
    ctx.check(checksum(cur) == want, "kv_write checksum of the live version")
    ctx.check(held != null, "kv_write held a snapshot")
    if (held != null) {
      val got = held.multiget(heldExpect.map(_._1).toArray)
      heldExpect.foreach { case (k, v) =>
        ctx.check(got.get(k) == v, s"kv_write held snapshot key $k")
      }
    }
    ctx.check(checksum(cur.compacted()) == want, "kv_write checksum after compaction")
  }

  override def bytesPerRow: Double = storageBytes(s"kv_write_v$version").toDouble / model.size

  override def details: Map[String, Double] = Map(
    "get_p50_ms" -> ctx.p50("rdd.get"),
    "write_batch_p50_ms" -> ctx.p50("rdd.write"),
    "compact_p50_ms" -> ctx.p50("rdd.compact"))

  override def traced: Map[String, Double] = Map(
    "rdd.write.cached_mb_per_version" ->
      (if (versionBytes.isEmpty) 0.0 else versionBytes.sum / versionBytes.size / 1048576.0),
    "rdd.read.lineage_depth" -> cur.lineageDepth.toDouble)
}

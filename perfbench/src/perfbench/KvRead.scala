package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.keys.KeySerializer.LongSerializer
import graft.sql.IndexedFrame

/** The kv_read key space in closed form: entry i has key
  * `i * Stride + off(i)` and value `value(key)`; `i * Stride +
  * (off(i) + 1) % Stride` is guaranteed absent. */
final case class KvSpace(seed: Long, n: Long) {
  val Stride = 4
  def off(i: Long): Int = Gen.below(Gen.mix2(seed, i), Stride)
  def key(i: Long): Long = i * Stride + off(i)
  def absent(i: Long): Long = i * Stride + (off(i) + 1) % Stride
  def value(k: Long): Long = Gen.mix2(k, seed ^ 0x5EED)
  /** The expected value of any probed key. */
  def lookup(k: Long): Option[Long] = {
    val i = Math.floorDiv(k, Stride.toLong)
    if (i >= 0 && i < n && key(i) == k) Some(value(k)) else None
  }
}

/** Read-only serving on one ordered (radix, range-partitioned) index,
  * through the IndexedRDD job path and SQL on an indexed view of the
  * same rows. */
final class KvRead(c: Ctx) extends Workload(c) {
  val n: Int = if (args.smoke) 20000 else 200000
  val parts = 8
  val space = KvSpace(seed, n)
  val batch = 64      // multiget keys
  val width = 48      // range entries
  val absentShare = 10 // percent of probed keys that are absent
  override def partitionRows: Int = n / parts
  override def headline = "rdd.get"

  private var h: IndexedFrame.Handle[Long] = _
  private var vIdx = 1

  override def setup(): Unit = {
    val sp = space
    val rows = ctx.sc.range(0, n, 1, parts).map(i => Row(sp.key(i), sp.value(sp.key(i))))
    val df = spark.createDataFrame(rows,
      StructType(Seq(StructField("k", LongType, false), StructField("v", LongType, false))))
    h = IndexedFrame.indexRangePartitioned(df, "k", parts)
    h.idx.setName("kv_read")
    vIdx = h.schema.fieldIndex("v")
    ctx.check(h.idx.count() == n, "kv_read: index entry count")
    h.toDF(spark).createOrReplaceTempView("kv")
  }

  private def probeKey(r: SplittableRandom): Long = {
    val i = r.nextLong(n.toLong)
    if (r.nextInt(100) < absentShare) space.absent(i) else space.key(i)
  }

  /** One round: six gets, two multigets, two ranges, one SQL point
    * select. Every fourth SQL key repeats one of the three before it,
    * so the primary-key probe memo hits a fixed number of times. */
  private def round(r: SplittableRandom, sqlKeys: mutable.ArrayBuffer[Long]): Unit =
    Seq('g', 'm', 'g', 'r', 'g', 's', 'g', 'm', 'g', 'r', 'g').foreach {
      case 'g' =>
        val k = probeKey(r)
        ctx.op("rdd.get")(h.idx.get(k)).foreach(res =>
          ctx.check(Checks.kvGet(space, k, res.map(_.getLong(vIdx))), s"kv_read get $k"))
      case 'm' =>
        val ks = Array.fill(batch)(probeKey(r))
        ctx.op("rdd.multiget")(h.idx.multiget(ks)).foreach(res =>
          ctx.check(Checks.kvMultiget(space, ks.toSeq, res.map { case (k, row) => k -> row.getLong(vIdx) }),
            s"kv_read multiget of ${ks.length} keys"))
      case 'r' =>
        val i0 = r.nextLong(n.toLong - width)
        val (from, to) = (space.key(i0), space.key(i0 + width))
        val vi = vIdx
        ctx.op("rdd.range")(h.idx.range(from, to).map { case (k, row) => (k, row.getLong(vi)) }
          .collect()).foreach(res =>
          ctx.check(Checks.kvRange(space, i0, width, res.toSeq), s"kv_read range [$from, $to)"))
      case 's' =>
        val j = sqlKeys.size
        val k = if (j % 4 == 3) sqlKeys(j - 1 - r.nextInt(3)) else probeKey(r)
        sqlKeys += k
        ctx.op("sql.point")(ctx.sql(s"SELECT k, v FROM kv WHERE k = $k")).foreach {
          case (res, _) =>
            ctx.check(res.length <= 1 && Checks.kvGet(space, k, res.headOption.map(_.getLong(1))),
              s"kv_read sql $k")
        }
    }

  override def warmup(): Unit = {
    val r = new SplittableRandom(seed ^ 0x3A3A)
    val keys = mutable.ArrayBuffer.empty[Long]
    (1 to (if (args.smoke) 1 else 48)).foreach(_ => round(r, keys))
  }

  override def run(): Unit = {
    val r = new SplittableRandom(seed)
    val keys = mutable.ArrayBuffer.empty[Long]
    (1 to rounds(6.0)).foreach(_ => round(r, keys))
  }

  override def finish(): Unit = ()

  override def bytesPerRow: Double = storageBytes("kv_read").toDouble / n

  override def details: Map[String, Double] = Map(
    "get_p50_ms" -> ctx.p50("rdd.get"),
    "multiget_p50_ms" -> ctx.p50("rdd.multiget"),
    "range_p50_ms" -> ctx.p50("rdd.range"),
    "sql_point_p50_ms" -> ctx.p50("sql.point"),
    "cache_bytes_per_entry" -> bytesPerRow)

  override def traced: Map[String, Double] =
    Map("rdd.read.lineage_depth" -> h.idx.lineageDepth.toDouble)
}

package perfbench

import java.util.SplittableRandom

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}

import graft.keys.KeySerializer
import graft.partition.{HashIndexedPartition, IndexedPartition, RadixIndexedPartition}
import graft.pipeline.Dedup

/** Single-thread probes of the partition, keys and functions layers,
  * timed from outside around their public calls. Each figure is the
  * median of several repetitions after one untimed call. */
object Probes {
  private val Reps = 5

  private def medianNs(body: => Unit): Double = {
    body
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })
  }

  private var sink = 0L // keeps results alive past the JIT

  /** Partition kernels on a partition of `n` entries of each flavour. */
  def partition(n: Int, seed: Long): Map[String, Double] = {
    implicit val ks: KeySerializer[Long] = KeySerializer.LongSerializer
    val r = new SplittableRandom(seed ^ 0x9A97)
    val keys = Array.fill(n)(r.nextLong())
    val entries = keys.map(k => (k, Gen.mix(k)))
    val probes = Array.fill(10000)(keys(r.nextInt(n)))
    val batch = Array.tabulate(1000)(i => if (i % 2 == 0) (keys(r.nextInt(n)), 1L) else (r.nextLong(), 2L))
    val ser = SparkEnv.get.serializer.newInstance()

    def common(flavour: String, build: => IndexedPartition[Long, Long]): Map[String, Double] = {
      val p = build
      val bytes = ser.serialize(p)
      val len = bytes.remaining()
      Map(
        s"partition.$flavour.build_ns_per_entry" -> medianNs { sink += build.size } / n,
        s"partition.$flavour.get_ns" -> medianNs {
          probes.foreach(k => sink += p(k).getOrElse(0L))
        } / probes.length,
        s"partition.$flavour.put_ns" -> medianNs {
          sink += p.multiput[Long](batch.iterator, (_, v) => v, (_, _, v) => v).size
        } / batch.length,
        s"partition.$flavour.iterate_ns_per_entry" -> medianNs {
          p.iterator.foreach(kv => sink += kv._2)
        } / n,
        s"partition.$flavour.ser_ns_per_entry" -> medianNs { sink += ser.serialize(p).remaining() } / n,
        s"partition.$flavour.deser_ns_per_entry" -> medianNs {
          sink += ser.deserialize[IndexedPartition[Long, Long]](bytes.duplicate()).size
        } / n,
        s"partition.$flavour.ser_bytes_per_entry" -> len.toDouble / n)
    }

    val radix = RadixIndexedPartition(entries.iterator)
    val sorted = keys.sorted
    val (from, to) = (sorted(n / 2), sorted(math.min(n - 1, n / 2 + n / 10)))
    val inRange = radix.range(from, to).size
    common("radix", RadixIndexedPartition(entries.iterator)) ++
      common("hash", HashIndexedPartition(entries.iterator)) ++ Map(
        "partition.radix.range_ns_per_entry" -> medianNs {
          radix.range(from, to).foreach(kv => sink += kv._2)
        } / math.max(1, inRange),
        "partition.radix.compact_ns_per_entry" -> medianNs { sink += radix.compacted.size } / n)
  }

  /** Key encodings: ns per `toBytes` call. */
  def keys(seed: Long): Map[String, Double] = {
    val r = new SplittableRandom(seed ^ 0x4E75)
    val longs = Array.fill(200000)(r.nextLong())
    val strings = Array.fill(200000)(java.lang.Long.toString(r.nextLong() & Long.MaxValue, 36))
    def per[K](ser: KeySerializer[K], xs: Array[K]): Double =
      medianNs(xs.foreach(x => sink += ser.toBytes(x).length)) / xs.length
    Map("keys.long_encode_ns" -> per(KeySerializer.LongSerializer, longs),
      "keys.string_encode_ns" -> per(KeySerializer.StringSerializer, strings))
  }

  /** MinHash signatures alone over a cached corpus: the time of a job
    * computing them, minus the same job without them, per document.
    * The corpus is read `copies` times so the signatures dominate. */
  def signatures(spark: SparkSession, corpus: DataFrame, docs: Long): Map[String, Double] = {
    val copies = 10
    val rep = corpus.crossJoin(spark.range(copies))
    def job(withSig: Boolean): Double = medianNs {
      val df = if (withSig) rep.select(size(Dedup.minhashSignature(col("text"))).as("n"))
               else rep.select(size(org.apache.spark.sql.functions.split(col("text"), " ")).as("n"))
      sink += df.agg(sum(col("n"))).head().getLong(0)
    }
    val withSig = job(true)
    val without = job(false)
    Map("functions.signature_ns_per_doc" -> math.max(0.0, withSig - without) / (docs * copies))
  }
}

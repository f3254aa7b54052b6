package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Dedup

/** A generated corpus with planted near-duplicate chains. Words are
  * lowercase letters, so tokenization is unambiguous. */
final case class Corpus(seed: Long, docs: Int) {
  val vocab = 4000
  val chainShare = 12 // percent of docs that root a planted chain
  def word(w: Int): String = {
    var h = Gen.mix2(w, 0x77)
    val sb = new StringBuilder
    (0 until 3 + Gen.below(h, 6)).foreach { _ => sb += ('a' + Gen.below(h >>> 5, 26)).toChar; h = Gen.mix(h) }
    sb.toString
  }

  /** (documents by id, planted near-duplicate pairs (parent, child)). */
  def generate(): (Array[String], Seq[(Long, Long)]) = {
    val r = new SplittableRandom(seed ^ 0xD0C)
    val words = (0 until vocab).map(word).toArray
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val planted = mutable.ArrayBuffer.empty[(Int, Int)]
    def mutate(t: Array[String]): Array[String] = {
      val out = t.clone()
      (0 until 2).foreach(_ => out(r.nextInt(out.length)) = words(r.nextInt(vocab)))
      out
    }
    while (texts.size < docs) {
      val t = Array.fill(40 + r.nextInt(40))(words(r.nextInt(vocab)))
      val root = texts.size
      texts += t
      if (r.nextInt(100) < chainShare) {
        // a chain root -> c1 -> c2 (-> c3): clusters of up to four
        var parent = root
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          if (texts.size < docs) {
            texts += mutate(texts(parent))
            planted += ((parent, texts.size - 1))
            parent = texts.size - 1
          }
        }
      }
    }
    // ids are a seeded permutation, so keepers are not simply the roots
    val ids = Array.range(0, docs)
    (docs - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val byId = new Array[String](docs)
    texts.indices.foreach(i => byId(ids(i)) = texts(i).mkString(" "))
    (byId, planted.map { case (a, b) => (ids(a).toLong, ids(b).toLong) }.toSeq)
  }
}

/** `Dedup.minhashPairs` then `resolveClusters`, repeated over a cached
  * corpus of `docs` documents. Touches `graft.functions` and
  * `graft.pipeline`, never the index. */
final class DedupBatch(c: Ctx, val docs: Int) extends Workload(c) {
  val threshold = 0.5
  /** Reported pairs must have an exact shingle Jaccard of at least this. */
  val floor = 0.3
  /** Share of planted pairs that must be reported. */
  val recall = 0.9
  override def partitionRows: Int = docs
  override def headline = "pipeline.dedup"

  private var texts: Array[String] = _
  private var planted: Seq[(Long, Long)] = Nil
  private var corpus: DataFrame = _
  private var lastPairs: Seq[(Long, Long)] = Nil
  private var pairsMs = mutable.ArrayBuffer.empty[Double]
  private var clustersMs = mutable.ArrayBuffer.empty[Double]

  override def setup(): Unit = {
    val (t, p) = Corpus(seed, docs).generate()
    texts = t; planted = p
    val rows = ctx.sc.parallelize(t.indices.map(i => Row(i.toLong, t(i))), 8)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, false), StructField("text", StringType, false))))
      .createOrReplaceTempView("pb_corpus")
    spark.catalog.cacheTable("pb_corpus", StorageLevel.MEMORY_ONLY)
    corpus = spark.table("pb_corpus")
    ctx.check(corpus.count() == docs, "dedup_batch: corpus count")
  }

  /** One repetition: pairs, then clusters, each collected. */
  private def rep(verify: Boolean): Unit = {
    ctx.op("pipeline.dedup") {
      val t0 = System.nanoTime()
      val pairsDf = Dedup.minhashPairs(corpus, "id", "text", threshold = threshold)
      val pairs = pairsDf.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val t1 = System.nanoTime()
      val clusters = Dedup.resolveClusters(pairsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val t2 = System.nanoTime()
      Dedup.releasePinned()
      if (ctx.phase == "timed" || ctx.phase == "probe") {
        pairsMs += (t1 - t0) / 1e6; clustersMs += (t2 - t1) / 1e6
      }
      (pairs, clusters)
    }.foreach { case (pairs, clusters) =>
      if (verify) Checks.dedup(texts, planted, pairs, clusters, recall, floor)
        .foreach(f => ctx.check(false, s"dedup_batch $f"))
      else ctx.check(pairs.toSet == lastPairs.toSet, "dedup_batch: repetitions agree")
      lastPairs = pairs
    }
  }

  def precision: Double = {
    val reported = lastPairs
    if (reported.isEmpty) 0.0
    else reported.count { case (a, b) =>
      Checks.jaccard(Checks.shingles(texts(a.toInt)), Checks.shingles(texts(b.toInt))) >= threshold
    }.toDouble / reported.size
  }

  override def warmup(): Unit = (1 to (if (args.smoke) 0 else 5)).foreach(i => rep(verify = i == 1))

  override def run(): Unit = (1 to rounds(0.35)).foreach(i => rep(verify = i == 1))

  override def finish(): Unit = ()

  /** The pipeline layer probe of a traced run of another workload: one
    * repetition to warm up, one measured. */
  def probe(): Unit = {
    ctx.phase = "probe-warmup"
    rep(verify = true)
    ctx.phase = "probe"
    rep(verify = false)
  }

  override def bytesPerRow: Double =
    ctx.sc.getRDDStorageInfo.filter(_.name.contains("pb_corpus"))
      .map(i => i.memSize + i.diskSize).sum.toDouble / docs

  override def details: Map[String, Double] = Map(
    "dedup_p50_s" -> ctx.p50("pipeline.dedup") / 1000)

  override def traced: Map[String, Double] = Map(
    "pipeline.pairs_s" -> Stats.median(pairsMs.toSeq) / 1000,
    "pipeline.clusters_s" -> Stats.median(clustersMs.toSeq) / 1000,
    "pipeline.pairs_reported" -> lastPairs.size.toDouble,
    "pipeline.pair_precision" -> precision)
}

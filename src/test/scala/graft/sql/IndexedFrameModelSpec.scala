package graft.sql

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * Model-based testing of the SQL face: random sequences of upserts
 * applied in parallel to an ordered [[IndexedFrame.Handle]] and to an
 * immutable `Map` oracle must answer every access path — pushed point
 * reads, pushed range scans, full scans — consistently with the oracle
 * at every step.
 */
class IndexedFrameModelSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  private implicit def sp: org.apache.spark.sql.SparkSession = spark
  import spark.implicits._

  private val keyGen = Gen.choose(0L, 30L) // small key space → overwrites

  private case class Upsert(kvs: Seq[(Long, Double)])
  private val genOp: Gen[Upsert] =
    Gen.listOfN(3, Gen.zip(keyGen, Gen.choose(0, 1000).map(_.toDouble))).map(Upsert(_))

  test("random upsert sequences: point / range / full scans == Map oracle at every step") {
    val prop = Prop.forAll(Gen.listOfN(6, genOp)) { ops =>
      var model = (1L to 15L).map(k => (k, k * 1.0)).toMap
      var handle = IndexedFrame.index(
        model.toSeq.toDF("k", "v"), "k", ordered = true, numPartitions = 4)
      ops.forall { op =>
        model = model ++ op.kvs.toMap // later duplicates win, like upsert
        handle = handle.upsert(op.kvs.map { case (k, v) => Row(k, v) })
        val pointKeys = Seq(0L, 7L, 15L, 30L, 99L)
        val pointsOk = pointKeys.forall { k =>
          val got = handle.toDF.filter($"k" === k).select($"v").as[Double].collect()
          got.toSeq == model.get(k).toSeq
        }
        val rangeGot = handle.toDF.filter($"k".between(5L, 20L))
          .select($"k", $"v").as[(Long, Double)].collect().toMap
        val rangeOk = rangeGot == model.filter { case (k, _) => k >= 5 && k <= 20 }
        val fullOk = handle.toDF.select($"k", $"v").as[(Long, Double)]
          .collect().toMap == model
        pointsOk && rangeOk && fullOk
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("random probes: lookup join family == Map-oracle joins") {
    IndexedJoin.enable(spark)
    val corpus = (1L to 120L).map(k => (k, k * 3.0)).toMap
    val handle = IndexedFrame.indexRangePartitioned(
      corpus.toSeq.toDF("k", "v"), "k", 6)
    val hd = handle.toDF
    val probeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(-10L, 140L), Gen.choose(0L, 9L)))
    val prop = Prop.forAll(probeGen) { ps =>
      val probe = ps.toDF("pk", "tag")
      // inner: one (corpus, probe) pair per probe hit, dups included
      val inner = hd.join(probe, hd("k") === probe("pk"))
        .select($"k", $"v", $"tag").as[(Long, Double, Long)]
        .collect().sorted.toSeq
      val innerModel = ps.collect {
        case (pk, tag) if corpus.contains(pk) => (pk, corpus(pk), tag)
      }.sorted
      // probe-kept semi/anti partition the probe rows by membership
      val semi = probe.join(hd, probe("pk") === hd("k"), "left_semi")
        .as[(Long, Long)].collect().sorted.toSeq
      val anti = probe.join(hd, probe("pk") === hd("k"), "left_anti")
        .as[(Long, Long)].collect().sorted.toSeq
      val semiModel = ps.filter(p => corpus.contains(p._1)).sorted
      val antiModel = ps.filterNot(p => corpus.contains(p._1)).sorted
      // band: every corpus key in [pk-2, pk+2] per probe row
      val band = hd.join(probe,
          hd("k") >= probe("pk") - 2L && hd("k") <= probe("pk") + 2L)
        .select($"k", $"tag").as[(Long, Long)].collect().sorted.toSeq
      val bandModel = ps.flatMap { case (pk, tag) =>
        (pk - 2 to pk + 2).filter(corpus.contains).map(k => (k, tag))
      }.sorted
      inner == innerModel && semi == semiModel && anti == antiModel &&
        band == bandModel
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("random probes: batch as-of join == Map-oracle floor per probe") {
    val versions = (for (u <- 1L to 10L; t <- Seq(10L, 20L, 35L, 50L))
      yield ((u, t), u * 100 + t)).toMap
    val vdf = versions.toSeq.map { case ((u, t), v) => (u, t, v) }
      .toDF("vu", "vt", "vv")
    val handle = IndexedFrame.indexCompositeNRangePartitioned(vdf, Seq("vu", "vt"), 5)
    val probeGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 60L)))
    val prop = Prop.forAll(probeGen) { ps =>
      val probe = ps.zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) }
        .toDF("pu", "pt", "tag")
      val got = handle.asOfJoinFrame(probe, Seq("pu"), "pt")
        .select($"tag", $"vt", $"vv").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      val model = ps.zipWithIndex.flatMap { case ((u, t), i) =>
        val cand = versions.keys.filter(k => k._1 == u && k._2 <= t)
        if (cand.isEmpty) None
        else {
          val best = cand.maxBy(_._2)
          Some((i.toLong, best._2, versions(best)))
        }
      }.sorted
      got == model
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}

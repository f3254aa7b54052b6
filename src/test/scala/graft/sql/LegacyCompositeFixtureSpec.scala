package graft.sql

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * Saves in the retired two-column composite format (`_frame` tagged
 * "composite", Tuple2 keys) still open: [[IndexedFrame.loadCompositeN]]
 * and catalog-table reopens rebuild them as N-column composite handles
 * in the saved layout. The fixtures under `legacy_composite/` were
 * written by the last build that had the two-column handle (see
 * FIXTURES.md); each test copies one to a temp directory and checks it
 * against the closed-form rows it was built from.
 */
class LegacyCompositeFixtureSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def fixture(name: String): String = {
    val src = Paths.get(getClass.getResource(s"/legacy_composite/$name").toURI)
    val dst = Files.createTempDirectory(s"legacy_composite_$name")
    Files.walk(src).forEach { (p: Path) =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
      ()
    }
    dst.toString
  }

  private def frameTag(path: String): String = {
    val in = new java.io.ObjectInputStream(
      Files.newInputStream(Paths.get(path, "_frame")))
    try { in.readObject(); in.readBoolean(); in.readObject().asInstanceOf[String] }
    finally in.close()
  }

  // the fixtures' source rows, as their generator built them
  private val hashRows = (0 until 300).map(i =>
    (i % 15L, i / 15L, (i * 7L) % 11L, i * 0.5))
  private val rangeRows = (0 until 288).map(i =>
    (f"k${i % 12}%02d", (i / 12).toLong, i.toLong))
  private val gridRows = (0 until 256).map { i =>
    val (u, d) = (i / 16L, i % 16L)
    (u, d, if (u == 3 && d == 3) -1.0 else u * 100.0 + d)
  }

  test("hash Long x Long save with a secondary and zone maps reopens") {
    val path = fixture("hash_ll")
    assert(frameTag(path) === "composite")
    val h = IndexedFrame.loadCompositeN(spark, path)
    assert(h.keyCols === Seq("a", "b") && !h.ordered)
    assert(h.idx.partitioner.exists(
      _.isInstanceOf[org.apache.spark.HashPartitioner]))
    assert(h.idx.getNumPartitions === 4)
    assert(h.secondaryColSet === Set("v"))
    assert(h.zoneSnapshot._1 === Set("w"))
    // the saved _count presets the stats count, so stats need no count job
    assert(h.presetStatsCount === Some(hashRows.size.toLong))
    val df = h.toDF(spark)
    df.createOrReplaceTempView("legacy_hash_ll")
    assert(df.count() === hashRows.size)
    val point = spark.sql(
      "SELECT v, w FROM legacy_hash_ll WHERE a = 7 AND b = 11").as[(Long, Double)]
      .collect().toSeq
    assert(h.lastScanKind === "point")
    assert(point === hashRows.filter(r => r._1 == 7 && r._2 == 11).map(r => (r._3, r._4)))
    val lead = spark.sql(
      "SELECT a, b FROM legacy_hash_ll WHERE a BETWEEN 3 AND 5").as[(Long, Long)]
      .collect().toSet
    assert(lead === hashRows.filter(r => r._1 >= 3 && r._1 <= 5).map(r => (r._1, r._2)).toSet)
    val sec = spark.sql("SELECT a, b FROM legacy_hash_ll WHERE v = 4")
      .as[(Long, Long)].collect().toSet
    assert(h.lastScanKind === "secondary_point")
    assert(sec === hashRows.filter(_._3 == 4L).map(r => (r._1, r._2)).toSet)
    // a fresh save writes the N-column format and reopens without a rebuild
    val again = Files.createTempDirectory("legacy_composite_resave").toString
    IndexedFrame.save(h, again)
    assert(frameTag(again) === "compositeN")
    val re = IndexedFrame.loadCompositeN(spark, again)
    assert(re.secondaryColSet === Set("v"))
    assert(re.toDF(spark).count() === hashRows.size)
  }

  test("range-partitioned String x Long save reopens range-partitioned") {
    val h = IndexedFrame.loadCompositeN(spark, fixture("range_sl"))
    assert(h.keyCols === Seq("s", "n") && h.ordered)
    assert(h.idx.partitioner.exists(
      _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]]))
    h.toDF(spark).createOrReplaceTempView("legacy_range_sl")
    assert(spark.sql("SELECT count(*) FROM legacy_range_sl")
      .collect()(0).getLong(0) === rangeRows.size)
    val point = spark.sql(
      "SELECT x FROM legacy_range_sl WHERE s = 'k03' AND n = 5").as[Long]
      .collect().toSeq
    assert(h.lastScanKind === "point")
    assert(point === rangeRows.filter(r => r._1 == "k03" && r._2 == 5L).map(_._3))
    val lead = spark.sql(
      "SELECT s, n, x FROM legacy_range_sl WHERE s BETWEEN 'k02' AND 'k04'")
      .as[(String, Long, Long)].collect().toSet
    assert(h.lastScanKind === "range")
    assert(lead === rangeRows.filter(r => r._1 >= "k02" && r._1 <= "k04").toSet)
    // a secondary added on the rebuilt handle serves probes
    h.addSecondaryIndex("x")
    val sec = spark.sql("SELECT s, n FROM legacy_range_sl WHERE x = 100")
      .as[(String, Long)].collect().toSeq
    assert(h.lastScanKind === "secondary_point")
    assert(sec === rangeRows.filter(_._3 == 100L).map(r => (r._1, r._2)))
  }

  test("ZORDER BY'd catalog table with a committed UPDATE reopens") {
    val path = fixture("catalog_zorder")
    assert(frameTag(path) === "composite")
    spark.sql("DROP TABLE IF EXISTS legacy_zo_t")
    spark.sql(s"CREATE TABLE legacy_zo_t USING graft LOCATION '$path'")
    val idx = GraftTables.current(spark, path)._2.idxAny
    assert(idx.partitioner.exists(
      _.isInstanceOf[graft.IndexedRDD.MortonPartitioner]))
    assert(spark.sql("SELECT count(*) FROM legacy_zo_t")
      .collect()(0).getLong(0) === gridRows.size)
    // the UPDATE replays from the delta log over the rebuilt base
    assert(spark.sql("SELECT v FROM legacy_zo_t WHERE u = 3 AND d = 3")
      .as[Double].collect().toSeq === Seq(-1.0))
    assert(spark.sql("SELECT v FROM legacy_zo_t WHERE u = 5 AND d = 7")
      .as[Double].collect().toSeq === Seq(507.0))
    val lead = spark.sql(
      "SELECT u, d, v FROM legacy_zo_t WHERE u BETWEEN 2 AND 4")
      .as[(Long, Long, Double)].collect().toSet
    assert(lead === gridRows.filter(r => r._1 >= 2 && r._1 <= 4).toSet)
    // zone maps on the key columns were re-analyzed on the z layout
    val box = spark.sql(
      "SELECT count(*) FROM legacy_zo_t WHERE u BETWEEN 0 AND 3 AND d BETWEEN 0 AND 3")
      .collect()(0).getLong(0)
    assert(box === 16L)
    assert(GraftBenchBridge.compositeNScanInfo(spark, path)._1 === "full_zone")
    // DML and OPTIMIZE keep working; the rewritten base is N-column
    spark.sql("UPDATE legacy_zo_t SET v = 42 WHERE u = 15 AND d = 15")
    spark.sql("OPTIMIZE legacy_zo_t ZORDER BY (u, d)")
    assert(frameTag(path) === "compositeN")
    val s2 = spark.newSession()
    assert(s2.sql("SELECT v FROM legacy_zo_t WHERE u = 15 AND d = 15")
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().toSeq === Seq(42.0))
    assert(s2.sql("SELECT sum(v) FROM legacy_zo_t").collect()(0).getDouble(0) ===
      gridRows.map(r => if (r._1 == 15 && r._2 == 15) 42.0 else r._3).sum)
    spark.sql("DROP TABLE IF EXISTS legacy_zo_t")
  }
}

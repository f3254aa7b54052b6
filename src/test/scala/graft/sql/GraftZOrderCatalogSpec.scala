package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * `OPTIMIZE t ZORDER BY (a, b)` on durable catalog tables
 * ([[GraftTables.compact]] + [[IndexedFrame.CompositeNHandle.zOrderedN]]):
 * the rewritten base is re-clustered along the Morton curve of the
 * two-column composite key, zone maps on BOTH key columns analyze and
 * persist, and a 2-D box query then prunes partitions through the zone
 * path — while point routing, DML, and reopen replay stay exact.
 */
class GraftZOrderCatalogSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_zocat_$name").toString
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    p
  }

  test("ZORDER rewrites the base: content exact, box queries zone-prune, " +
      "DML and reopen keep working") {
    val path = freshPath("box")
    spark.sql("DROP TABLE IF EXISTS zocat_t")
    // a 32x32 (u, d) grid — hash-partitioned at CTAS, so every
    // partition spans the whole plane and no box can prune
    val grid = for (u <- 0L until 32L; d <- 0L until 32L)
      yield (u, d, u * 100.0 + d)
    grid.toDF("u", "d", "v").createOrReplaceTempView("zocat_src")
    spark.sql(s"""CREATE TABLE zocat_t USING graft
      |OPTIONS (key 'u,d', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zocat_src""".stripMargin)
    spark.sql("UPDATE zocat_t SET v = -1 WHERE u = 3 AND d = 3")
    val expected = spark.sql("SELECT u, d, v FROM zocat_t ORDER BY u, d")
      .collect().map(_.toSeq).toSeq
    spark.sql("OPTIMIZE zocat_t ZORDER BY (u, d)")
    // content bit-exact across the rewrite
    val after = spark.sql("SELECT u, d, v FROM zocat_t ORDER BY u, d")
      .collect().map(_.toSeq).toSeq
    assert(after === expected)
    // the 2-D box prunes: the 8x8 corner is ~1/16 of the z space, so
    // of 8 z-contiguous partitions at most half may survive
    val boxSum = spark.sql(
      "SELECT sum(v) FROM zocat_t WHERE u BETWEEN 0 AND 7 AND d BETWEEN 0 AND 7")
      .collect()(0).getDouble(0)
    val expSum = grid.filter(r => r._1 <= 7 && r._2 <= 7 &&
      !(r._1 == 3 && r._2 == 3)).map(_._3).sum - 1.0
    assert(boxSum === expSum)
    val h = GraftTables.current(spark, path)._2.handleAny
      .asInstanceOf[IndexedFrame.CompositeNHandle]
    assert(h.lastScanKind === "full_zone", h.lastScanKind)
    assert(h.lastZoneKept >= 1 && h.lastZoneKept <= 4,
      s"box kept ${h.lastZoneKept} of 8 partitions")
    // point routing through the Morton partitioner stays exact
    assert(spark.sql("SELECT v FROM zocat_t WHERE u = 3 AND d = 3")
      .collect()(0).getDouble(0) === -1.0)
    // DML after ZORDER: zones maintain (widen), answers stay exact
    spark.sql("UPDATE zocat_t SET v = 7777 WHERE u = 31 AND d = 31")
    spark.sql("DELETE FROM zocat_t WHERE u = 0 AND d = 0")
    // a FRESH session reloads the z-ordered base + replays the tail:
    // same answers, and the persisted zones still prune
    val s2 = spark.newSession()
    assert(s2.sql("SELECT v FROM zocat_t WHERE u = 31 AND d = 31")
      .collect()(0).getDouble(0) === 7777.0)
    assert(s2.sql("SELECT count(*) FROM zocat_t").collect()(0).getLong(0)
      === 32L * 32L - 1)
    val reSum = s2.sql(
      "SELECT sum(v) FROM zocat_t WHERE u BETWEEN 0 AND 7 AND d BETWEEN 0 AND 7")
      .collect()(0).getDouble(0)
    assert(reSum === expSum) // (0,0) carried v=0.0, so the sum is unchanged
    val h2 = GraftTables.current(s2, path)._2.handleAny
      .asInstanceOf[IndexedFrame.CompositeNHandle]
    assert(h2.lastZoneKept >= 1 && h2.lastZoneKept <= 4,
      s"reopened box kept ${h2.lastZoneKept} of 8 partitions")
    spark.sql("DROP TABLE IF EXISTS zocat_t")
  }

  test("CLONE of a z-ordered table keeps the Morton layout and pruning") {
    val path = freshPath("clonesrc")
    val dst = freshPath("clonedst")
    spark.sql("DROP TABLE IF EXISTS zocat_cs")
    spark.sql("DROP TABLE IF EXISTS zocat_cd")
    val grid = for (u <- 0L until 32L; d <- 0L until 32L)
      yield (u, d, u * 100.0 + d)
    grid.toDF("u", "d", "v").createOrReplaceTempView("zocat_clsrc")
    spark.sql(s"""CREATE TABLE zocat_cs USING graft
      |OPTIONS (key 'u,d', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zocat_clsrc""".stripMargin)
    spark.sql("OPTIMIZE zocat_cs ZORDER BY (u, d)")
    spark.sql(s"CREATE TABLE zocat_cd SHALLOW CLONE zocat_cs LOCATION '$dst'")
    def box = spark.sql(
      "SELECT sum(v) FROM zocat_cd WHERE u BETWEEN 0 AND 7 AND d BETWEEN 0 AND 7")
    assert(box.collect()(0).getDouble(0) ===
      grid.filter(r => r._1 <= 7 && r._2 <= 7).map(_._3).sum)
    // the clone's scan is zone-pruned too (Morton partitioner +
    // zonemap manifest entry rode the clone)
    assert(box.rdd.getNumPartitions < 8,
      s"clone box kept ${box.rdd.getNumPartitions} of 8")
    // and point routing in the clone works through the cloned
    // partitioner
    assert(spark.sql("SELECT v FROM zocat_cd WHERE u = 9 AND d = 4")
      .collect()(0).getDouble(0) === 904.0)
    spark.sql("DROP TABLE IF EXISTS zocat_cs")
    spark.sql("DROP TABLE IF EXISTS zocat_cd")
  }

  test("ZORDER BY rejects mixed key/value column pairs") {
    val path = freshPath("rej")
    spark.sql("DROP TABLE IF EXISTS zocat_r")
    (1L to 10L).map(k => (k, k * 2, k * 1.0)).toDF("k", "w", "v")
      .createOrReplaceTempView("zocat_rsrc")
    spark.sql(s"""CREATE TABLE zocat_r USING graft
      |OPTIONS (key 'k') LOCATION '$path'
      |AS SELECT * FROM zocat_rsrc""".stripMargin)
    val e1 = intercept[Exception](
      spark.sql("OPTIMIZE zocat_r ZORDER BY (k, w)"))
    assert(e1.getMessage.contains("mixes key column"))
    val path2 = freshPath("rej2")
    spark.sql("DROP TABLE IF EXISTS zocat_r2")
    (1L to 10L).map(k => (k, k * 2, k * 1.0)).toDF("a", "b", "v")
      .createOrReplaceTempView("zocat_r2src")
    spark.sql(s"""CREATE TABLE zocat_r2 USING graft
      |OPTIONS (key 'a,b') LOCATION '$path2'
      |AS SELECT * FROM zocat_r2src""".stripMargin)
    val e2 = intercept[Exception](
      spark.sql("OPTIMIZE zocat_r2 ZORDER BY (a, v)"))
    assert(e2.getMessage.contains("mixes key column"))
    spark.sql("DROP TABLE IF EXISTS zocat_r")
    spark.sql("DROP TABLE IF EXISTS zocat_r2")
  }

  test("value-column ZORDER materializes a sort projection: box scans " +
      "prune zb cells, DML invalidates it, reopen + re-OPTIMIZE " +
      "re-attach it — content exact throughout") {
    val path = freshPath("vals")
    spark.sql("DROP TABLE IF EXISTS zocat_v")
    // keys 1..400; two value dims correlated with nothing — the
    // projection's equal-depth cells are what make the box selective
    (1L to 400L).map(k => (k, (k * 37) % 100, ((k * 53) % 1000) * 1.0))
      .toDF("k", "x", "y").createOrReplaceTempView("zocat_vsrc")
    spark.sql(s"""CREATE TABLE zocat_v USING graft
      |OPTIONS (key 'k', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zocat_vsrc""".stripMargin)
    def box(s: org.apache.spark.sql.SparkSession) = s.sql(
      """SELECT k, x, y FROM zocat_v
        |WHERE x BETWEEN 10 AND 29 AND y BETWEEN 100 AND 399""".stripMargin)
    val expect = box(spark).collect().map(_.toSeq).toSet
    assert(expect.nonEmpty)
    spark.sql("OPTIMIZE zocat_v ZORDER BY (x, y)")
    assert(new java.io.File(path, "_tproj_zorder").isDirectory)
    assert(box(spark).collect().map(_.toSeq).toSet === expect)
    val (kind, kept) = GraftBenchBridge.h1ScanInfo(spark, path)
    assert(kind === "full_zproj", s"box served as '$kind'")
    assert(kept > 0 && kept < 256, s"kept $kept of 256 cells")
    // a REOPENED session re-attaches the persisted projection
    val s2 = spark.newSession()
    assert(box(s2).collect().map(_.toSeq).toSet === expect)
    assert(GraftBenchBridge.h1ScanInfo(s2, path)._1 === "full_zproj")
    // single-dim constraint still serves (the other dim unpinned)
    val oneDim = s2.sql("SELECT k FROM zocat_v WHERE x >= 90").collect()
    assert(oneDim.length === (1L to 400L).count(k => (k * 37) % 100 >= 90))
    assert(GraftBenchBridge.h1ScanInfo(s2, path)._1 === "full_zproj")
    // DML keeps the projection serving via the DELTA OVERLAY: updated
    // keys leave the pruned projection side (anti join) and their
    // current values union back in — EXACT, still zb-pruned. k=3 sits
    // in the box (x=11, y=159); moving its y out drops it; a fresh
    // insert lands in the box; a delete (k=41: x=17, y=173) leaves it.
    spark.sql("UPDATE zocat_v SET y = 999 WHERE k = 3")
    spark.sql("INSERT INTO zocat_v VALUES (500, 15, 200.0)")
    spark.sql("DELETE FROM zocat_v WHERE k = 41")
    val expect2 = expect - Seq(3L, 11L, 159.0) - Seq(41L, 17L, 173.0) +
      Seq(500L, 15L, 200.0)
    assert(box(spark).collect().map(_.toSeq).toSet === expect2)
    assert(GraftBenchBridge.h1ScanInfo(spark, path)._1 === "full_zproj",
      "the stale projection + overlay should keep serving boxed scans")
    // a cold session overlay-serves identically
    val s3 = spark.newSession()
    assert(box(s3).collect().map(_.toSeq).toSet === expect2)
    assert(GraftBenchBridge.h1ScanInfo(s3, path)._1 === "full_zproj")
    // a TRUNCATE-bearing statement fences the overlay off: the primary
    // serves (correct, just unpruned) until the next OPTIMIZE
    spark.sql("INSERT OVERWRITE zocat_v SELECT * FROM zocat_vsrc")
    assert(box(spark).collect().map(_.toSeq).toSet === expect)
    assert(GraftBenchBridge.h1ScanInfo(spark, path)._1 !== "full_zproj")
    val s4 = spark.newSession()
    assert(box(s4).collect().map(_.toSeq).toSet === expect)
    assert(GraftBenchBridge.h1ScanInfo(s4, path)._1 !== "full_zproj")
    // re-OPTIMIZE rebuilds the projection over the current content
    spark.sql("OPTIMIZE zocat_v ZORDER BY (x, y)")
    assert(box(spark).collect().map(_.toSeq).toSet === expect)
    assert(GraftBenchBridge.h1ScanInfo(spark, path)._1 === "full_zproj")
    spark.sql("DROP TABLE IF EXISTS zocat_v")
  }

  test("N-dim value ZORDER: 3 and 4 columns build rank-space sort " +
      "projections (512 / 256 cells), boxes on any dim subset prune, " +
      "DML overlay-serves, reopen re-attaches — exact throughout") {
    val path = freshPath("valsN")
    spark.sql("DROP TABLE IF EXISTS zocat_n")
    // three independent-ish dims from coprime multipliers
    (1L to 600L).map(k =>
      (k, (k * 37) % 100, ((k * 53) % 1000) * 1.0, ((k * 29) % 500) * 1.0))
      .toDF("k", "x", "y", "w").createOrReplaceTempView("zocat_nsrc")
    spark.sql(s"""CREATE TABLE zocat_n USING graft
      |OPTIONS (key 'k', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zocat_nsrc""".stripMargin)
    def box(s: org.apache.spark.sql.SparkSession) = s.sql(
      """SELECT k, x, y, w FROM zocat_n
        |WHERE x BETWEEN 10 AND 29 AND y BETWEEN 100 AND 399
        |AND w BETWEEN 50 AND 300""".stripMargin)
    val expect = box(spark).collect().map(_.toSeq).toSet
    assert(expect.nonEmpty)
    spark.sql("OPTIMIZE zocat_n ZORDER BY (x, y, w)")
    assert(box(spark).collect().map(_.toSeq).toSet === expect)
    val (kind, kept) = GraftBenchBridge.h1ScanInfo(spark, path)
    assert(kind === "full_zproj", s"3-dim box served as '$kind'")
    assert(kept > 0 && kept < 512, s"kept $kept of 512 cells")
    // a box on a SUBSET of the dims still serves and still prunes
    val partial = spark.sql(
      "SELECT k FROM zocat_n WHERE x >= 90 AND w <= 100").collect()
    assert(partial.length === (1L to 600L).count(k =>
      (k * 37) % 100 >= 90 && ((k * 29) % 500) <= 100))
    val (kindP, keptP) = GraftBenchBridge.h1ScanInfo(spark, path)
    assert(kindP === "full_zproj")
    assert(keptP > 0 && keptP < 512)
    // reopen re-attaches the persisted 3-dim meta
    val s2 = spark.newSession()
    assert(box(s2).collect().map(_.toSeq).toSet === expect)
    assert(GraftBenchBridge.h1ScanInfo(s2, path)._1 === "full_zproj")
    // DML: the stale 3-dim projection overlay-serves exactly.
    // k=6 sits in the box (x=22, y=318, w=174); moving y drops it.
    spark.sql("UPDATE zocat_n SET y = 9999 WHERE k = 6")
    spark.sql("INSERT INTO zocat_n VALUES (700, 15, 200.0, 100.0)")
    val expect2 = expect - Seq[Any](6L, 22L, 318.0, 174.0) +
      Seq[Any](700L, 15L, 200.0, 100.0)
    assert(box(spark).collect().map(_.toSeq).toSet === expect2)
    assert(GraftBenchBridge.h1ScanInfo(spark, path)._1 === "full_zproj",
      "the stale 3-dim projection + overlay should keep serving")
    // 4-dim: re-OPTIMIZE with another dim (2 bits/dim, 256 cells)
    spark.sql("ALTER TABLE zocat_n ADD COLUMNS (v DOUBLE)")
    spark.sql("UPDATE zocat_n SET v = CAST(k % 97 AS DOUBLE)")
    spark.sql("OPTIMIZE zocat_n ZORDER BY (x, y, w, v)")
    val four = spark.sql(
      """SELECT k FROM zocat_n WHERE x BETWEEN 10 AND 29
        |AND y BETWEEN 100 AND 399 AND w BETWEEN 50 AND 300
        |AND v BETWEEN 10 AND 60""".stripMargin).collect()
    val expect4 = (1L to 600L).filter { k =>
      val x = (k * 37) % 100; val y = ((k * 53) % 1000) * 1.0
      val w = ((k * 29) % 500) * 1.0; val v = (k % 97).toDouble
      k != 6 && x >= 10 && x <= 29 && y >= 100 && y <= 399 &&
        w >= 50 && w <= 300 && v >= 10 && v <= 60
    }.toSet ++ (if (700 % 97 >= 10 && 700 % 97 <= 60) Set(700L) else Set.empty)
    assert(four.map(_.getLong(0)).toSet === expect4)
    val (kind4, kept4) = GraftBenchBridge.h1ScanInfo(spark, path)
    assert(kind4 === "full_zproj", s"4-dim box served as '$kind4'")
    assert(kept4 > 0 && kept4 < 256, s"kept $kept4 of 256 cells")
    spark.sql("DROP TABLE IF EXISTS zocat_n")
  }

  test("value-column ZORDER serves COMPOSITE-key tables too — the " +
      "projection is key-arity-agnostic") {
    val path = freshPath("vals2")
    spark.sql("DROP TABLE IF EXISTS zocat_v2")
    (1L to 300L).map(k => (k % 20, k, (k * 37) % 100, ((k * 53) % 1000) * 1.0))
      .toDF("a", "b", "x", "y").createOrReplaceTempView("zocat_v2src")
    spark.sql(s"""CREATE TABLE zocat_v2 USING graft
      |OPTIONS (key 'a,b', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zocat_v2src""".stripMargin)
    def box(s: org.apache.spark.sql.SparkSession) = s.sql(
      """SELECT a, b, x, y FROM zocat_v2
        |WHERE x BETWEEN 10 AND 29 AND y BETWEEN 100 AND 399""".stripMargin)
    val expect = box(spark).collect().map(_.toSeq).toSet
    assert(expect.nonEmpty)
    spark.sql("OPTIMIZE zocat_v2 ZORDER BY (x, y)")
    assert(box(spark).collect().map(_.toSeq).toSet === expect)
    val h = GraftBenchBridge.compositeNScanInfo(spark, path)
    assert(h._1 === "full_zproj", s"composite box served as '${h._1}'")
    assert(h._2 > 0 && h._2 < 256)
    // composite point routing is untouched by the projection
    assert(spark.sql("SELECT y FROM zocat_v2 WHERE a = 5 AND b = 25")
      .collect()(0).getDouble(0) === ((25L * 53) % 1000) * 1.0)
    spark.sql("DROP TABLE IF EXISTS zocat_v2")
  }
}

package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * `OPTIMIZE t ZORDER BY (a, b, c, ...)` beyond the 2xLong fast path —
 * the RANK-SPACE generalization ([[IndexedFrame.rankZFor]] +
 * [[graft.IndexedRDD.RankZPartitioner]]): N-column composite keys
 * re-cluster the primary along the z curve of equal-depth bucket
 * ranks, and 2-column keys with non-Long components (strings) take
 * the same kernel. Zone maps on every key column analyze + persist;
 * N-dim box queries prune through them; point routing, DML, and
 * reopen replay stay exact — the same contract
 * [[GraftZOrderCatalogSpec]] pins for the pairwise Morton form.
 */
class GraftZOrderNSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_zon_$name").toString
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    p
  }

  test("3-column-key ZORDER re-clusters the primary: content exact, " +
      "3-D boxes zone-prune, point routing + DML + reopen exact") {
    val path = freshPath("n3")
    spark.sql("DROP TABLE IF EXISTS zon_t")
    // a 16x16x4 (u, d, w) grid — hash-partitioned at CTAS, so every
    // partition spans the whole cube and no box can prune
    val grid = for (u <- 0L until 16L; d <- 0L until 16L; w <- 0L until 4L)
      yield (u, d, w, u * 1000.0 + d * 10.0 + w)
    grid.toDF("u", "d", "w", "v").createOrReplaceTempView("zon_src")
    spark.sql(s"""CREATE TABLE zon_t USING graft
      |OPTIONS (key 'u,d,w', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zon_src""".stripMargin)
    spark.sql("UPDATE zon_t SET v = -1 WHERE u = 3 AND d = 3 AND w = 1")
    val expected = spark.sql("SELECT u, d, w, v FROM zon_t ORDER BY u, d, w")
      .collect().map(_.toSeq).toSeq
    spark.sql("OPTIMIZE zon_t ZORDER BY (u, d, w)")
    // content bit-exact across the rewrite
    val after = spark.sql("SELECT u, d, w, v FROM zon_t ORDER BY u, d, w")
      .collect().map(_.toSeq).toSeq
    assert(after === expected)
    // the 3-D box is 1/64 of the cube's population (equal-depth ranks
    // make cells equal-population): of 8 z-contiguous partitions at
    // most half may survive the zone maps
    val boxSum = spark.sql(
      """SELECT sum(v) FROM zon_t WHERE u BETWEEN 0 AND 3
        |AND d BETWEEN 0 AND 3 AND w BETWEEN 0 AND 1""".stripMargin)
      .collect()(0).getDouble(0)
    val expSum = grid.filter(r => r._1 <= 3 && r._2 <= 3 && r._3 <= 1 &&
      !(r._1 == 3 && r._2 == 3 && r._3 == 1)).map(_._4).sum - 1.0
    assert(boxSum === expSum)
    val (kind, kept) = GraftBenchBridge.compositeNScanInfo(spark, path)
    assert(kind === "full_zone", kind)
    assert(kept >= 1 && kept <= 4, s"box kept $kept of 8 partitions")
    // point routing through the rank-z partitioner stays exact
    assert(spark.sql("SELECT v FROM zon_t WHERE u = 3 AND d = 3 AND w = 1")
      .collect()(0).getDouble(0) === -1.0)
    // DML after ZORDER: zones maintain (widen), answers stay exact
    spark.sql("UPDATE zon_t SET v = 7777 WHERE u = 15 AND d = 15 AND w = 3")
    spark.sql("DELETE FROM zon_t WHERE u = 0 AND d = 0 AND w = 0")
    // a FRESH session reloads the z-ordered base + replays the tail
    val s2 = spark.newSession()
    assert(s2.sql("SELECT v FROM zon_t WHERE u = 15 AND d = 15 AND w = 3")
      .collect()(0).getDouble(0) === 7777.0)
    assert(s2.sql("SELECT count(*) FROM zon_t").collect()(0).getLong(0)
      === 16L * 16L * 4L - 1)
    val reSum = s2.sql(
      """SELECT sum(v) FROM zon_t WHERE u BETWEEN 0 AND 3
        |AND d BETWEEN 0 AND 3 AND w BETWEEN 0 AND 1""".stripMargin)
      .collect()(0).getDouble(0)
    assert(reSum === expSum) // (0,0,0) carried v=0.0 — sum unchanged
    val (kind2, kept2) = GraftBenchBridge.compositeNScanInfo(s2, path)
    assert(kind2 === "full_zone", kind2)
    assert(kept2 >= 1 && kept2 <= 4,
      s"reopened box kept $kept2 of 8 partitions")
    spark.sql("DROP TABLE IF EXISTS zon_t")
  }

  test("ZORDER BY column order permutes the interleave but never the " +
      "answers (3-col key, reversed dims)") {
    val path = freshPath("n3rev")
    spark.sql("DROP TABLE IF EXISTS zon_r")
    val grid = for (u <- 0L until 8L; d <- 0L until 8L; w <- 0L until 8L)
      yield (u, d, w, (u * 64 + d * 8 + w).toDouble)
    grid.toDF("u", "d", "w", "v").createOrReplaceTempView("zon_rsrc")
    spark.sql(s"""CREATE TABLE zon_r USING graft
      |OPTIONS (key 'u,d,w', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zon_rsrc""".stripMargin)
    spark.sql("OPTIMIZE zon_r ZORDER BY (w, d, u)")
    assert(spark.sql("SELECT sum(v) FROM zon_r").collect()(0).getDouble(0)
      === grid.map(_._4).sum)
    assert(spark.sql("SELECT v FROM zon_r WHERE u = 1 AND d = 2 AND w = 3")
      .collect()(0).getDouble(0) === (64 + 16 + 3).toDouble)
    spark.sql("INSERT INTO zon_r VALUES (9, 9, 9, -5.0)")
    assert(spark.sql("SELECT v FROM zon_r WHERE u = 9 AND d = 9 AND w = 9")
      .collect()(0).getDouble(0) === -5.0)
    spark.sql("DROP TABLE IF EXISTS zon_r")
  }

  test("2-column key with a STRING component takes the rank-space " +
      "path: re-cluster exact, box prunes, point routing exact") {
    val path = freshPath("str")
    spark.sql("DROP TABLE IF EXISTS zon_s")
    // region codes x day — the string dim has a natural sort order
    // the rank edges capture
    val regions = (0 until 32).map(i => f"R$i%02d")
    val rows = for (r <- regions; d <- 0L until 32L)
      yield (r, d, d * 100.0 + r.drop(1).toLong)
    rows.toDF("region", "day", "v").createOrReplaceTempView("zon_ssrc")
    spark.sql(s"""CREATE TABLE zon_s USING graft
      |OPTIONS (key 'region,day', partitions '8') LOCATION '$path'
      |AS SELECT * FROM zon_ssrc""".stripMargin)
    val expected = spark.sql("SELECT region, day, v FROM zon_s " +
      "ORDER BY region, day").collect().map(_.toSeq).toSeq
    spark.sql("OPTIMIZE zon_s ZORDER BY (region, day)")
    assert(spark.sql("SELECT region, day, v FROM zon_s " +
      "ORDER BY region, day").collect().map(_.toSeq).toSeq === expected)
    // 2-D box: an eighth of each dimension
    val boxCnt = spark.sql(
      """SELECT count(*) FROM zon_s WHERE region BETWEEN 'R00' AND 'R07'
        |AND day BETWEEN 0 AND 7""".stripMargin).collect()(0).getLong(0)
    assert(boxCnt === 64L)
    val (kind, kept) = GraftBenchBridge.compositeNScanInfo(spark, path)
    assert(kind === "full_zone", kind)
    assert(kept >= 1 && kept <= 4, s"box kept $kept of 8 partitions")
    // point routing through the rank-z partitioner
    assert(spark.sql("SELECT v FROM zon_s WHERE region = 'R05' AND day = 3")
      .collect()(0).getDouble(0) === 305.0)
    // DML + reopen
    spark.sql("UPDATE zon_s SET v = -9 WHERE region = 'R31' AND day = 31")
    val s2 = spark.newSession()
    assert(s2.sql("SELECT v FROM zon_s WHERE region = 'R31' AND day = 31")
      .collect()(0).getDouble(0) === -9.0)
    spark.sql("DROP TABLE IF EXISTS zon_s")
  }
}

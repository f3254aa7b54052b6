package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * SQL table maintenance over graft temp views ([[GraftSqlParser]]):
 * `OPTIMIZE` must compact the snapshot (identical content, cut
 * lineage, a content-equal chain version), `VACUUM` must truncate
 * history with Delta-stable version numbering, and `graft_history`
 * must list exactly the retained versions.
 */
class GraftMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def freshCorpus(view: String): IndexedFrame.Handle[Long] = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (1L to 100L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "name", "bal")
    val h = IndexedFrame.index(df, "k", numPartitions = 4)
    h.toDF.createOrReplaceTempView(view)
    h
  }

  private def currentHandle(view: String): IndexedFrame.Handle[_] =
    GraftSqlParser.graftViewRelation(spark, view, "spec")._2 match {
      case r: IndexedFrame.IndexedRelation[_] => r.h
      case other => fail(s"unexpected relation $other")
    }

  test("OPTIMIZE compacts: content identical, lineage cut, metrics row") {
    freshCorpus("gms_opt")
    (1 to 6).foreach(i =>
      spark.sql(s"UPDATE gms_opt SET bal = bal + $i WHERE k <= ${i * 10}"))
    spark.sql("DELETE FROM gms_opt WHERE k > 90")
    val before = spark.sql("SELECT * FROM gms_opt ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    val depthBefore = currentHandle("gms_opt").idx.lineageDepth

    val m = spark.sql("OPTIMIZE gms_opt").collect()
    assert(m.length === 1)
    val row = m.head
    assert(row.getString(0) === "gms_opt")
    assert(row.getLong(1) === 90L) // rows
    assert(row.getInt(2) === 4) // partitions
    assert(row.getInt(3) === depthBefore)
    assert(row.getInt(4) < row.getInt(3),
      s"expected lineage cut, got ${row.getInt(3)} -> ${row.getInt(4)}")
    assert(row.getInt(4) <= 3)
    assert(currentHandle("gms_opt").idx.lineageDepth === row.getInt(4))

    val after = spark.sql("SELECT * FROM gms_opt ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(after === before)
    // and the compacted snapshot keeps taking DML on its short lineage
    spark.sql("UPDATE gms_opt SET bal = 0 WHERE k = 1")
    assert(spark.sql("SELECT bal FROM gms_opt WHERE k = 1")
      .as[Double].head() === 0.0)
    // a fresh statement stacks its own delta plan; a second OPTIMIZE
    // cuts right back to the checkpoint floor
    spark.sql("OPTIMIZE gms_opt")
    assert(currentHandle("gms_opt").idx.lineageDepth <= 3)
  }

  test("OPTIMIZE records a content-equal chain version (empty graft_changes)") {
    freshCorpus("gms_optv")
    spark.sql("DELETE FROM gms_optv WHERE k <= 5")
    val vBefore = GraftSqlExtension.versionCount(spark, "gms_optv") - 1
    spark.sql("OPTIMIZE gms_optv")
    val vAfter = GraftSqlExtension.versionCount(spark, "gms_optv") - 1
    assert(vAfter === vBefore + 1)
    assert(spark.sql(
      s"SELECT * FROM graft_changes('gms_optv', $vBefore, $vAfter)").count() === 0L)
    // pre-optimize versions still time-travel
    assert(spark.sql("SELECT count(*) AS c FROM gms_optv VERSION AS OF 0")
      .as[Long].head() === 100L)
    assert(spark.sql(s"SELECT count(*) AS c FROM gms_optv VERSION AS OF $vAfter")
      .as[Long].head() === 95L)
  }

  test("OPTIMIZE before any DML seeds the chain") {
    freshCorpus("gms_opt0")
    val m = spark.sql("OPTIMIZE gms_opt0").collect().head
    assert(m.getLong(1) === 100L)
    // version 0 = pre-OPTIMIZE seed, version 1 = compacted (equal content)
    assert(GraftSqlExtension.versionCount(spark, "gms_opt0") === 2)
    assert(spark.sql(
      "SELECT * FROM graft_changes('gms_opt0', 0, 1)").count() === 0L)
  }

  test("VACUUM truncates history with stable version numbers") {
    freshCorpus("gms_vac")
    spark.sql("DELETE FROM gms_vac WHERE k <= 10") // v1
    spark.sql("DELETE FROM gms_vac WHERE k <= 20") // v2
    spark.sql("UPDATE gms_vac SET bal = -1 WHERE k = 99") // v3
    val r = spark.sql("VACUUM gms_vac RETAIN 2 VERSIONS").collect().head
    assert(r.getString(0) === "gms_vac")
    assert(r.getLong(1) === 2L) // dropped v0, v1
    assert(r.getLong(2) === 2L) // first retained
    assert(r.getLong(3) === 3L) // current
    assert(GraftSqlExtension.firstVersion(spark, "gms_vac") === 2L)
    assert(GraftSqlExtension.versionCount(spark, "gms_vac") === 4)
    // retained versions read under their ORIGINAL numbers
    assert(spark.sql("SELECT count(*) AS c FROM gms_vac VERSION AS OF 2")
      .as[Long].head() === 80L)
    assert(spark.sql("SELECT bal FROM gms_vac VERSION AS OF 3 WHERE k = 99")
      .as[Double].head() === -1.0)
    // dropped versions fail like any unknown-version time travel
    intercept[Exception](
      spark.sql("SELECT count(*) FROM gms_vac VERSION AS OF 0").collect())
    intercept[Exception](
      spark.sql("SELECT count(*) FROM gms_vac VERSION AS OF 1").collect())
    // graft_changes can no longer reach the dropped range
    intercept[Exception](
      spark.sql("SELECT * FROM graft_changes('gms_vac', 0, 3)").collect())
    assert(spark.sql("SELECT * FROM graft_changes('gms_vac', 2, 3)")
      .count() === 2L) // the k=99 pre/post images
    // and new DML continues the chain at the next number
    spark.sql("DELETE FROM gms_vac WHERE k = 50") // v4
    assert(GraftSqlExtension.versionCount(spark, "gms_vac") === 5)
    assert(spark.sql("SELECT count(*) AS c FROM gms_vac VERSION AS OF 4")
      .as[Long].head() === 79L)
  }

  test("graft_history lists retained versions, oldest first") {
    freshCorpus("gms_hist")
    spark.sql("DELETE FROM gms_hist WHERE k = 1") // v1
    spark.sql("DELETE FROM gms_hist WHERE k = 2") // v2
    val all = spark.sql(
      "SELECT version, is_current FROM graft_history('gms_hist') ORDER BY version")
      .as[(Long, Boolean)].collect().toSeq
    assert(all === Seq((0L, false), (1L, false), (2L, true)))
    spark.sql("VACUUM gms_hist RETAIN 1 VERSIONS")
    val kept = spark.sql(
      "SELECT version, is_current FROM graft_history('gms_hist')")
      .as[(Long, Boolean)].collect().toSeq
    assert(kept === Seq((2L, true)))
    // commit times are non-decreasing and floor TIMESTAMP AS OF reads
    val times = GraftSqlExtension.versionTimes(spark, "gms_hist")
    assert(times.length === 1)
  }

  test("VACUUM of a never-DML'd graft view is a no-op; unknown names error") {
    freshCorpus("gms_vnone")
    val r = spark.sql("VACUUM gms_vnone").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((0L, 0L, -1L)))
    val e = intercept[Exception](spark.sql("OPTIMIZE gms_no_such_view").collect())
    assert(e.getMessage.contains("gms_no_such_view"))
    intercept[Exception](spark.sql("VACUUM gms_no_such_view").collect())
    // non-graft targets are rejected, not mangled
    spark.range(3).createOrReplaceTempView("gms_plain")
    val e2 = intercept[Exception](spark.sql("OPTIMIZE gms_plain").collect())
    assert(e2.getMessage.contains("not a graft-indexed relation"))
  }

  test("parser passthrough: ordinary SQL is untouched, near-miss shapes error in Spark") {
    assert(spark.sql("SELECT 1 AS one").as[Int].head() === 1)
    // qualified / multi-token targets are NOT ours — Spark parses and
    // raises its own syntax error mentioning the verb
    intercept[Exception](spark.sql("OPTIMIZE a.b").collect())
    intercept[Exception](spark.sql("VACUUM gms_x RETAIN -1 VERSIONS").collect())
  }

  test("OPTIMIZE composite handles: arity 2 and N") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df2 = (1L to 50L).map(k => (k, (k % 5).toInt, k * 2.0))
      .toDF("a", "b", "x")
    IndexedFrame.indexCompositeN(df2, Seq("a", "b"), numPartitions = 4)
      .toDF.createOrReplaceTempView("gms_c2")
    spark.sql("DELETE FROM gms_c2 WHERE a <= 10")
    val m2 = spark.sql("OPTIMIZE gms_c2").collect().head
    assert(m2.getLong(1) === 40L)
    assert(spark.sql("SELECT sum(x) AS s FROM gms_c2").as[Double].head()
      === (11L to 50L).map(_ * 2.0).sum)

    val df3 = (1L to 50L).map(k => (k, (k % 5).toInt, s"s${k % 3}", k * 1.0))
      .toDF("a", "b", "c", "x")
    IndexedFrame.indexCompositeN(df3, Seq("a", "b", "c"), numPartitions = 4)
      .toDF.createOrReplaceTempView("gms_c3")
    spark.sql("DELETE FROM gms_c3 WHERE a > 40")
    val m3 = spark.sql("OPTIMIZE gms_c3").collect().head
    assert(m3.getLong(1) === 40L)
    assert(spark.sql("SELECT sum(x) AS s FROM gms_c3").as[Double].head()
      === (1L to 40L).map(_ * 1.0).sum)
  }
}

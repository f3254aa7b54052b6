package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * Incremental grouped-fold memo maintenance
 * ([[IndexedFrame.SecondaryCapable.carryGroupFoldsFrom]]): a DML commit
 * folds its own delta into the warm filtered-agg memo instead of
 * leaving the next probe to refold the corpus. The carry must be
 * indistinguishable from a fresh fold — exact results always, the memo
 * WARM on the post-commit handle before any probe when the carry
 * applies, and a silent fall-back to the lazy refold whenever
 * exactness cannot be guaranteed (extremum retraction, non-finite
 * values).
 */
class FilteredAggCarrySpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_carryspec_$name").toString
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    p
  }

  private def jobs(): Int =
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).length

  /** The CURRENT handle's fold-memo keys — checked BEFORE any probe,
    * so a present entry can only come from the carry, never a refold. */
  private def memoKeys(path: String): Set[(String, String)] = {
    val h = GraftTables.current(spark, path)._2.handleAny
      .asInstanceOf[IndexedFrame.SecondaryCapable[_]]
    h.secGroupAggMemo.readOnlySnapshot().keySet.toSet
  }

  test("DML carries the warm fold memo: exact results, memo warm pre-probe") {
    val path = freshPath("carry")
    spark.sql("DROP TABLE IF EXISTS carryspec_t")
    val rows = (1L to 1000L).map(k => (k, k % 7, k * 0.5, k))
    rows.toDF("k", "g", "v", "w").createOrReplaceTempView("carryspec_src")
    spark.sql(s"""CREATE TABLE carryspec_t USING graft
      |OPTIONS (key 'k') LOCATION '$path' AS
      |SELECT * FROM carryspec_src""".stripMargin)
    spark.sql("CREATE INDEX g_ix ON carryspec_t (g)")

    // model of the table the SQL must always agree with
    var model = rows.map { case (k, g, v, w) => k -> ((g, v, w)) }.toMap
    def expect(g: Long) = {
      val grp = model.values.filter(_._1 == g).toSeq
      (grp.map(t => BigDecimal(t._2)).sum.toDouble, grp.map(_._3).sum,
        grp.size.toLong, grp.map(_._2).min, grp.map(_._2).max)
    }
    // one agg column per query — the filtered-agg route memoizes per
    // (secCol, aggCol) pair
    def probe(g: Long) = {
      val rv = spark.sql(
        s"""SELECT sum(v), count(*), min(v), max(v)
           |FROM carryspec_t WHERE g = $g""".stripMargin).collect().head
      val rw = spark.sql(
        s"SELECT sum(w) FROM carryspec_t WHERE g = $g").collect().head
      (rv.getDouble(0), rw.getLong(0), rv.getLong(1), rv.getDouble(2),
        rv.getDouble(3))
    }

    // warm the fold memos for both agg columns (one fold job each)
    assert(probe(3L) === expect(3L))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")))
    // warm repeat: zero jobs (the pre-existing memo contract)
    val before0 = jobs()
    assert(probe(3L) === expect(3L))
    assert(jobs() === before0, "warm probe should launch zero jobs")

    // interior update: touched rows are not group extrema -> the carry
    // applies; the post-commit handle's memo is warm BEFORE any probe
    spark.sql("UPDATE carryspec_t SET v = v + 7.25, w = w + 11 " +
      "WHERE k IN (10, 17)")
    model ++= Seq(10L, 17L).map(k =>
      k -> ((k % 7, k * 0.5 + 7.25, k + 11)))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")),
      "UPDATE should carry the fold memo onto the new handle")
    assert(probe(3L) === expect(3L))

    // interior delete + interior insert: both carried
    spark.sql("DELETE FROM carryspec_t WHERE k = 24")
    model -= 24L
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")),
      "DELETE should carry the fold memo")
    spark.sql("INSERT INTO carryspec_t VALUES (2000, 3, 123.0, 555)")
    model += 2000L -> ((3L, 123.0, 555L))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")),
      "INSERT should carry the fold memo")
    assert(probe(3L) === expect(3L))

    // group birth and disappearance through the carry
    spark.sql("INSERT INTO carryspec_t VALUES (3000, 80, 1.5, 2)")
    model += 3000L -> ((80L, 1.5, 2L))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")))
    assert(probe(80L) === expect(80L))
    spark.sql("DELETE FROM carryspec_t WHERE k = 3000")
    model -= 3000L
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")))
    val gone = spark.sql(
      "SELECT sum(v), count(*) FROM carryspec_t WHERE g = 80").collect().head
    assert(gone.isNullAt(0) && gone.getLong(1) === 0L)

    // extremum retraction: k=3 holds group 3's MIN v AND MIN w — the
    // carry must ABORT both pairs (multiplicity unknown); the next
    // probe refolds, still exact
    spark.sql("DELETE FROM carryspec_t WHERE k = 3")
    model -= 3L
    assert(memoKeys(path) === Set.empty,
      "an extremum retraction must abort the carry (lazy refold)")
    assert(probe(3L) === expect(3L))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")),
      "the probe should have refolded both pairs")

    // non-finite addition: the fold flips to the order-dependent IEEE
    // shadow — the (g, v) carry must abort; (g, w) is unaffected
    spark.sql("INSERT INTO carryspec_t VALUES (4000, 5, " +
      "cast('Infinity' as double), 1)")
    model += 4000L -> ((5L, Double.PositiveInfinity, 1L))
    assert(memoKeys(path) === Set(("g", "w")),
      "a non-finite fp addition must abort the (g, v) carry only")
    val inf = spark.sql(
      "SELECT sum(v), count(*) FROM carryspec_t WHERE g = 5").collect().head
    assert(inf.getDouble(0).isPosInfinity)
    assert(inf.getLong(1) === model.values.count(_._1 == 5L).toLong)

    spark.sql("DROP TABLE IF EXISTS carryspec_t")
  }

  test("carry survives a MERGE and matches a cold reopen") {
    val path = freshPath("merge")
    spark.sql("DROP TABLE IF EXISTS carryspec_m")
    (1L to 300L).map(k => (k, k % 5, k.toDouble))
      .toDF("k", "g", "v").createOrReplaceTempView("carryspec_msrc0")
    spark.sql(s"""CREATE TABLE carryspec_m USING graft
      |OPTIONS (key 'k') LOCATION '$path' AS
      |SELECT * FROM carryspec_msrc0""".stripMargin)
    spark.sql("CREATE INDEX gm_ix ON carryspec_m (g)")
    def probe(sp: org.apache.spark.sql.SparkSession, g: Long) =
      sp.sql(s"SELECT sum(v), count(*) FROM carryspec_m WHERE g = $g")
        .collect().head match {
          case r => (r.getDouble(0), r.getLong(1))
        }
    val warm = probe(spark, 2L) // pays the fold
    assert(probe(spark, 2L) === warm)
    Seq((7L, 70.0), (301L, 42.0)).toDF("sk", "sv")
      .createOrReplaceTempView("carryspec_msrc")
    spark.sql(
      """MERGE INTO carryspec_m t USING carryspec_msrc s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET v = s.sv
        |WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.sk, 2, s.sv)
        |""".stripMargin)
    assert(memoKeys(path) === Set(("g", "v")),
      "MERGE should carry the fold memo onto the new handle")
    val carried = probe(spark, 2L)
    // the carried numbers must equal what a COLD session refolds
    val s2 = spark.newSession()
    assert(probe(s2, 2L) === carried)
    spark.sql("DROP TABLE IF EXISTS carryspec_m")
  }

  test("a carry that throws drops only its memo entry and never fails the DML") {
    val path = freshPath("throw")
    spark.sql("DROP TABLE IF EXISTS carryspec_throw")
    val rows = (1L to 400L).map(k => (k, k % 5, k * 0.5, k))
    rows.toDF("k", "g", "v", "w").createOrReplaceTempView("carryspec_tsrc")
    spark.sql(s"""CREATE TABLE carryspec_throw USING graft
      |OPTIONS (key 'k') LOCATION '$path' AS
      |SELECT * FROM carryspec_tsrc""".stripMargin)
    spark.sql("CREATE INDEX gt_ix ON carryspec_throw (g)")
    def probe(g: Long) = {
      val rv = spark.sql(
        s"SELECT sum(v), count(*) FROM carryspec_throw WHERE g = $g").collect().head
      val rw = spark.sql(
        s"SELECT sum(w) FROM carryspec_throw WHERE g = $g").collect().head
      (rv.getDouble(0), rw.getLong(0), rv.getLong(1))
    }
    probe(2L) // warm both (g, v) and (g, w) folds
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")))
    val failuresBefore = GraftTables.postCommitFailureCount(path)
    // k = 12, 22 are interior rows of group 2, so both carries would
    // apply; the hook makes the (g, v) carry throw
    IndexedFrame.foldCarryHook = (_, aggCol) =>
      if (aggCol == "v") throw new IllegalStateException("injected carry failure")
    try spark.sql("UPDATE carryspec_throw SET v = v + 1, w = w + 1 " +
      "WHERE k IN (12, 22)")
    finally IndexedFrame.foldCarryHook = (_, _) => ()
    // the statement committed with no maintenance failure recorded; only
    // the throwing pair's memo entry is gone (it refolds lazily)
    assert(GraftTables.postCommitFailureCount(path) === failuresBefore)
    assert(memoKeys(path) === Set(("g", "w")))
    val updated = rows.map { case (k, g, v, w) =>
      if (k == 12L || k == 22L) (k, g, v + 1, w + 1) else (k, g, v, w) }
    val plain = updated.toDF("k", "g", "v", "w").filter($"g" === 2L)
      .agg(org.apache.spark.sql.functions.sum($"v"),
        org.apache.spark.sql.functions.sum($"w"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect().head
    assert(probe(2L) === ((plain.getDouble(0), plain.getLong(1), plain.getLong(2))))
    assert(memoKeys(path) === Set(("g", "v"), ("g", "w")))
    spark.sql("DROP TABLE IF EXISTS carryspec_throw")
  }
}

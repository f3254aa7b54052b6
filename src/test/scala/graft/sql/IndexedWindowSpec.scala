package graft.sql

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

class IndexedWindowSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  import spark.implicits._

  // runs of 40 over 8 range partitions: every boundary splits a run,
  // so the rank-offset path is fully exercised
  private def fixture() = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedWindow.enable(spark)
    val df = (0L until 1000L).map(k => (k / 40, (k * 7) % 40, s"v$k"))
      .toDF("a", "b", "v").distinct()
    (df, IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8))
  }

  private def expected(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= n)
      .as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))

  test("row_number PARTITION BY leading ORDER BY second <= n is layout-served") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val (df, h) = fixture()
    val q = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedGroupTopN"), s"expected window pushdown:\n$plan")
    assert(!plan.contains("Exchange"), s"grouped top-n must not shuffle:\n$plan")
    assert(!plan.contains("Sort"), s"grouped top-n must not sort:\n$plan")
    assert(q.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expected(df, 3))
    assert(h.lastScanKind === "group_topn")
    // rn = 1: the per-group argmin
    val q1 = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" === 1)
    assert(q1.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    assert(q1.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expected(df, 1))
    // n larger than every group: all rows come back ranked
    val qall = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" < 100)
    assert(qall.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    assert(qall.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expected(df, 99))
  }

  test("outer projection dropping rn still rides the pushdown") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val (df, h) = fixture()
    val q = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= 2).select($"a", $"b", $"v")
    assert(q.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    val expect = expected(df, 2).map(t => (t._1, t._2, t._3))
    assert(q.as[(Long, Long, String)].collect().sortBy(t => (t._1, t._2))
      === expect)
  }

  test("descending order, rank(), extra conjuncts, hash layouts fall through") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val (df, h) = fixture()
    // DESC: reverse streaming is not layout-served
    val qd = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b".desc)))
      .filter($"rn" <= 3)
    assert(!qd.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    val expectDesc = df.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b".desc)))
      .filter($"rn" <= 3)
      .as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
    assert(qd.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expectDesc)
    // rank() is not row_number
    val qr = h.toDF.withColumn("rn",
        rank().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= 3)
    assert(!qr.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    // an extra value conjunct needs row inspection above the window
    val qc = h.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= 3 && $"b" > 5L)
    assert(!qc.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    assert(qc.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expected(df, 3).filter(_._2 > 5L))
    // hash composite: no contiguous run structure
    val hh = IndexedFrame.indexCompositeN(df, Seq("a", "b"))
    val qh = hh.toDF.withColumn("rn",
        row_number().over(Window.partitionBy($"a").orderBy($"b")))
      .filter($"rn" <= 3)
    assert(!qh.queryExecution.executedPlan.toString.contains("IndexedGroupTopN"))
    assert(qh.as[(Long, Long, String, Int)].collect().sortBy(t => (t._1, t._2))
      === expected(df, 3))
  }
}

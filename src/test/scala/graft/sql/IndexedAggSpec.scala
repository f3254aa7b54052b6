package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

class IndexedAggSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  import spark.implicits._

  private def customerHandle() = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    IndexedFrame.index(
      spark.read.parquet(s"$dir/customer.parquet"), "c_custkey")
  }

  test("count(*) on a handle plans as the no-scan index-size sum") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    val q = h.toDF.agg(count(lit(1)).as("cnt"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected IndexedStatsExec in:\n$plan")
    val expected = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(q.as[Long].head() === expected)
    assert(h.lastScanKind === "stats") // served by the index, not a scan
  }

  test("count(*) under a key-range filter plans as a no-value range count") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    for ((lo, hi) <- Seq((10L, 60L), (0L, 5L), (120L, 999L))) {
      val q = h.toDF.filter($"c_custkey".between(lo, hi))
        .agg(count(lit(1)).as("cnt"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedRangeStats"),
        s"expected range-count pushdown in:\n$plan")
      assert(q.as[Long].head() ===
        cust.filter($"c_custkey".between(lo, hi)).count())
    }
    // contradiction folds to a constant zero without a scan
    val zero = h.toDF.filter($"c_custkey" > 50L && $"c_custkey" < 10L)
      .agg(count(lit(1)).as("cnt"))
    assert(zero.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(zero.as[Long].head() === 0L)
    // STRING keys: inclusive upper rides the succ (+NUL) bound
    val hs = IndexedFrame.indexString(
      cust.withColumn("c_k", concat(lit("k"), $"c_custkey")), "c_k",
      ordered = true)
    val qs = hs.toDF.filter($"c_k" >= "k10" && $"c_k" <= "k3")
      .agg(count(lit(1)).as("cnt"))
    assert(qs.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(qs.as[Long].head() ===
      cust.filter(concat(lit("k"), $"c_custkey") >= "k10" &&
        concat(lit("k"), $"c_custkey") <= "k3").count())
    // a non-key conjunct needs row inspection: NOT claimed
    val fallback = h.toDF
      .filter($"c_custkey".between(10L, 60L) && $"c_acctbal" > 0.0)
      .agg(count(lit(1)).as("cnt"))
    assert(!fallback.queryExecution.executedPlan.toString
      .contains("IndexedRangeStats"))
    // an UNORDERED handle cannot serve intervals: NOT claimed
    val hu = IndexedFrame.index(cust, "c_custkey")
    val unord = hu.toDF.filter($"c_custkey".between(10L, 60L))
      .agg(count(lit(1)).as("cnt"))
    assert(!unord.queryExecution.executedPlan.toString
      .contains("IndexedRangeStats"))
  }

  test("range-count/extrema memos: repeats stay exact; new versions never reuse") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    def cnt(hh: IndexedFrame.Handle[_]) = hh.toDF
      .filter($"c_custkey".between(10L, 60L)).agg(count(lit(1))).as[Long].head()
    val expect = cust.filter($"c_custkey".between(10L, 60L)).count()
    assert(cnt(h) === expect)
    assert(cnt(h) === expect) // second read: memoized, same answer
    // a COW delete returns a new handle whose count drops — the old
    // snapshot's memo cannot leak across versions (fresh memo per
    // handle), and the old version still answers from its own
    val h2 = h.deleteFrame(Seq(15L).toDF("c_custkey"))
    assert(cnt(h2) === expect - 1)
    assert(cnt(h2) === expect - 1) // memoized repeat on the new version
    assert(cnt(h) === expect) // old snapshot unchanged
  }

  test("min/max(key) under a key-range filter use bounded descents, no scan") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    val q = h.toDF.filter($"c_custkey".between(10L, 60L))
      .agg(min($"c_custkey").as("mn"), max($"c_custkey").as("mx"),
        count(lit(1)).as("cnt"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedRangeStats"),
      s"expected bounded-extrema pushdown in:\n$plan")
    val r = q.as[(Long, Long, Long)].head()
    assert(r === ((10L, 60L, 51L)))
    // interval interior: extrema are real keys, not the bounds
    val sparse = h.toDF.filter($"c_custkey" > 57L && $"c_custkey" < 61L)
      .agg(min($"c_custkey").as("mn"), max($"c_custkey").as("mx"))
    assert(sparse.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(sparse.as[(Long, Long)].head() === ((58L, 60L)))
    // empty interval yields SQL NULL extrema (and zero count)
    val empty = h.toDF.filter($"c_custkey" > 50L && $"c_custkey" < 10L)
      .agg(min($"c_custkey").as("mn"), count(lit(1)).as("cnt"))
    assert(empty.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    val er = empty.collect()(0)
    assert(er.isNullAt(0) && er.getLong(1) === 0L)
    // min of a NON-key column under the filter: not claimed
    val nk = h.toDF.filter($"c_custkey".between(10L, 60L))
      .agg(min($"c_acctbal").as("mn"))
    assert(!nk.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    // range-partitioned handles prune partitions before descending;
    // an upper bound past the corpus max clamps to the real extremum
    // (sf0.001 customer keys are 0..149)
    val hrp = IndexedFrame.indexRangePartitioned(cust, "c_custkey", 8)
    val rp = hrp.toDF.filter($"c_custkey".between(100L, 200L))
      .agg(min($"c_custkey").as("mn"), max($"c_custkey").as("mx"))
    assert(rp.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(rp.as[(Long, Long)].head() === ((100L, 149L)))
  }

  test("count over a NEW version after upsert sees the new size") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    val base = h.toDF.agg(count(lit(1))).as[Long].head()
    val row = h.toDF.limit(1).collect()(0)
    val added = org.apache.spark.sql.Row.fromSeq(
      Seq(-12345L) ++ row.toSeq.tail) // fresh key, same shape
    val h2 = h.upsert(Seq(added))
    assert(h2.toDF.agg(count(lit(1))).as[Long].head() === base + 1)
    // the OLD version still answers with the old size (COW)
    assert(h.toDF.agg(count(lit(1))).as[Long].head() === base)
  }

  test("min/max of the KEY on an ordered handle are O(depth) descents, no scan") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val h = IndexedFrame.index(
      spark.read.parquet(s"$dir/customer.parquet"), "c_custkey", ordered = true)
    val q = h.toDF.agg(count(lit(1)).as("cnt"),
      min($"c_custkey").as("mn"), max($"c_custkey").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected IndexedStatsExec in:\n$plan")
    val src = spark.read.parquet(s"$dir/customer.parquet")
    val exp = src.agg(count(lit(1)), min($"c_custkey"), max($"c_custkey"))
      .as[(Long, Long, Long)].head()
    assert(q.as[(Long, Long, Long)].head() === exp)
  }

  test("min(key) on a NON-ordered handle and min of a non-key column fall back") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val hashH = IndexedFrame.index(
      spark.read.parquet(s"$dir/customer.parquet"), "c_custkey")
    val q1 = hashH.toDF.agg(min($"c_custkey").as("mn"))
    assert(!q1.queryExecution.executedPlan.toString.contains("IndexedStats"))
    val ordH = IndexedFrame.index(
      spark.read.parquet(s"$dir/customer.parquet"), "c_custkey", ordered = true)
    val q2 = ordH.toDF.agg(min($"c_acctbal").as("mn")) // non-key column
    assert(!q2.queryExecution.executedPlan.toString.contains("IndexedStats"))
    val exp = spark.read.parquet(s"$dir/customer.parquet")
      .agg(min($"c_custkey"), min($"c_acctbal")).as[(Long, Double)].head()
    assert(q1.as[Long].head() === exp._1)
    assert(q2.as[Double].head() === exp._2)
  }

  test("min/max of a UUID key on an ordered handle are index descents, no scan") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val withUuid = spark.read.parquet(s"$dir/customer.parquet").withColumn("c_uuid",
      format_string("00000000-0000-4000-8000-%012d", $"c_custkey"))
    val h = IndexedFrame.indexUuid(withUuid, "c_uuid", ordered = true)
    val q = h.toDF.agg(count(lit(1)).as("cnt"),
      min($"c_uuid").as("mn"), max($"c_uuid").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected IndexedStatsExec in:\n$plan")
    val exp = withUuid.agg(count(lit(1)), min($"c_uuid"), max($"c_uuid"))
      .as[(Long, String, String)].head()
    assert(q.as[(Long, String, String)].head() === exp)
    assert(h.lastScanKind === "stats")
    // non-ordered uuid handles fall back to the scanning planner
    val hu = IndexedFrame.indexUuid(withUuid, "c_uuid")
    val q2 = hu.toDF.agg(min($"c_uuid").as("mn"))
    assert(!q2.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q2.as[String].head() === exp._2)
  }

  test("min/max of the LEADING composite key column are index descents; second column falls back") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val df = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"), ordered = true)
    val q = h.toDF.agg(count(lit(1)).as("cnt"),
      min($"c_bucket").as("mn"), max($"c_bucket").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected IndexedStatsExec in:\n$plan")
    val exp = df.agg(count(lit(1)), min($"c_bucket"), max($"c_bucket"))
      .as[(Long, Long, Long)].head()
    assert(q.as[(Long, Long, Long)].head() === exp)
    assert(h.lastScanKind === "stats")
    // only the LEADING column's order matches the tuple byte order:
    // min/max of the second column must scan
    val q2 = h.toDF.agg(min($"c_custkey").as("mn"))
    assert(!q2.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q2.as[Long].head() === df.agg(min($"c_custkey")).as[Long].head())
    // count alone on a NON-ordered composite handle still plans no-scan
    val hu = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
    val qc = hu.toDF.agg(count(lit(1)).as("cnt"))
    assert(qc.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qc.as[Long].head() === df.count())
  }

  test("min/max of an Int-typed key narrows back through the codec") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val df = spark.read.parquet(s"$dir/customer.parquet")
      .withColumn("c_key32", $"c_custkey".cast("int"))
    val h = IndexedFrame.index(df, "c_key32", ordered = true)
    val q = h.toDF.agg(min($"c_key32").as("mn"), max($"c_key32").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected IndexedStatsExec in:\n$plan")
    val exp = df.agg(min($"c_key32"), max($"c_key32")).as[(Int, Int)].head()
    assert(q.as[(Int, Int)].head() === exp)
  }

  test("composite leading-column range stats: no-value counts and bounded extrema") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    // (a, b) pairs with duplicate leading values — the tuple interval
    // [(aLo, minB), (aHi, minB)) must cover every b under each a
    val df = (0L until 1000L).map(k => (k / 10, k % 10, k.toDouble))
      .toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    for ((lo, hi) <- Seq((5L, 30L), (0L, 3L), (90L, 500L))) {
      val q = h.toDF.filter($"a".between(lo, hi))
        .agg(count(lit(1)).as("cnt"), min($"a").as("mn"), max($"a").as("mx"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedRangeStats"),
        s"expected composite range-stats pushdown in:\n$plan")
      val (cnt, mn, mx) = q.as[(Long, Long, Long)].head()
      val expect = df.filter($"a".between(lo, hi))
      assert(cnt === expect.count())
      assert(mn === lo && mx === math.min(hi, 99L))
    }
    // leading equality counts the whole prefix group
    val eq = h.toDF.filter($"a" === 7L).agg(count(lit(1)).as("cnt"))
    assert(eq.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(eq.as[Long].head() === 10L)
    // a SECOND-column conjunct needs row inspection: NOT claimed
    val fb = h.toDF.filter($"a".between(5L, 30L) && $"b" === 3L)
      .agg(count(lit(1)).as("cnt"))
    assert(!fb.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(fb.as[Long].head() === 26L)
    // contradiction folds to constant zero without a job
    val zero = h.toDF.filter($"a" > 50L && $"a" < 10L)
      .agg(count(lit(1)).as("cnt"))
    assert(zero.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(zero.as[Long].head() === 0L)
    // a (long, BigInt-decimal) pair has no B domain minimum: NOT claimed
    val dfd = (0L until 50L).map(k => (k, new java.math.BigDecimal(k)))
      .toDF("a", "d").withColumn("d", $"d".cast("decimal(38,0)"))
    val hd = IndexedFrame.indexCompositeN(dfd, Seq("a", "d"), ordered = true)
    val qd = hd.toDF.filter($"a".between(5L, 10L)).agg(count(lit(1)).as("cnt"))
    assert(!qd.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(qd.as[Long].head() === 6L)
  }

  test("GROUP BY count pushdown: leading-column key runs and secondary posting lengths") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    // composite (a, b): per-a counts from key runs, values untouched
    val df = (0L until 1000L).map(k => (k / 40, k % 40, s"v$k")).toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    val q = h.toDF.groupBy($"a").agg(count(lit(1)).as("cnt"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedGroupCount"),
      s"expected group-count pushdown in:\n${q.queryExecution.executedPlan}")
    assert(q.as[(Long, Long)].collect().toMap ===
      (0L until 25L).map(a => a -> 40L).toMap)
    // leading-interval filter restricts the groups
    val qf = h.toDF.filter($"a".between(5L, 9L)).groupBy($"a")
      .agg(count(lit(1)).as("cnt"))
    assert(qf.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qf.as[(Long, Long)].collect().toMap ===
      (5L to 9L).map(a => a -> 40L).toMap)
    // count-only result list (group column projected away)
    val qc = h.toDF.filter($"a" === 3L).groupBy($"a").agg(count(lit(1)).as("cnt"))
      .select($"cnt")
    assert(qc.as[Long].collect().toSeq === Seq(40L))
    // second-column grouping is NOT index-answerable: falls through
    val qb = h.toDF.groupBy($"b").agg(count(lit(1)).as("cnt"))
    assert(!qb.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qb.as[(Long, Long)].collect().toMap ===
      (0L until 40L).map(b => b -> 25L).toMap)

    // secondary posting lengths, gated on a null-excluding bound
    val dn = (0L until 300L).map(k =>
      (k, if (k % 5 == 0) null else s"g${k % 3}")).toDF("k", "g")
    val hs = IndexedFrame.index(dn, "k").addSecondaryIndex("g")
    val qs = hs.toDF.filter($"g".isNotNull).groupBy($"g").agg(count(lit(1)).as("cnt"))
    assert(qs.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    val expect = dn.filter($"g".isNotNull).groupBy($"g").agg(count(lit(1)))
      .as[(String, Long)].collect().toMap
    assert(qs.as[(String, Long)].collect().toMap === expect)
    // UNfiltered grouped count on a nullable secondary must NOT claim
    // (SQL owes a NULL group the inverted index cannot see)
    val qu = hs.toDF.groupBy($"g").agg(count(lit(1)).as("cnt"))
    assert(!qu.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qu.filter($"g".isNull).as[(String, Long)].collect().toSeq
      === Seq((null, 60L)))
    // ordered secondary: a range bound both excludes nulls and
    // restricts the groups
    val ho = IndexedFrame.index(dn, "k").addSecondaryIndex("g", ordered = true)
    val qr = ho.toDF.filter($"g" >= "g1").groupBy($"g").agg(count(lit(1)).as("cnt"))
    assert(qr.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qr.as[(String, Long)].collect().toMap ===
      expect.view.filterKeys(_ >= "g1").toMap)
    // count(distinct) / avg never claim
    val qd = h.toDF.groupBy($"a").agg(count_distinct($"b").as("d"))
    assert(!qd.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qd.as[(Long, Long)].collect().toMap ===
      (0L until 25L).map(a => a -> 40L).toMap)
  }

  test("a filtered count falls through to the default planner") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    val q = h.toDF.filter($"c_acctbal" > 0).agg(count(lit(1)).as("cnt"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("IndexedStats"), s"filtered count must scan:\n$plan")
    val expected = spark.read.parquet(s"$dir/customer.parquet")
      .filter($"c_acctbal" > 0).count()
    assert(q.as[Long].head() === expected)
  }

  test("count distinct / grouped counts are untouched") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    val grouped = h.toDF.groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("IndexedStats"))
    val viaIdx = grouped.as[(String, Long)].collect().toMap
    val direct = spark.read.parquet(s"$dir/customer.parquet")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(viaIdx === direct)
  }

  test("DISTINCT key enumerates the index: no aggregate, no exchange") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    val q = h.toDF.select($"c_custkey").distinct()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedDistinct"), s"expected distinct pushdown:\n$plan")
    assert(!plan.contains("Exchange"), s"distinct key must not shuffle:\n$plan")
    val expect = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey").distinct().as[Long].collect().sorted
    assert(q.as[Long].collect().sorted === expect)
    // filtered by a key bound: still an enumeration, restricted
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val ho = IndexedFrame.index(cust, "c_custkey", ordered = true)
    val qf = ho.toDF.filter($"c_custkey".between(10L, 60L))
      .select($"c_custkey").distinct()
    assert(qf.queryExecution.executedPlan.toString.contains("IndexedDistinct"))
    assert(qf.as[Long].collect().sorted ===
      expect.filter(k => k >= 10L && k <= 60L))
    // a VALUE-column filter needs row inspection: falls through
    val qv = ho.toDF.filter($"c_acctbal" > 0).select($"c_custkey").distinct()
    assert(!qv.queryExecution.executedPlan.toString.contains("IndexedDistinct"))
    // DISTINCT on a plain value column falls through
    val qn = ho.toDF.select($"c_nationkey").distinct()
    assert(!qn.queryExecution.executedPlan.toString.contains("IndexedDistinct"))
    assert(qn.as[Int].collect().sorted ===
      cust.select($"c_nationkey").distinct().as[Int].collect().sorted)
  }

  test("count(DISTINCT …) from index sizes: key, secondary, full composite key") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val h = customerHandle()
    // count(DISTINCT key) == count(*): the O(partitions) size sum
    val q = h.toDF.agg(count_distinct($"c_custkey").as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"))
    val total = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(q.as[Long].head() === total)
    // count(DISTINCT key) under a key bound rides the range count
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val ho = IndexedFrame.index(cust, "c_custkey", ordered = true)
    val qr = ho.toDF.filter($"c_custkey".between(10L, 60L))
      .agg(count_distinct($"c_custkey").as("n"))
    assert(qr.queryExecution.executedPlan.toString.contains("IndexedRangeStats"))
    assert(qr.as[Long].head() === 51L)
    // count(DISTINCT sec) = the inverted index's size — exact with
    // NULLS present (SQL count(DISTINCT) excludes them, and so does
    // the inverted index)
    import spark.implicits._
    val dn = (0L until 300L).map(k =>
      (k, if (k % 5 == 0) null else s"g${k % 7}")).toDF("k", "g")
    val hs = IndexedFrame.index(dn, "k").addSecondaryIndex("g")
    val qs = hs.toDF.agg(count_distinct($"g").as("n"))
    assert(qs.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qs.as[Long].head() === 7L)
    // count(*) + ONE distinct group still claims (no Expand rewrite)
    val qm = hs.toDF.agg(count(lit(1)).as("cnt"), count_distinct($"g").as("n"))
    assert(qm.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qm.as[(Long, Long)].head() === ((300L, 7L)))
    // TWO distinct groups are Expand-rewritten before strategies run:
    // falls through whole (and stays correct)
    val q2 = hs.toDF.agg(count_distinct($"k").as("a"), count_distinct($"g").as("b"))
    assert(!q2.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q2.as[(Long, Long)].head() === ((300L, 7L)))
    // no secondary on the column: falls through, stays correct
    val qp = hs.toDF.agg(count_distinct($"k", $"g").as("n"))
    assert(!qp.queryExecution.executedPlan.toString.contains("IndexedStats"))
    // composite: count(DISTINCT a, b) is the index size
    val df = (0L until 1000L).map(k => (k / 40, k % 40, s"v$k")).toDF("a", "b", "v")
    val hc = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    val qc = hc.toDF.agg(count_distinct($"a", $"b").as("n"))
    assert(qc.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qc.as[Long].head() === 1000L)
    // composite: count(DISTINCT leading) from boundary-adjusted run
    // counts — leading runs of 40 straddle the 8 range partitions
    val qa = hc.toDF.agg(count_distinct($"a").as("n"))
    assert(qa.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qa.as[Long].head() === 25L)
    // count(DISTINCT second) is not index-answerable
    val qb = hc.toDF.agg(count_distinct($"b").as("n"))
    assert(!qb.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qb.as[Long].head() === 40L)
  }

  test("DISTINCT leading column: zero-shuffle run heads with boundary dedup") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    // 125 tuples per partition with runs of 40: every partition
    // boundary splits a run — the dedup path is fully exercised
    val df = (0L until 1000L).map(k => (k / 40, k % 40, s"v$k")).toDF("a", "b", "v")
    val hc = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    val q = hc.toDF.select($"a").distinct()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedDistinct"), s"expected distinct pushdown:\n$plan")
    assert(!plan.contains("Exchange"), s"distinct leading must not shuffle:\n$plan")
    assert(q.as[Long].collect().sorted === (0L until 25L).toArray)
    // leading-interval filter restricts the set
    val qf = hc.toDF.filter($"a".between(5L, 9L)).select($"a").distinct()
    assert(qf.queryExecution.executedPlan.toString.contains("IndexedDistinct"))
    assert(qf.as[Long].collect().sorted === (5L to 9L).toArray)
    // hash-layout composite: no range structure — served by the
    // grouped-count fallback instead (still index-structural)
    val hh = IndexedFrame.indexCompositeN(df, Seq("a", "b"))
    val qh = hh.toDF.select($"a").distinct()
    assert(!qh.queryExecution.executedPlan.toString.contains("IndexedDistinct"))
    assert(qh.as[Long].collect().sorted === (0L until 25L).toArray)
  }

  test("GROUP BY leading → count/min/max(second) from key runs") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val df = (0L until 1000L).map(k => (k / 40, (k * 7) % 40, s"v$k"))
      .toDF("a", "b", "v").distinct()
    val hc = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    val q = hc.toDF.groupBy($"a").agg(count(lit(1)).as("n"),
      min($"b").as("mn"), max($"b").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedGroupStats"), s"expected grouped stats:\n$plan")
    val expect = df.groupBy($"a").agg(count(lit(1)).as("n"),
      min($"b").as("mn"), max($"b").as("mx"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    assert(q.as[(Long, Long, Long, Long)].collect().toMap2 === expect)
    // leading-interval filter restricts the groups
    val qf = hc.toDF.filter($"a".between(3L, 6L)).groupBy($"a")
      .agg(count(lit(1)).as("n"), min($"b").as("mn"), max($"b").as("mx"))
    assert(qf.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
    assert(qf.as[(Long, Long, Long, Long)].collect().toMap2 ===
      expect.view.filterKeys(a => a >= 3L && a <= 6L).toMap)
    // min/max of a NON-second column needs rows: falls through
    val qv = hc.toDF.groupBy($"a").agg(min($"v").as("mn"))
    assert(!qv.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
  }

  test("GROUP BY secondary → count/min/max(primary key) from posting arrays") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val dn = (0L until 300L).map(k =>
      (k, if (k % 5 == 0) null else s"g${k % 3}", k * 2)).toDF("k", "g", "w")
    val hs = IndexedFrame.index(dn, "k").addSecondaryIndex("g")
    val q = hs.toDF.filter($"g".isNotNull).groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"k").as("mn"), max($"k").as("mx"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedGroupStats"), s"expected grouped stats:\n$plan")
    val expect = dn.filter($"g".isNotNull).groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"k").as("mn"), max($"k").as("mx"))
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(q.as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap === expect)
    // UNfiltered on a nullable secondary must NOT claim (NULL group owed)
    val qu = hs.toDF.groupBy($"g")
      .agg(count(lit(1)).as("n"), min($"k").as("mn"))
    assert(!qu.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
    // min/max of a non-key column needs rows: falls through
    val qw = hs.toDF.filter($"g".isNotNull).groupBy($"g").agg(min($"w").as("mn"))
    assert(!qw.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
  }

  test("GROUP BY f(key) → count(*): bucket counts off the key stream") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    // modulo histogram (non-monotonic): claimed, exact
    val q = h.toDF.groupBy(expr("c_custkey % 7").as("b"))
      .agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedGroupCount"),
      s"expected expr-group pushdown in:\n${q.queryExecution.executedPlan}")
    assert(q.as[(Long, Long)].collect().toMap ===
      cust.groupBy(expr("c_custkey % 7").as("b")).agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap)
    // count-only output (grouping expr projected away): still claimed
    val qc = h.toDF.groupBy(expr("c_custkey % 7")).agg(count(lit(1)).as("n"))
      .select($"n")
    assert(qc.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qc.as[Long].collect().sorted.toSeq ===
      cust.groupBy(expr("c_custkey % 7")).agg(count(lit(1)).as("n"))
        .select($"n").as[Long].collect().sorted.toSeq)
    // key-bounded filter rides the claim
    val qf = h.toDF.filter($"c_custkey".between(10L, 90L))
      .groupBy(expr("c_custkey % 7").as("b")).agg(count(lit(1)).as("n"))
    assert(qf.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qf.as[(Long, Long)].collect().toMap ===
      cust.filter($"c_custkey".between(10L, 90L))
        .groupBy(expr("c_custkey % 7").as("b")).agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap)
    // per-bucket KEY extrema ride the same stream
    val qs = h.toDF.groupBy(expr("c_custkey % 7").as("b"))
      .agg(count(lit(1)).as("n"), min($"c_custkey").as("mn"),
        max($"c_custkey").as("mx"))
    assert(qs.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
    assert(qs.as[(Long, Long, Long, Long)].collect().toMap2 ===
      cust.groupBy(expr("c_custkey % 7").as("b"))
        .agg(count(lit(1)).as("n"), min($"c_custkey").as("mn"),
          max($"c_custkey").as("mx"))
        .as[(Long, Long, Long, Long)].collect().toMap2)
    // NOT claimed: expression of a NON-key column / non-key aggregates
    val qn = h.toDF.groupBy(expr("c_nationkey % 7").as("b"))
      .agg(count(lit(1)).as("n"))
    assert(!qn.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    val qm = h.toDF.groupBy(expr("c_custkey % 7").as("b"))
      .agg(count(lit(1)).as("n"), min($"c_acctbal").as("mn"))
    assert(!qm.queryExecution.executedPlan.toString.contains("IndexedGroupCount") &&
      !qm.queryExecution.executedPlan.toString.contains("IndexedGroupStats"))
    // composite handles serve the LEADING column's expression groups
    val evh = IndexedFrame.indexCompositeNRangePartitioned(
      cust.select($"c_custkey", $"c_nationkey", $"c_acctbal"),
      Seq("c_custkey", "c_nationkey"), 4)
    val qe = evh.toDF.groupBy(expr("c_custkey % 11").as("b"))
      .agg(count(lit(1)).as("n"))
    assert(qe.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(qe.as[(Long, Long)].collect().toMap ===
      cust.groupBy(expr("c_custkey % 11").as("b")).agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap)
  }

  test(".distinct().count() on the key collapses to the memoized index size") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val h = IndexedFrame.index(orders, "o_orderkey")
    val q = h.toDF.select($"o_orderkey").distinct()
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected collapse in:\n$plan")
    assert(q.as[Long].head() === orders.select($"o_orderkey").distinct().count())
    // a NULLABLE secondary could owe a NULL distinct row: not claimed,
    // still exact via the default plan
    val hn = IndexedFrame.index(
      spark.read.parquet(s"$dir/customer.parquet"), "c_custkey")
      .addSecondaryIndex("c_nationkey")
    val qn = hn.toDF.select($"c_nationkey").distinct().agg(count(lit(1)).as("n"))
    assert(!qn.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qn.as[Long].head() === spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_nationkey").distinct().count())
  }

  test("percentile/median of the key: rank selection, no sort, no shuffle") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.indexRangePartitioned(cust, "c_custkey", 8)
    h.toDF.count()
    val q = h.toDF.agg(
      expr("percentile(c_custkey, 0.5)").as("med"),
      expr("percentile(c_custkey, 0.25)").as("q1"),
      count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedStats"), s"expected stats pushdown in:\n$plan")
    val expect = cust.agg(
      expr("percentile(c_custkey, 0.5)").as("med"),
      expr("percentile(c_custkey, 0.25)").as("q1"),
      count(lit(1)).as("n")).as[(Double, Double, Long)].head()
    assert(q.as[(Double, Double, Long)].head() === expect)
    // median() is RuntimeReplaceable into Percentile(k, 0.5)
    val qm = h.toDF.agg(median($"c_custkey").as("m"))
    assert(qm.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qm.as[Double].head() ===
      cust.agg(median($"c_custkey")).as[Double].head())
    // the array form folds to one literal and one combined selection
    val qa = h.toDF.agg(
      expr("percentile(c_custkey, array(0.0, 0.1, 0.5, 0.9, 1.0))").as("ps"))
    assert(qa.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qa.as[Seq[Double]].head() === cust.agg(
      expr("percentile(c_custkey, array(0.0, 0.1, 0.5, 0.9, 1.0))"))
      .as[Seq[Double]].head())
    // repeats answer from the rank memo driver-side: still exact
    assert(qm.as[Double].head() ===
      cust.agg(median($"c_custkey")).as[Double].head())
    // NOT claimed: hash layout (no global rank order)
    val hh = IndexedFrame.index(cust, "c_custkey")
    assert(!hh.toDF.agg(median($"c_custkey"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    // NOT claimed: non-key column / filtered shape — falls through whole
    assert(!h.toDF.agg(median($"c_nationkey"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    val qf = h.toDF.filter($"c_custkey" > 10L).agg(median($"c_custkey"))
    assert(!qf.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qf.as[Double].head() === cust.filter($"c_custkey" > 10L)
      .agg(median($"c_custkey")).as[Double].head())
  }

  test("percentile of an ordered-secondary column via its weighted histogram") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.indexRangePartitioned(cust, "c_custkey", 8)
      .addSecondaryIndex("c_nationkey", ordered = true)
    h.toDF.count()
    val q = h.toDF.agg(median($"c_nationkey").as("m"),
      expr("percentile(c_nationkey, array(0.25, 0.75))").as("ps"),
      median($"c_custkey").as("mk"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"),
      s"expected stats pushdown:\n${q.queryExecution.executedPlan}")
    val expect = cust.agg(median($"c_nationkey").as("m"),
      expr("percentile(c_nationkey, array(0.25, 0.75))").as("ps"),
      median($"c_custkey").as("mk"))
      .as[(Double, Seq[Double], Double)].head()
    assert(q.as[(Double, Seq[Double], Double)].head() === expect)
    // repeats serve from the histogram memo: still exact
    assert(q.as[(Double, Seq[Double], Double)].head() === expect)
    // an UNORDERED secondary can't enumerate in value order: no claim
    val hu = IndexedFrame.index(cust, "c_custkey").addSecondaryIndex("c_nationkey")
    assert(!hu.toDF.agg(median($"c_nationkey"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    // over the cardinality budget: falls through whole, still correct
    val hb = IndexedFrame.index(cust, "c_custkey")
      .addSecondaryIndex("c_nationkey", ordered = true)
    hb.SecondaryRouteBudget = 3
    val qb = hb.toDF.agg(median($"c_nationkey").as("m"))
    assert(!qb.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qb.as[Double].head() ===
      cust.agg(median($"c_nationkey")).as[Double].head())
    hb.SecondaryRouteBudget = 100000
  }

  test("sum/avg from index structure: key stream + secondary histogram") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey")
      .addSecondaryIndex("c_nationkey", ordered = true)
    h.toDF.count()
    val q = h.toDF.agg(sum($"c_custkey").as("sk"), avg($"c_custkey").as("ak"),
      sum($"c_nationkey").as("sn"), avg($"c_nationkey").as("an"),
      count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"),
      s"expected stats pushdown:\n${q.queryExecution.executedPlan}")
    val expect = cust.agg(sum($"c_custkey").as("sk"), avg($"c_custkey").as("ak"),
      sum($"c_nationkey").as("sn"), avg($"c_nationkey").as("an"),
      count(lit(1)).as("n")).as[(Long, Double, Long, Double, Long)].head()
    assert(q.as[(Long, Double, Long, Double, Long)].head() === expect)
    // repeats answer from the memos: still exact
    assert(q.as[(Long, Double, Long, Double, Long)].head() === expect)
    // NOT claimed: non-integral column / unindexed secondary
    assert(!h.toDF.agg(sum($"c_acctbal"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    val h2 = IndexedFrame.index(cust, "c_custkey")
    assert(!h2.toDF.agg(sum($"c_nationkey"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
  }

  test("histogram-served sum stays exact past 2^53 (no Double round-trip)") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    import spark.implicits._
    // 2^53 + 1 is the first Long a Double cannot represent: a
    // Double-valued histogram would silently return 2^53 here
    val big = (1L << 53) + 1L
    val df = Seq((1L, big), (2L, big), (3L, 5L)).toDF("k", "v")
    val h = IndexedFrame.index(df, "k").addSecondaryIndex("v", ordered = true)
    h.toDF.count()
    val q = h.toDF.agg(sum($"v").as("s"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"),
      s"expected stats pushdown:\n${q.queryExecution.executedPlan}")
    assert(q.as[(Long, Long)].head() === ((big + big + 5L, 3L)))
  }

  test("count(col) and secondary min/max from inverted-index structure") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.index(cust, "c_custkey")
      .addSecondaryIndex("c_nationkey", ordered = true)
    h.toDF.count()
    val q = h.toDF.agg(count($"c_nationkey").as("nn"),
      min($"c_nationkey").as("mn"), max($"c_nationkey").as("mx"),
      count($"c_custkey").as("nk"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"),
      s"expected stats pushdown:\n${q.queryExecution.executedPlan}")
    val expect = cust.agg(count($"c_nationkey").as("nn"),
      min($"c_nationkey").as("mn"), max($"c_nationkey").as("mx"),
      count($"c_custkey").as("nk"), count(lit(1)).as("n"))
      .as[(Long, Int, Int, Long, Long)].head()
    assert(q.as[(Long, Int, Int, Long, Long)].head() === expect)
    // repeats answer from the memos: still exact
    assert(q.as[(Long, Int, Int, Long, Long)].head() === expect)
    // UNORDERED secondary: count(col) still claims (postings exist),
    // min/max need the value order and fall through
    val hu = IndexedFrame.index(cust, "c_custkey").addSecondaryIndex("c_nationkey")
    val qc = hu.toDF.agg(count($"c_nationkey").as("nn"))
    assert(qc.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qc.as[Long].head() ===
      cust.agg(count($"c_nationkey")).as[Long].head())
    assert(!hu.toDF.agg(min($"c_nationkey"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    // unindexed column: falls through whole
    assert(!h.toDF.agg(count($"c_acctbal"))
      .queryExecution.executedPlan.toString.contains("IndexedStats"))
    // NULLs: count(col) excludes them (postings do too); min/max skip
    val dn = (0L until 100L).map(k =>
      (k, if (k % 4 == 0) null else java.lang.Long.valueOf(k % 9))).toDF("k", "g")
    val hn = IndexedFrame.index(dn, "k").addSecondaryIndex("g", ordered = true)
    val qn = hn.toDF.agg(count($"g").as("nn"), min($"g").as("mn"),
      max($"g").as("mx"), count(lit(1)).as("n"))
    assert(qn.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(qn.as[(Long, Long, Long, Long)].head() === ((75L, 0L, 8L, 100L)))
  }

  test("percentile of an empty index is NULL, matching SQL semantics") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedAgg.enable(spark)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val h = IndexedFrame.indexRangePartitioned(cust, "c_custkey", 4)
    val empty = h.deleteFrame(cust.select($"c_custkey"))
    val q = empty.toDF.agg(median($"c_custkey").as("m"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q.collect().head.isNullAt(0))
  }

  private implicit class Tup4Ops(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
  }
}

package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/** SQL-visible indexed joins: an inner equi-join on the key columns of
  * two indexed handles plans as the engine's zip join — no Exchange,
  * no hash build — and returns exactly what the default plan returns. */
class IndexedJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def fixtures() = {
    val cust = (1L to 500L).map(k => (k, s"name$k", k % 7)).toDF("k", "name", "grp")
    val bal = (1L to 400L).map(k => (k, k * 1.5)).toDF("k2", "bal")
    (cust, bal)
  }

  test("indexed equi-join plans as IndexedZipJoin with zero shuffle; results match default join") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle in plan:\n$plan")
    val expected = cust.join(bal, $"k" === $"k2").collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
    assert(joined.count() === 400)
  }

  test("zipfian probe: duplicate keys keep SQL multiplicity through the memoized probe") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cust = (1L to 500L).map(k => (k, s"name$k", k % 7)).toDF("k", "name", "grp")
    val h = IndexedFrame.index(cust, "k", numPartitions = 8)
    // 2000 probes over 3 hot keys + a hot MISS key: every duplicate
    // must emit (or miss) independently — the per-task probe memo may
    // only dedupe the trie descents, never the output rows
    val probe = ((1 to 800).map(_ => 7L) ++ (1 to 700).map(_ => 13L) ++
      (1 to 400).map(_ => 490L) ++ (1 to 100).map(_ => 99999L))
      .toDF("pk")
    val joined = h.toDF.join(probe, $"k" === $"pk")
    assert(joined.count() === 800 + 700 + 400)
    assert(joined.filter($"k" === 7L).count() === 800)
    val outer = probe.join(h.toDF, $"pk" === $"k", "left")
    assert(outer.count() === 2000)
    assert(outer.filter($"k".isNull).count() === 100)
  }

  test("LEFT SEMI and LEFT ANTI plan as existence probes, no Exchange, results match") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Seq("left_semi", "left_anti").foreach { jt =>
      val q = h1.toDF.join(h2.toDF, $"k" === $"k2", jt).select($"k", $"name")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedZipJoin"), s"$jt expected indexed join:\n$plan")
      assert(!plan.contains("Exchange"), s"$jt expected no shuffle:\n$plan")
      val expected = cust.join(bal, $"k" === $"k2", jt).select($"k", $"name")
        .collect().map(_.toSeq).toSet
      assert(q.collect().map(_.toSeq).toSet === expected, jt)
    }
    // polarity sanity: semi ∪ anti = all left rows, disjoint
    val semi = h1.toDF.join(h2.toDF, $"k" === $"k2", "left_semi")
      .select($"k").as[Long].collect().toSet
    val anti = h1.toDF.join(h2.toDF, $"k" === $"k2", "left_anti")
      .select($"k").as[Long].collect().toSet
    assert(semi.intersect(anti).isEmpty)
    assert((semi ++ anti) === (1L to 500L).toSet)
    assert(semi === (1L to 400L).toSet)
  }

  test("a group-by on the key above a SEMI join needs no exchange") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val agg = h1.toDF.join(h2.toDF, $"k" === $"k2", "left_semi")
      .groupBy($"k").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"semi-join output is key-clustered:\n$plan")
    assert(agg.count() === 400)
  }

  test("pruned projections over the join select the right columns") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 4)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 4)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2")
      .select($"name", $"bal")
    val rows = joined.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows === (1L to 400L).map(k => (s"name$k", k * 1.5)).toSet)
  }

  test("aggregation on top of the indexed join matches the default plan") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val agg = h1.toDF.join(h2.toDF, $"k" === $"k2")
      .groupBy($"grp").agg(org.apache.spark.sql.functions.sum($"bal").as("t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val expected = cust.join(bal, $"k" === $"k2")
      .groupBy($"grp").agg(org.apache.spark.sql.functions.sum($"bal").as("t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(agg === expected)
  }

  test("conjunctive condition: key equality plans indexed, residual filters above") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2" && $"bal" > 150.0 && $"grp" =!= 3L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle in plan:\n$plan")
    val expected = cust.join(bal, $"k" === $"k2" && $"bal" > 150.0 && $"grp" =!= 3L)
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
  }

  test("groupBy on the join key runs with NO exchange above the indexed join") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val agg = h1.toDF.join(h2.toDF, $"k" === $"k2")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"bal").as("t"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    // the join output reports key-clustered partitioning, so the
    // aggregation's ClusteredDistribution(k) is already satisfied
    assert(!plan.contains("Exchange"), s"expected no shuffle in plan:\n$plan")
    val got = agg.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val expected = cust.join(bal, $"k" === $"k2")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"bal").as("t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === expected)
  }

  test("string-keyed handles join through the indexed path") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val a = (1L to 300L).map(k => (s"key$k", k)).toDF("ka", "va")
    val b = (100L to 400L).map(k => (s"key$k", k * 10)).toDF("kb", "vb")
    val h1 = IndexedFrame.indexString(a, "ka", numPartitions = 4)
    val h2 = IndexedFrame.indexString(b, "kb", numPartitions = 4)
    val joined = h1.toDF.join(h2.toDF, $"ka" === $"kb")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    val got = joined.select($"va", $"vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (100L to 300L).map(k => (k, k * 10)).toSet)
  }

  test("left outer join on the key plans indexed; unmatched left rows null-extend") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2", "left_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle in plan:\n$plan")
    val got = joined.collect().map(_.toSeq).toSet
    val expected = cust.join(bal, $"k" === $"k2", "left_outer")
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(joined.count() === 500)
    assert(joined.filter($"bal".isNull).count() === 100)
  }

  test("mismatched partition counts: indexed plan still correct (right side shuffles)") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 3)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"))
    val expected = cust.join(bal, $"k" === $"k2").collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
  }

  test("full outer join on the key plans indexed; both sides null-extend") {
    IndexedJoin.enable(spark)
    val (cust, bal0) = fixtures()
    val bal = bal0.filter($"k2" > 50L).unionByName(
      Seq((601L, 601.5), (602L, 602.5)).toDF("k2", "bal")) // right-only keys
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2", "full_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle in plan:\n$plan")
    val got = joined.collect().map(_.toSeq).toSet
    val expected = cust.join(bal, $"k" === $"k2", "full_outer")
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(joined.filter($"k".isNull).count() === 2)   // right-only
    assert(joined.filter($"k2".isNull).count() === 150) // left-only (1-50, 401-500)
  }

  test("right outer join on the key plans indexed; unmatched right rows null-extend the left") {
    IndexedJoin.enable(spark)
    val (cust0, bal) = fixtures()
    val cust = cust0.filter($"k" <= 350L)
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val joined = h1.toDF.join(h2.toDF, $"k" === $"k2", "right_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected indexed join in plan:\n$plan")
    val got = joined.collect().map(_.toSeq).toSet
    val expected = cust.join(bal, $"k" === $"k2", "right_outer")
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(joined.count() === 400)
    assert(joined.filter($"k".isNull).count() === 50) // k2 in 351..400
  }

  test("a key-constraining filter under the join bails to the default planner (pruned point scan wins)") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // k = 5 makes the left side a 1-row point lookup — a full zip join
    // would be a massive regression, so the strategy must not fire
    val joined = h1.toDF.filter($"k" === 5L).join(h2.toDF, $"k" === $"k2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("IndexedZipJoin"), s"indexed join must bail:\n$plan")
    val got = joined.collect().map(_.toSeq).toSet
    val expected = cust.filter($"k" === 5L).join(bal, $"k" === $"k2")
      .collect().map(_.toSeq).toSet
    assert(got === expected && got.size === 1)
  }

  test("left outer: groupBy on the RIGHT key yields one NULL group (no false partitioning claim)") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 8)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // unmatched left rows scatter k2=NULL across partitions; claiming
    // right-key clustering would elide the aggregation exchange and
    // emit one NULL group per partition
    val agg = h1.toDF.join(h2.toDF, $"k" === $"k2", "left_outer")
      .select($"k2", $"bal")
      .groupBy($"k2").count()
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(agg(-1L) === 100L) // ONE null group holding all 100 unmatched rows
    assert(agg.size === 401)
  }

  test("non-key join conditions fall back to the default planner") {
    IndexedJoin.enable(spark)
    val (cust, bal) = fixtures()
    val h1 = IndexedFrame.index(cust, "k", numPartitions = 4)
    val h2 = IndexedFrame.index(bal, "k2", numPartitions = 4)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // join on a NON-key column: must not hit the indexed path
    val joined = h1.toDF.join(h2.toDF, $"grp" === $"k2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("IndexedZipJoin"))
    val expected = cust.join(bal, $"grp" === $"k2").count()
    assert(joined.count() === expected)
  }

  test("composite handles zip-join on BOTH key columns; prefix or cross-pair equalities bail") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val left = (1L to 300L).map(k => (k % 10, k, s"L$k")).toDF("a", "b", "lv")
    val right = (1L to 240L).map(k => (k % 10, k, k * 2.0)).toDF("a2", "b2", "rv")
    val h1 = IndexedFrame.indexCompositeN(left, Seq("a", "b"), numPartitions = 8)
    val h2 = IndexedFrame.indexCompositeN(right, Seq("a2", "b2"), numPartitions = 8)
    val joined = h1.toDF.join(h2.toDF, $"a" === $"a2" && $"b" === $"b2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected composite zip join:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
    val expected = left.join(right, $"a" === $"a2" && $"b" === $"b2")
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
    assert(joined.count() === 240)
    // a PREFIX equality (leading column only) cannot be served by the
    // whole-key zip — default planner, results still right
    val prefix = h1.toDF.join(h2.toDF, $"a" === $"a2")
    assert(!prefix.queryExecution.executedPlan.toString.contains("IndexedZipJoin"))
    assert(prefix.count() === left.join(right, $"a" === $"a2").count())
    // CROSS-pair equalities (a = b2, b = a2) are not the tuple key
    val crossed = h1.toDF.join(h2.toDF, $"a" === $"b2" && $"b" === $"a2")
    assert(!crossed.queryExecution.executedPlan.toString.contains("IndexedZipJoin"))
    assert(crossed.count() ===
      left.join(right, $"a" === $"b2" && $"b" === $"a2").count())
    // composite never zip-joins a single-key handle (key types differ)
    val single = IndexedFrame.index(
      (1L to 100L).map(k => (k, k)).toDF("b3", "x"), "b3", numPartitions = 8)
    val mixed = h1.toDF.join(single.toDF, $"b" === $"b3")
    assert(!mixed.queryExecution.executedPlan.toString.contains("IndexedZipJoin"))
    assert(mixed.count() === 100)
  }

  test("groupBy on BOTH composite keys above the composite zip join needs no exchange") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val left = (1L to 300L).map(k => (k % 10, k, k * 1.5)).toDF("a", "b", "lv")
    val right = (1L to 240L).map(k => (k % 10, k, k * 2.0)).toDF("a2", "b2", "rv")
    val h1 = IndexedFrame.indexCompositeN(left, Seq("a", "b"), numPartitions = 8)
    val h2 = IndexedFrame.indexCompositeN(right, Seq("a2", "b2"), numPartitions = 8)
    val agg = h1.toDF.join(h2.toDF, $"a" === $"a2" && $"b" === $"b2")
      .groupBy($"a", $"b")
      .agg(org.apache.spark.sql.functions.sum($"rv").as("t"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected composite zip join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"pair-clustered output should satisfy a both-keys groupBy:\n$plan")
    val expected = left.join(right, $"a" === $"a2" && $"b" === $"b2")
      .groupBy($"a", $"b")
      .agg(org.apache.spark.sql.functions.sum($"rv").as("t"))
      .collect().map(_.toSeq).toSet
    assert(agg.collect().map(_.toSeq).toSet === expected)
    // a SUPERSET clustering (a, b, extra) is also satisfied — equal
    // (a, b, lv) triples agree on (a, b), hence co-located
    val wider = h1.toDF.join(h2.toDF, $"a" === $"a2" && $"b" === $"b2")
      .groupBy($"a", $"b", $"lv").count()
    assert(!wider.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("string-lead composite handles zip-join on both key columns") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val left = (1L to 300L).map(k => (s"g${k % 7}", k, s"L$k")).toDF("g", "b", "lv")
    val right = (1L to 250L).map(k => (s"g${k % 7}", k, k * 2.0)).toDF("g2", "b2", "rv")
    val h1 = IndexedFrame.indexCompositeN(left, Seq("g", "b"), numPartitions = 8)
    val h2 = IndexedFrame.indexCompositeN(right, Seq("g2", "b2"), numPartitions = 8)
    val joined = h1.toDF.join(h2.toDF, $"g" === $"g2" && $"b" === $"b2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected string-lead composite zip join:\n$plan")
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
    val expected = left.join(right, $"g" === $"g2" && $"b" === $"b2")
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet === expected)
    assert(joined.count() === 250)
    // a string-lead composite never zip-joins an integral-lead one
    // (key type tags differ even at equal arity)
    val intLead = IndexedFrame.indexCompositeN(
      (1L to 100L).map(k => (k % 7, k, k * 1.0)).toDF("a3", "b3", "v3"),
      Seq("a3", "b3"), numPartitions = 8)
    val mixed = h1.toDF.join(intLead.toDF, $"b" === $"b3" && $"g" === $"a3".cast("string"))
    assert(!mixed.queryExecution.executedPlan.toString.contains("IndexedZipJoin"))
  }

  test("groupBy on ONE composite key still exchanges (pair hash is not a-clustered)") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val left = (1L to 300L).map(k => (k % 10, k, k * 1.5)).toDF("a", "b", "lv")
    val right = (1L to 240L).map(k => (k % 10, k, k * 2.0)).toDF("a2", "b2", "rv")
    val h1 = IndexedFrame.indexCompositeN(left, Seq("a", "b"), numPartitions = 8)
    val h2 = IndexedFrame.indexCompositeN(right, Seq("a2", "b2"), numPartitions = 8)
    val agg = h1.toDF.join(h2.toDF, $"a" === $"a2" && $"b" === $"b2")
      .groupBy($"a")
      .agg(org.apache.spark.sql.functions.sum($"rv").as("t"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"single-column clustering must NOT be claimed by the pair hash:\n$plan")
    val expected = left.join(right, $"a" === $"a2" && $"b" === $"b2")
      .groupBy($"a")
      .agg(org.apache.spark.sql.functions.sum($"rv").as("t"))
      .collect().map(_.toSeq).toSet
    assert(agg.collect().map(_.toSeq).toSet === expected)
  }

  test("lookup join: arbitrary probe plan point-probes the corpus, all shapes") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (1L to 1000L).map(k => (k, s"v$k", k % 9)).toDF("k", "v", "g")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    // probe: derived, NOT indexed; dup keys + misses + a null key
    def probe() = spark.createDataFrame(
      Seq[(java.lang.Long, String)]((3L, "a"), (3L, "b"), (5000L, "c"),
        (null, "d"), (7L, "e"))).toDF("pk", "tag")
    def run(q: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame, claim: Boolean = true): Unit = {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedLookupJoin") == claim,
        s"claim=$claim mismatch in:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq ===
        e.collect().map(_.toString).sorted.toSeq)
    }
    val hd = h.toDF
    // inner both orientations; dup probe keys emit per probe row,
    // null probe keys never match
    run({ val p = probe(); hd.join(p, hd("k") === p("pk")) },
      { val p = probe(); corpus.join(p, corpus("k") === p("pk")) })
    run({ val p = probe(); p.join(hd, p("pk") === hd("k")) },
      { val p = probe(); p.join(corpus, p("pk") === corpus("k")) })
    // corpus-kept semi/anti
    run({ val p = probe(); hd.join(p, hd("k") === p("pk"), "left_semi") },
      { val p = probe(); corpus.join(p, corpus("k") === p("pk"), "left_semi") })
    run({ val p = probe(); hd.join(p, hd("k") === p("pk"), "left_anti") },
      { val p = probe(); corpus.join(p, corpus("k") === p("pk"), "left_anti") })
    // probe-kept shapes claim with NULLABLE keys too: null-keyed probe
    // rows never match — semi drops them, anti and outer keep them as
    // guaranteed misses (SQL semantics)
    run({ val p = probe(); p.join(hd, p("pk") === hd("k"), "left_semi") },
      { val p = probe(); p.join(corpus, p("pk") === corpus("k"), "left_semi") })
    run({ val p = probe(); p.join(hd, p("pk") === hd("k"), "left_anti") },
      { val p = probe(); p.join(corpus, p("pk") === corpus("k"), "left_anti") })
    run({ val p = probe(); p.join(hd, p("pk") === hd("k"), "left") },
      { val p = probe(); p.join(corpus, p("pk") === corpus("k"), "left") })
    // non-nullable probe keys
    def probeNN() = spark.range(1, 40).select(($"id" * 30).as("pk"),
      ($"id" + 1000).as("tag"))
    run({ val p = probeNN(); p.join(hd, p("pk") === hd("k"), "left") },
      { val p = probeNN(); p.join(corpus, p("pk") === corpus("k"), "left") })
    run({ val p = probeNN(); p.join(hd, p("pk") === hd("k"), "left_anti") },
      { val p = probeNN(); p.join(corpus, p("pk") === corpus("k"), "left_anti") })
    // corpus-side filter + residual conjunct lift above an inner claim
    run({ val p = probeNN()
      hd.filter(hd("g") === 3).join(p, hd("k") === p("pk") && p("tag") > 1005) },
      { val p = probeNN()
        corpus.filter(corpus("g") === 3)
          .join(p, corpus("k") === p("pk") && p("tag") > 1005) })
  }

  test("lookup join: driver-mediated and shuffled probe paths agree") {
    // autoBroadcastJoinThreshold gates the driver-mediated small-probe
    // path (the same signal as Catalyst's broadcast decision): -1
    // forces the shuffled path; both must produce identical rows for
    // every probe-kept shape, null keys included
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    val hd = h.toDF
    def probe() = spark.createDataFrame(
      Seq[(java.lang.Long, String)]((2L, "a"), (2L, "b"), (9999L, "c"),
        (null, "d"), (11L, "e"))).toDF("pk", "tag")
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thrKey)
    val hBand = IndexedFrame.indexRangePartitioned(
      (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v"), "k", 8)
    val hbd = hBand.toDF
    def bandProbe() = spark.range(0, 30)
      .select(($"id" * 17).as("lo"), ($"id" * 17 + 5).as("hi"))
    def shapes(): Seq[Seq[String]] = Seq(
      { val p = probe(); hd.join(p, hd("k") === p("pk")) },
      { val p = probe(); p.join(hd, p("pk") === hd("k"), "left") },
      { val p = probe(); p.join(hd, p("pk") === hd("k"), "left_semi") },
      { val p = probe(); p.join(hd, p("pk") === hd("k"), "left_anti") },
      { val p = bandProbe() // band join: interval-routed local path
        hbd.join(p, hbd("k") >= p("lo") && hbd("k") <= p("hi")) },
    ).map(_.collect().map(_.toString).sorted.toSeq)
    try {
      val viaLocal = shapes() // tiny stats: small-probe path
      spark.conf.set(thrKey, "-1")
      val viaShuffle = shapes()
      assert(viaLocal === viaShuffle)
    } finally spark.conf.set(thrKey, saved)
  }

  test("N-ary composite handles join: 3-column lookup and zip joins") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (for (t <- 1L to 5L; e <- 1L to 20L; v <- 1L to 3L)
      yield (t, e, v, t * 10000 + e * 10 + v)).toDF("a", "b", "c", "pay")
    val h = IndexedFrame.indexCompositeN(corpus, Seq("a", "b", "c"),
      numPartitions = 8)
    val hd = h.toDF
    // lookup join: probe equates ALL THREE key columns; dups, misses,
    // and a null component behave like SQL
    def probe() = spark.createDataFrame(Seq[(java.lang.Long, java.lang.Long,
        java.lang.Long, String)](
      (2L, 3L, 1L, "x"), (2L, 3L, 1L, "y"), (5L, 20L, 3L, "z"),
      (9L, 9L, 9L, "miss"), (null, 1L, 1L, "null"))).toDF("pa", "pb", "pc", "tag")
    val q = { val p = probe()
      p.join(hd, p("pa") === hd("a") && p("pb") === hd("b") && p("pc") === hd("c")) }
    assert(q.queryExecution.executedPlan.toString.contains("IndexedLookupJoin"),
      q.queryExecution.executedPlan.toString)
    val e = { val p = probe()
      p.join(corpus, p("pa") === corpus("a") && p("pb") === corpus("b") &&
        p("pc") === corpus("c")) }
    assert(q.collect().map(_.toString).sorted.toSeq ===
      e.collect().map(_.toString).sorted.toSeq)
    // probe-kept outer/semi/anti parity (null components kept/dropped
    // per SQL)
    for (jt <- Seq("left", "left_semi", "left_anti")) {
      val qi = { val p = probe()
        p.join(hd, p("pa") === hd("a") && p("pb") === hd("b") &&
          p("pc") === hd("c"), jt) }
      val ei = { val p = probe()
        p.join(corpus, p("pa") === corpus("a") && p("pb") === corpus("b") &&
          p("pc") === corpus("c"), jt) }
      assert(qi.collect().map(_.toString).sorted.toSeq ===
        ei.collect().map(_.toString).sorted.toSeq, s"join type $jt")
    }
    // zip join: two co-partitioned N-ary handles equate whole keys
    // with no exchange
    val other = (for (t <- 1L to 5L; e <- 1L to 20L; v <- 1L to 3L)
      yield (t, e, v, s"o-$t-$e-$v")).toDF("a2", "b2", "c2", "tag2")
    val h2 = IndexedFrame.indexCompositeN(other, Seq("a2", "b2", "c2"),
      numPartitions = 8)
    val h2d = h2.toDF
    val zq = hd.join(h2d, hd("a") === h2d("a2") &&
      hd("b") === h2d("b2") && hd("c") === h2d("c2"))
    val zplan = zq.queryExecution.executedPlan.toString
    assert(zplan.contains("IndexedZipJoin"), zplan)
    assert(!zplan.contains("Exchange"), s"expected exchange-free zip:\n$zplan")
    assert(zq.count() === corpus.count())
    h.idx.unpersist(); h2.idx.unpersist()
  }

  test("secondary lookup join: probe values expand through postings to point fetches") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // corpus with NULLs in the secondary column
    val corpus = (1L to 800L).map(k =>
      (k, if (k % 50 == 0) null else s"g${k % 13}", k * 2)).toDF("k", "grp", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
      .addSecondaryIndex("grp")
    val hd = h.toDF
    // probe with dup values, misses, and a null
    def probe() = spark.createDataFrame(Seq[(String, java.lang.Long)](
      ("g3", 1L), ("g3", 2L), ("g7", 3L), ("zz", 4L), (null, 5L)))
      .toDF("pg", "tag")
    def run(q: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame, claim: Boolean = true): Unit = {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LkSecInner") == claim, s"claim=$claim:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq ===
        e.collect().map(_.toString).sorted.toSeq)
    }
    run({ val p = probe(); hd.join(p, hd("grp") === p("pg")) },
      { val p = probe(); corpus.join(p, corpus("grp") === p("pg")) })
    run({ val p = probe(); p.join(hd, p("pg") === hd("grp")) },
      { val p = probe(); p.join(corpus, p("pg") === corpus("grp")) })
    // corpus filter + residual lift above
    run({ val p = probe()
      hd.filter(hd("v") > 100).join(p, hd("grp") === p("pg") && p("tag") =!= 2L) },
      { val p = probe()
        corpus.filter(corpus("v") > 100)
          .join(p, corpus("grp") === p("pg") && p("tag") =!= 2L) })
    // probe-kept LEFT OUTER claims: misses (incl. null probe values)
    // null-extend, matches expand through postings
    val qo = { val p = probe(); p.join(hd, p("pg") === hd("grp"), "left") }
    assert(qo.queryExecution.executedPlan.toString.contains("LkSecOuter"),
      qo.queryExecution.executedPlan.toString)
    val eo = { val p = probe(); p.join(corpus, p("pg") === corpus("grp"), "left") }
    assert(qo.collect().map(_.toString).sorted.toSeq ===
      eo.collect().map(_.toString).sorted.toSeq)
    // corpus-kept outer / semi still fall through on the secondary
    run({ val p = probe(); hd.join(p, hd("grp") === p("pg"), "left_semi") },
      { val p = probe(); corpus.join(p, corpus("grp") === p("pg"), "left_semi") },
      claim = false)
    // unindexed column falls through
    val h2 = IndexedFrame.index(corpus, "k", numPartitions = 8)
    val hd2 = h2.toDF
    run({ val p = probe(); hd2.join(p, hd2("grp") === p("pg")) },
      { val p = probe(); corpus.join(p, corpus("grp") === p("pg")) },
      claim = false)
  }

  test("groupBy on the join key above a lookup join needs no exchange") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{count, lit, sum}
    val corpus = (1L to 900L).map(k => (k, k % 7, k * 1.0)).toDF("k", "g", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    val hd = h.toDF
    def probe() = spark.range(0, 300).select(($"id" * 3).as("pk"), $"id".as("tag"))
    // inner enrichment then aggregate per key: the lookup output is
    // key-clustered, so the aggregation runs exchange-free
    val q = { val p = probe()
      hd.join(p, hd("k") === p("pk"))
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("sv")) }
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedLookupJoin"), plan)
    assert(!plan.contains("Exchange"), s"expected exchange-free agg:\n$plan")
    val e = { val p = probe()
      corpus.join(p, corpus("k") === p("pk"))
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("sv")) }
    assert(q.collect().map(_.toString).sorted.toSeq ===
      e.collect().map(_.toString).sorted.toSeq)
    // secondary lookup clusters by the PRIMARY key
    val hs = IndexedFrame.index(corpus, "k", numPartitions = 8)
      .addSecondaryIndex("g")
    val hsd = hs.toDF
    def probeG() = spark.range(0, 7).select($"id".as("pg"))
    val q2 = { val p = probeG()
      hsd.join(p, hsd("g") === p("pg"))
        .groupBy($"k").agg(count(lit(1)).as("n")) }
    val plan2 = q2.queryExecution.executedPlan.toString
    assert(plan2.contains("LkSecInner"), plan2)
    assert(!plan2.contains("Exchange"), s"expected exchange-free agg:\n$plan2")
    val e2 = { val p = probeG()
      corpus.join(p, corpus("g") === p("pg"))
        .groupBy($"k").agg(count(lit(1)).as("n")) }
    assert(q2.collect().map(_.toString).sorted.toSeq ===
      e2.collect().map(_.toString).sorted.toSeq)
  }

  test("asOfJoinFrame: batch point-in-time join via bounded floor descents") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val versions = (for (u <- 1L to 30L; v <- 1L to 20L)
      yield (u, v * 10L, u * 1000 + v)).toDF("vu", "vts", "value")
    val h = IndexedFrame.indexCompositeNRangePartitioned(versions, Seq("vu", "vts"), 8)
    // probes: exact hits, between versions, before-first (no match),
    // after-last (latest), unknown entity, dup probes, null entity
    val probe = spark.createDataFrame(Seq[(java.lang.Long, java.lang.Long, Long)](
      (1L, 100L, 1), (1L, 105L, 2), (2L, 5L, 3), (3L, 9999L, 4),
      (999L, 50L, 5), (1L, 105L, 6), (null, 50L, 7), (4L, 10L, 8)))
      .toDF("pu", "pt", "tag")
    val got = h.asOfJoinFrame(probe, Seq("pu"), "pt")
    assert(got.columns.toSeq === Seq("pu", "pt", "tag", "vu", "vts", "value"))
    val w = Window.partitionBy($"tag").orderBy($"vts".desc)
    val expect = probe.join(versions, $"pu" === $"vu" && $"vts" <= $"pt")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
      .select($"pu", $"pt", $"tag", $"vu", $"vts", $"value")
    assert(got.collect().map(_.toString).sorted.toSeq ===
      expect.collect().map(_.toString).sorted.toSeq)
    // probes with no floor (before-first, unknown entity, null) drop
    assert(got.count() === 5)
    // keepMisses = LEFT-OUTER: every probe kept, versions null-extend
    val outer = h.asOfJoinFrame(probe, Seq("pu"), "pt", keepMisses = true)
    assert(outer.count() === 8)
    val wE = Window.partitionBy($"tag").orderBy($"vts".desc_nulls_last)
    val expectOuter = probe.join(versions, $"pu" === $"vu" && $"vts" <= $"pt", "left")
      .withColumn("rn", row_number().over(wE)).filter($"rn" === 1).drop("rn")
      .select($"pu", $"pt", $"tag", $"vu", $"vts", $"value")
    assert(outer.collect().map(_.toString).sorted.toSeq ===
      expectOuter.collect().map(_.toString).sorted.toSeq)
  }

  test("IN/EXISTS subqueries rewrite to semi joins that ride the lookup path") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (1L to 600L).map(k => (k, k % 11, s"v$k")).toDF("k", "m", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    h.toDF.createOrReplaceTempView("corpus_idx")
    corpus.createOrReplaceTempView("corpus_plain")
    spark.range(0, 50).selectExpr("id * 9 AS pk")
      .createOrReplaceTempView("probe_v")
    for (pred <- Seq(
        "k IN (SELECT pk FROM probe_v)",
        "EXISTS (SELECT 1 FROM probe_v WHERE probe_v.pk = corpus_idx.k)",
        "k NOT IN (SELECT pk FROM probe_v)")) {
      val predPlain = pred.replace("corpus_idx", "corpus_plain")
      val q = spark.sql(s"SELECT k, v FROM corpus_idx WHERE $pred")
      val e = spark.sql(s"SELECT k, v FROM corpus_plain WHERE $predPlain")
      val plan = q.queryExecution.executedPlan.toString
      // NOT IN compiles to null-aware anti (a non-equi condition):
      // falls through; IN and EXISTS ride the corpus-kept lookup
      val expectClaim = !pred.startsWith("k NOT IN")
      assert(plan.contains("IndexedLookupJoin") == expectClaim,
        s"claim=$expectClaim for `$pred`:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq ===
        e.collect().map(_.toString).sorted.toSeq, pred)
    }
  }

  test("range (band) lookup join: interval-routed pruned trie scans") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (1L to 2000L).map(k => (k, k * 3)).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(corpus, "k", 8)
    val hd = h.toDF
    def probe() = spark.range(0, 40)
      .select(($"id" * 37).as("c"), $"id".as("tag"))
    def run(q: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame, claim: Boolean = true): Unit = {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("IndexedRangeLookupJoin") == claim,
        s"claim=$claim:\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq ===
        e.collect().map(_.toString).sorted.toSeq)
    }
    // BETWEEN over expression bounds (the band-join shape)
    run({ val p = probe()
      hd.join(p, hd("k") >= p("c") - 5L && hd("k") <= p("c") + 5L) },
      { val p = probe()
        corpus.join(p, corpus("k") >= p("c") - 5L && corpus("k") <= p("c") + 5L) })
    // strict bounds + probe on the left + residual conjunct
    run({ val p = probe()
      p.join(hd, hd("k") > p("c") && hd("k") < p("c") + 50L && p("tag") =!= 3L) },
      { val p = probe()
        p.join(corpus, corpus("k") > p("c") && corpus("k") < p("c") + 50L && p("tag") =!= 3L) })
    // flipped operand order (`lo <= k`)
    run({ val p = probe()
      hd.join(p, p("c") - 5L <= hd("k") && p("c") + 5L >= hd("k")) },
      { val p = probe()
        corpus.join(p, p("c") - 5L <= corpus("k") && p("c") + 5L >= corpus("k")) })
    // one-sided interval: falls through (would scan per probe row)
    run({ val p = probe(); hd.join(p, hd("k") >= p("c")) },
      { val p = probe(); corpus.join(p, corpus("k") >= p("c")) },
      claim = false)
    // hash layout cannot route intervals: falls through
    val hh = IndexedFrame.index(corpus, "k")
    val hhd = hh.toDF
    run({ val p = probe()
      hhd.join(p, hhd("k") >= p("c") - 5L && hhd("k") <= p("c") + 5L) },
      { val p = probe()
        corpus.join(p, corpus("k") >= p("c") - 5L && corpus("k") <= p("c") + 5L) },
      claim = false)
  }

  test("lookup join on a composite corpus probes full (a, b) keys") {
    IndexedJoin.enable(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val corpus = (for (a <- 1L to 40L; b <- 1L to 25L)
      yield (a, b, a * 100 + b)).toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeN(corpus, Seq("a", "b"), numPartitions = 8)
    val hd = h.toDF
    def probe() = spark.range(0, 60).select(($"id" % 45 + 1).as("pa"),
      ($"id" % 30 + 1).as("pb"), $"id".as("tag"))
    val q = { val p = probe()
      hd.join(p, hd("a") === p("pa") && hd("b") === p("pb")) }
    assert(q.queryExecution.executedPlan.toString.contains("IndexedLookupJoin"))
    val e = { val p = probe()
      corpus.join(p, corpus("a") === p("pa") && corpus("b") === p("pb")) }
    assert(q.collect().map(_.toString).sorted.toSeq ===
      e.collect().map(_.toString).sorted.toSeq)
    // a PREFIX equality (only `a`) on a HASH layout cannot route
    val qp = { val p = probe(); hd.join(p, hd("a") === p("pa")) }
    assert(!qp.queryExecution.executedPlan.toString.contains("IndexedLookupJoin"))
    val ep = { val p = probe(); corpus.join(p, corpus("a") === p("pa")) }
    assert(qp.collect().map(_.toString).sorted.toSeq ===
      ep.collect().map(_.toString).sorted.toSeq)
    // on a RANGE-partitioned composite the prefix join claims: each
    // probe fetches the entity's whole tuple run
    val hr = IndexedFrame.indexCompositeNRangePartitioned(corpus, Seq("a", "b"), 8)
    val hrd = hr.toDF
    val qr = { val p = probe(); hrd.join(p, hrd("a") === p("pa")) }
    assert(qr.queryExecution.executedPlan.toString.contains("LkPrefixInner"),
      qr.queryExecution.executedPlan.toString)
    val er = { val p = probe(); corpus.join(p, corpus("a") === p("pa")) }
    assert(qr.collect().map(_.toString).sorted.toSeq ===
      er.collect().map(_.toString).sorted.toSeq)
    // residual conjunct + groupBy on the full pair above: exchange-free
    import org.apache.spark.sql.functions.{count, lit}
    val qa = { val p = probe()
      hrd.join(p, hrd("a") === p("pa") && p("tag") =!= 5L)
        .groupBy(hrd("a"), hrd("b")).agg(count(lit(1)).as("n")) }
    val planA = qa.queryExecution.executedPlan.toString
    assert(planA.contains("LkPrefixInner") && !planA.contains("Exchange"), planA)
    val ea = { val p = probe()
      corpus.join(p, corpus("a") === p("pa") && p("tag") =!= 5L)
        .groupBy(corpus("a"), corpus("b")).agg(count(lit(1)).as("n")) }
    assert(qa.collect().map(_.toString).sorted.toSeq ===
      ea.collect().map(_.toString).sorted.toSeq)
  }
}

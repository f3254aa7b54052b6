package graft.sql

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.funsuite.AnyFunSuite

import graft.{IndexedRDD, SparkSessionFixture}

/** The point path's costs and results: `get`/`multiget` run one pruned
  * job that carries its keys in its tasks (no broadcast beside the task
  * binary), and a SQL point select served from a driver lane runs one
  * probe job on a memo miss and none on a hit — while every answer,
  * including those under joins, unions, subqueries, limits and
  * normalizing codecs, equals the plain-DataFrame answer. */
class PointPathSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._
  private implicit def sp: org.apache.spark.sql.SparkSession = spark

  /** What the scheduler saw while `body` ran: jobs, tasks run, and
    * distinct broadcast ids (listener events are async: poll until the
    * counts are stable). */
  private final case class Cost(jobs: Int, tasks: Int, broadcasts: Int)

  private def costOf[T](body: => T): (T, Cost) = {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val bcs = mutable.Set.empty[Long]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(t: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      // stored pieces only: the cleaner's removals of earlier
      // broadcasts post updates too, with an invalid storage level
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
        b.blockUpdatedInfo.blockId match {
          case id: BroadcastBlockId if b.blockUpdatedInfo.storageLevel.isValid =>
            bcs.synchronized { bcs += id.broadcastId }
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var last = -1
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get != last && System.nanoTime() < deadline) {
        last = jobs.get; Thread.sleep(150)
      }
      Thread.sleep(150)
      (r, Cost(jobs.get, tasks.get, bcs.synchronized(bcs.size)))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def jobsOf[T](body: => T): (T, Int) = {
    val (r, c) = costOf(body)
    (r, c.jobs)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def servedByPoint(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("IndexedPoint")

  test("get and multiget: one job over the owning partitions, no broadcast beside the task binary") {
    val sc = spark.sparkContext
    val r = IndexedRDD(sc.parallelize((1L to 4000L).map(k => (k, k * 3)), 8)).cached
    r.count()
    val part = r.partitioner.get
    val (one, c1) = costOf(r.get(77L))
    assert(one === Some(231L))
    assert(c1.jobs === 1 && c1.tasks === 1)
    assert(c1.broadcasts === 1, s"get created ${c1.broadcasts} broadcasts")
    val ks = Array(1L, 2L, 3L, 500L, 501L, 999999L)
    val owners = ks.map(part.getPartition).distinct.length
    val (many, c2) = costOf(r.multiget(ks))
    assert(many === Map(1L -> 3L, 2L -> 6L, 3L -> 9L, 500L -> 1500L, 501L -> 1503L))
    assert(c2.jobs === 1 && c2.tasks === owners)
    assert(c2.broadcasts === 1, s"multiget created ${c2.broadcasts} broadcasts")
    // an empty batch touches nothing
    val (none, c3) = costOf(r.multiget(Array.empty[Long]))
    assert(none.isEmpty && c3.jobs === 0)
    r.unpersist()
  }

  test("primary point select: 1 job on a memo miss, 0 on a hit, none at explain") {
    val corpus = (1L to 3000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    h.toDF.createOrReplaceTempView("pp_kv")
    val q = "SELECT v FROM pp_kv WHERE k = 1234"
    val (_, jExplain) = jobsOf(spark.sql(q).queryExecution.executedPlan)
    assert(jExplain === 0, s"planning a point select started $jExplain jobs")
    assert(servedByPoint(spark.sql(q)))
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 1)
    val (miss, jMiss) = jobsOf(spark.sql(q).as[String].collect().toSeq)
    assert(miss === Seq("v1234") && !h.lastProbeMemoHit)
    assert(jMiss === 1, s"memo miss started $jMiss jobs")
    val (hit, jHit) = jobsOf(spark.sql(q).as[String].collect().toSeq)
    assert(hit === Seq("v1234") && h.lastProbeMemoHit)
    assert(jHit === 0, s"memo hit started $jHit jobs")
  }

  test("catalog-table point select: 1 job on a miss, 0 on a repeat") {
    val path = java.nio.file.Files.createTempDirectory("graft_pointpath").toString
    spark.sql("DROP TABLE IF EXISTS pp_cat")
    (1L to 500L).map(k => (k, k % 7, k * 0.25)).toDF("id", "grp", "amt")
      .createOrReplaceTempView("pp_cat_src")
    spark.sql(s"""CREATE TABLE pp_cat USING graft OPTIONS (key 'id')
      |LOCATION '$path/t' AS SELECT * FROM pp_cat_src""".stripMargin)
    try {
      spark.sql("SELECT count(*) FROM pp_cat").collect()
      GraftTables.awaitFolds()
      val q = "SELECT id, grp, amt FROM pp_cat WHERE id = 321"
      val (miss, jMiss) = jobsOf(spark.sql(q).collect().toSeq)
      assert(miss === Seq(Row(321L, 6L, 80.25)))
      assert(jMiss === 1, s"catalog point select (miss) started $jMiss jobs")
      val (hit, jHit) = jobsOf(spark.sql(q).collect().toSeq)
      assert(hit === miss)
      assert(jHit === 0, s"catalog point select (repeat) started $jHit jobs")
    } finally spark.sql("DROP TABLE IF EXISTS pp_cat")
  }

  test("a point-filtered relation under a join, a UNION and a subquery") {
    val corpus = (1L to 2000L).map(k => (k, k % 10, s"v$k")).toDF("k", "g", "v")
    IndexedFrame.index(corpus, "k", numPartitions = 8).toDF
      .createOrReplaceTempView("pp_idx")
    corpus.createOrReplaceTempView("pp_plain")
    (1L to 20L).map(g => (g % 10, s"d$g")).toDF("g", "d")
      .createOrReplaceTempView("pp_dim")
    for (t <- Seq(
        "SELECT x.k, x.v, d.d FROM %s x JOIN pp_dim d ON x.g = d.g WHERE x.k IN (5, 17, 1999)",
        "SELECT k, v FROM %1$s WHERE k = 3 UNION ALL SELECT k, v FROM %1$s WHERE k IN (4, 4000)",
        "SELECT k, v FROM %1$s WHERE k = 8 UNION SELECT k, v FROM %1$s WHERE k = 8",
        "SELECT k FROM %1$s WHERE g IN (SELECT g FROM %1$s WHERE k = 12) AND k < 40",
        "SELECT k, (SELECT v FROM %1$s WHERE k = 77) AS w FROM %1$s WHERE k IN (1, 2)",
        "SELECT count(*), max(v) FROM %s WHERE k IN (10, 20, 30, 40000)")) {
      val got = spark.sql(t.format("pp_idx", "pp_idx"))
      val want = spark.sql(t.format("pp_plain", "pp_plain"))
      assert(sorted(got) === sorted(want), t)
      assert(sorted(got).nonEmpty, t)
      assert(servedByPoint(got), s"no driver lane in:\n${got.queryExecution.executedPlan}")
    }
  }

  test("show(), take(n) and head() serve from the driver lane") {
    val corpus = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 4)
    val df = h.toDF.filter($"k".isin(3L, 4L, 5L, 600L)).select($"v")
    assert(servedByPoint(df))
    df.show()
    val two = df.take(2).map(_.getString(0))
    assert(two.length === 2 && two.toSet.subsetOf(Set("v3", "v4", "v5")))
    assert(Set("v3", "v4", "v5").contains(df.head().getString(0)))
    assert(df.limit(10).as[String].collect().toSet === Set("v3", "v4", "v5"))
    assert(df.count() === 3)
  }

  test("IN lists with NULLs and unparseable literals match like Spark") {
    val corpus = (1L to 300L).map(k => (k, s"v$k")).toDF("k", "v")
    val idx = IndexedFrame.index(corpus, "k", numPartitions = 4).toDF
    val uuids = (1L to 50L).map(k => (f"00000000-0000-4000-8000-$k%012d", k)).toDF("id", "v")
    val uidx = IndexedFrame.indexUuid(uuids, "id").toDF
    val cases: Seq[(DataFrame, DataFrame)] = Seq(
      (idx, corpus) -> ((d: DataFrame) => d.filter($"k".isin(1L, null, 3L))),
      (idx, corpus) -> ((d: DataFrame) => d.filter($"k".isin(Seq[Any](null): _*))),
      (idx, corpus) -> ((d: DataFrame) => d.filter($"k" === lit(null).cast("long"))),
      (uidx, uuids) -> ((d: DataFrame) =>
        d.filter($"id".isin("not-a-uuid", null, "00000000-0000-4000-8000-000000000007"))),
      (uidx, uuids) -> ((d: DataFrame) => d.filter($"id" === "garbage"))
    ).map { case ((i, p), f) => (f(i), f(p)) }
    cases.foreach { case (got, want) =>
      assert(sorted(got) === sorted(want), got.queryExecution.logical.toString)
    }
  }

  test("uuid handle: the recheck drops rows a normalizing probe returns") {
    val df = ((1L to 60L).map(k => (f"00000000-0000-4000-8000-$k%012d", k)) :+
      ("00000000-0000-4000-8000-0000000000ab" -> 999L)).toDF("id", "v")
    val h = IndexedFrame.indexUuid(df, "id")
    val upper = h.toDF.filter($"id" === "00000000-0000-4000-8000-0000000000AB")
    assert(servedByPoint(upper))
    assert(upper.collect().isEmpty)
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 1)
    val lower = h.toDF.filter($"id".isin("00000000-0000-4000-8000-0000000000ab",
      "00000000-0000-4000-8000-0000000000AB")).select($"v")
    assert(lower.as[Long].collect().toSeq === Seq(999L))
  }

  test("2-column and N-column composite point lanes") {
    val base = (1L to 400L).map(i => (i % 20, i, i % 3, s"v$i")).toDF("a", "b", "c", "v")
    val h2 = IndexedFrame.indexCompositeN(base, Seq("a", "b"))
    val f2 = (d: DataFrame) => d.filter($"a" === 7L && $"b".isin(7L, 27L, 28L, 9999L))
    val got2 = f2(h2.toDF)
    assert(servedByPoint(got2))
    assert(sorted(got2) === sorted(f2(base)) && sorted(got2).length === 2)
    assert(h2.lastScanKind === "point" && h2.lastPointLookupKeys === 4)
    val hn = IndexedFrame.indexCompositeN(base, Seq("a", "b", "c"))
    val fn = (d: DataFrame) => d.filter($"a" === 7L && $"b" === 47L && $"c".isin(0L, 1L, 2L))
      .select($"v")
    val gotN = fn(hn.toDF)
    assert(servedByPoint(gotN))
    assert(sorted(gotN) === Seq("v47"))
    assert(hn.lastScanKind === "point" && hn.lastPointLookupKeys === 3)
    // a contradiction (no key can match) answers empty with no job
    val (empty, jEmpty) = jobsOf(hn.toDF.filter($"a" === 7L && $"b" === 47L &&
      $"c".isin(Seq[Any](null): _*)).collect())
    assert(empty.isEmpty && jEmpty === 0)
    // a residual on a value column still applies above the probe
    assert(hn.toDF.filter($"a" === 7L && $"b" === 47L && $"c" === 2L &&
      $"v" =!= "v47").collect().isEmpty)
  }

  test("secondary point probes, live and memo hits") {
    val corpus = (1L to 2000L).map(k => (k, k % 50, s"t${k % 7}", k * 2)).toDF("k", "grp", "tag", "x")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
      .addSecondaryIndex("grp").addSecondaryIndex("x", ordered = true)
    val q = (d: DataFrame) => d.filter($"grp" === 13L && $"tag" === "t3").select($"k")
    val (live, _) = jobsOf(sorted(q(h.toDF)))
    assert(live === sorted(q(corpus)) && live.nonEmpty)
    assert(h.lastScanKind === "secondary_point" && !h.lastProbeMemoHit)
    assert(h.lastPointLookupKeys === 40)
    val (again, jAgain) = jobsOf(sorted(q(h.toDF)))
    assert(again === live && h.lastProbeMemoHit)
    assert(jAgain === 0, s"secondary memo hit started $jAgain jobs")
    val r = (d: DataFrame) => d.filter($"x".between(100L, 140L)).select($"k", $"x")
    assert(servedByPoint(r(h.toDF)))
    assert(sorted(r(h.toDF)) === sorted(r(corpus)))
    assert(h.lastScanKind === "secondary_range")
    // over budget: the lane falls back to a scan at run time, and the
    // recheck keeps the answer exact
    h.SecondaryRouteBudget = 5
    try {
      val wide = (d: DataFrame) => d.filter($"grp" === 21L).select($"k")
      assert(sorted(wide(h.toDF)) === sorted(wide(corpus)))
      assert(h.lastScanKind === "full")
    } finally h.SecondaryRouteBudget = 100000
  }
}

package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/** The cross-query probe memo for driver-mediated lookup joins: a
  * REPEATED root collect of the same join (same snapshot, same probe
  * plan) must skip the probe-collect job and still answer correctly;
  * anything that could serve stale rows — a new snapshot, different
  * probe data, or a probe whose source is not a pure plan-defined
  * relation — must miss.
  */
class ProbeMemoSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._
  private implicit def sp: org.apache.spark.sql.SparkSession = spark

  /** Count Spark jobs started while running `body` (job events are
    * async: poll until the count is stable). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var last = -1
      val deadline = System.nanoTime() + 5000000000L
      while (jobs != last && System.nanoTime() < deadline) {
        last = jobs; Thread.sleep(150)
      }
      (r, jobs)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("repeat probe on the same snapshot skips the probe-collect job") {
    IndexedJoin.enable(spark)
    IndexedJoin.ProbeMemo.clear()
    val corpus = (1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    val hd = h.toDF
    def join() = {
      val p = spark.range(10, 60).select($"id".as("pk"))
      hd.join(p, hd("k") === p("pk"))
    }
    val expect = (10L until 60L).map(k => (k, s"v$k", k)).sortBy(_._1)
    val (first, jFirst) = jobsDuring(
      join().as[(Long, String, Long)].collect().sortBy(_._1))
    assert(first.toSeq === expect)
    // cold: the probe-collect job(s) + the pruned probe job
    assert(jFirst >= 2, s"cold run started only $jFirst job(s)")
    val (again, jAgain) = jobsDuring(
      join().as[(Long, String, Long)].collect().sortBy(_._1))
    assert(again.toSeq === expect)
    // warm: ONLY the pruned probe job — the memo served the probe rows
    assert(jAgain === 1, s"warm repeat started $jAgain job(s), expected 1")
    // a DIFFERENT probe misses (different Range bounds → different key)
    val p2 = spark.range(100, 120).select($"id".as("pk"))
    val (other, jOther) = jobsDuring(
      hd.join(p2, hd("k") === p2("pk"))
        .as[(Long, String, Long)].collect().sortBy(_._1))
    assert(other.toSeq === (100L until 120L).map(k => (k, s"v$k", k)))
    assert(jOther >= 2, "a different probe plan must re-collect")
  }

  test("a new snapshot (COW put) never serves the old memo entry") {
    IndexedJoin.enable(spark)
    IndexedJoin.ProbeMemo.clear()
    val corpus = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 4)
    def q(frame: org.apache.spark.sql.DataFrame) = {
      val p = spark.range(1, 5).select($"id".as("pk"))
      frame.join(p, frame("k") === p("pk"))
        .select(frame("v")).as[String].collect().sorted.toSeq
    }
    assert(q(h.toDF) === Seq("v1", "v2", "v3", "v4"))
    // warm the memo, then mutate: the NEW handle has a new RDD id, so
    // its first query re-collects and sees the updated corpus
    assert(q(h.toDF) === Seq("v1", "v2", "v3", "v4"))
    val h2 = h.upsertFrame(Seq((2L, "V2!")).toDF("k", "v"))
    assert(q(h2.toDF) === Seq("V2!", "v1", "v3", "v4"))
    // the old snapshot still answers from its own (unchanged) entry
    assert(q(h.toDF) === Seq("v1", "v2", "v3", "v4"))
  }

  test("file-scan probes are never memoized (mutable source)") {
    IndexedJoin.enable(spark)
    IndexedJoin.ProbeMemo.clear()
    val dir = java.nio.file.Files.createTempDirectory("probe_memo_fs")
      .toString
    (1L to 3L).map(k => (k, "x")).toDF("pk", "t")
      .write.mode("overwrite").parquet(dir)
    val corpus = (1L to 300L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 4)
    val hd = h.toDF
    def q() = {
      val p = spark.read.parquet(dir)
      hd.join(p, hd("k") === p("pk")).select(hd("v"))
        .as[String].collect().sorted.toSeq
    }
    assert(q() === Seq("v1", "v2", "v3"))
    // overwrite the files: the next run MUST see the new probe rows
    (5L to 6L).map(k => (k, "y")).toDF("pk", "t")
      .write.mode("overwrite").parquet(dir)
    assert(q() === Seq("v5", "v6"))
  }

  test("PRIMARY point probes memoize: a repeated key set runs zero probe jobs") {
    val corpus = (1L to 3000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.index(corpus, "k", numPartitions = 8)
    val hd = h.toDF
    val keys = (10L to 40L).map(Long.box)
    def q() = hd.filter($"k".isin(keys: _*))
      .select($"v").as[String].collect().sorted.toSeq
    val expect = (10L to 40L).map(k => s"v$k").sorted
    val (first, jFirst) = jobsDuring(q())
    assert(first === expect)
    assert(!h.lastProbeMemoHit && h.lastScanKind === "point")
    // a miss is the pruned multiget job alone: the rows it returns are
    // answered on the driver, never shipped back through a second job
    assert(jFirst === 1, s"point probe (memo miss) started $jFirst jobs")
    val (again, jAgain) = jobsDuring(q())
    assert(again === expect)
    assert(h.lastProbeMemoHit, "repeat point probe must serve from the memo")
    assert(jAgain === 0, s"memoized point probe started $jAgain jobs")
    // a different key set misses and probes live
    val (other, _) = jobsDuring(
      hd.filter($"k".isin((100L to 105L).map(Long.box): _*))
        .select($"v").as[String].collect().sorted.toSeq)
    assert(other === (100L to 105L).map(k => s"v$k").sorted)
    assert(!h.lastProbeMemoHit)
    // COW isolation: a mutated snapshot is a NEW handle with an empty
    // memo — the old entry cannot leak into it
    val h2 = h.upsertFrame(Seq((20L, "V20!")).toDF("k", "v"))
    val out2 = h2.toDF.filter($"k".isin(keys: _*))
      .select($"v").as[String].collect().sorted.toSeq
    assert(out2.contains("V20!") && !out2.contains("v20"))
  }
}

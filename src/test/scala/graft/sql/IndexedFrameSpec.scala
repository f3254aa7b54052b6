package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

class IndexedFrameSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._
  private implicit def sp: org.apache.spark.sql.SparkSession = spark
  private val dir = "/root/testdata/sf0.001"

  private def cust = spark.read.parquet(s"$dir/customer.parquet")

  test("key-equality SQL filters route into multiget point lookups") {
    val h = IndexedFrame.index(cust, "c_custkey")
    val out = h.toDF.filter($"c_custkey".isin(3L, 7L, 999999L))
      .select($"c_custkey", $"c_acctbal")
      .as[(Long, Double)].collect().toMap
    val expect = cust.filter($"c_custkey".isin(3L, 7L, 999999L))
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)].collect().toMap
    assert(out === expect && out.size === 2)
    assert(h.lastPointLookupKeys === 3) // served by the index, not a scan
  }

  test("single EqualTo routes through the index; residual filters still apply") {
    val h = IndexedFrame.index(cust, "c_custkey")
    val one = h.toDF.filter($"c_custkey" === 5L && $"c_acctbal" > -99999.0)
    assert(one.count() === 1)
    assert(h.lastPointLookupKeys === 1)
    // residual predicate can reject the fetched row
    val none = h.toDF.filter($"c_custkey" === 5L && $"c_acctbal" > 1e12)
    assert(none.count() === 0)
    assert(h.lastPointLookupKeys === 1)
  }

  test("non-key predicates fall back to the indexed full scan") {
    val h = IndexedFrame.index(cust, "c_custkey")
    val n = h.toDF.filter($"c_mktsegment" === "BUILDING").count()
    val expect = cust.filter($"c_mktsegment" === "BUILDING").count()
    assert(n === expect && n > 0)
    assert(h.lastPointLookupKeys === -1)
  }

  test("zone maps: analyzed value columns prune partitions on clustered predicates") {
    // key-clustered value: v = k, so a range-partitioned layout gives
    // each partition a narrow v interval
    val df = (0L until 1000L).map(k => (k, k, k.toDouble / 10.0, s"s$k"))
      .toDF("k", "v", "d", "s")
    val h = IndexedFrame.indexRangePartitioned(df, "k", 8).analyzeZones("v", "d")
    val total = h.idx.getNumPartitions
    // narrow long predicate: a handful of partitions survive
    val out = h.toDF.filter($"v" >= 300L && $"v" < 350L)
      .select($"k").as[Long].collect().toSet
    assert(out === (300L until 350L).toSet)
    assert(h.lastScanKind === "full_zone")
    assert(h.lastZoneKept < total && h.lastZoneKept >= 1,
      s"expected pruning: kept ${h.lastZoneKept} of $total")
    // double column prunes too
    val d = h.toDF.filter($"d" < 5.0).select($"k").as[Long].collect().toSet
    assert(d === (0L until 50L).toSet)
    assert(h.lastScanKind === "full_zone" && h.lastZoneKept < total)
    // un-analyzed / non-numeric predicates stay on the plain full lane
    assert(h.toDF.filter($"s" === "s5").count() === 1)
    assert(h.lastScanKind === "full")
    // an impossible predicate keeps zero partitions
    assert(h.toDF.filter($"v" > 5000L).count() === 0)
    assert(h.lastScanKind === "full_zone" && h.lastZoneKept === 0)
    // analyzing the key column is refused; STRING value columns are
    // zone-mappable (UTF-8 binary min/max — the rank-space ZORDER path
    // needs them) and prune equality probes on the clustered layout
    intercept[IllegalArgumentException](h.analyzeZones("k"))
    h.analyzeZones("s")
    assert(h.toDF.filter($"s" === "s5").count() === 1)
    assert(h.lastScanKind === "full_zone")
    assert(h.lastZoneKept < total && h.lastZoneKept >= 1,
      s"string zones kept ${h.lastZoneKept} of $total")
    // zone pruning never wrongly drops on an UNCORRELATED layout: the
    // hash-partitioned twin keeps everything but stays correct
    val hh = IndexedFrame.index(df, "k").analyzeZones("v")
    val hout = hh.toDF.filter($"v" >= 300L && $"v" < 350L)
      .select($"k").as[Long].collect().toSet
    assert(hout === out)
    assert(hh.lastScanKind === "full_zone")
  }

  test("zone maps prune composite full-lane scans too") {
    // (a, b) range-partitioned; value v clustered by the pair order
    val df = (0L until 1000L).map(k => (k / 100, k % 100, k, s"s$k"))
      .toDF("a", "b", "v", "s")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
      .analyzeZones("v")
    val total = h.idx.getNumPartitions
    val out = h.toDF.filter($"v" >= 300L && $"v" < 350L)
      .select($"v").as[Long].collect().toSet
    assert(out === (300L until 350L).toSet)
    assert(h.lastScanKind === "full_zone")
    assert(h.lastZoneKept < total && h.lastZoneKept >= 1)
    // key-lane predicates still win over the zone lane
    val lead = h.toDF.filter($"a" === 3L).select($"v").as[Long].collect().toSet
    assert(lead === (300L until 400L).toSet)
    assert(h.lastScanKind === "range")
    // key columns are not zone-mappable
    intercept[IllegalArgumentException](h.analyzeZones("a"))
    intercept[IllegalArgumentException](h.analyzeZones("b"))
  }

  test("secondary indexes: equality/IN on an inverted value column point-reads") {
    val df = (0L until 1000L).map(k =>
      (k, k % 7, if (k % 5 == 0) null else s"g${k % 3}", s"row$k"))
      .toDF("k", "grp", "cat", "v")
    val h = IndexedFrame.index(df, "k")
      .addSecondaryIndex("grp").addSecondaryIndex("cat")
    // long equality: only keys with grp == 2
    val out = h.toDF.filter($"grp" === 2L).select($"k").as[Long].collect().toSet
    assert(out === (0L until 1000L).filter(_ % 7 == 2).toSet)
    assert(h.lastScanKind === "secondary_point")
    assert(h.lastPointLookupKeys === out.size)
    // string IN incl. an unknown value; null-category rows never match
    val cats = h.toDF.filter($"cat".isin("g1", "zzz"))
      .select($"k").as[Long].collect().toSet
    assert(cats === (0L until 1000L).filter(k => k % 5 != 0 && k % 3 == 1).toSet)
    assert(h.lastScanKind === "secondary_point")
    // AND of two secondary filters intersects the key sets
    val both = h.toDF.filter($"grp" === 2L && $"cat" === "g1")
      .select($"k").as[Long].collect().toSet
    assert(both === (0L until 1000L)
      .filter(k => k % 7 == 2 && k % 5 != 0 && k % 3 == 1).toSet)
    assert(h.lastScanKind === "secondary_point")
    // unknown value matches nothing, still via the probe
    assert(h.toDF.filter($"grp" === 123L).count() === 0)
    assert(h.lastScanKind === "secondary_point")
    // equality on the PRIMARY key wins over the secondary route
    assert(h.toDF.filter($"k" === 5L && $"grp" === 5L).count() === 1)
    assert(h.lastScanKind === "point")
    // over-budget probes fall back to the full scan, same answers
    h.SecondaryRouteBudget = 10
    val fb = h.toDF.filter($"grp" === 2L).select($"k").as[Long].collect().toSet
    assert(fb === out)
    assert(h.lastScanKind === "full")
    h.SecondaryRouteBudget = 100000
    // the key column itself and absent columns are refused
    intercept[IllegalArgumentException](h.addSecondaryIndex("k"))
    intercept[IllegalArgumentException](h.addSecondaryIndex("nope"))
  }

  test("secondary probe memo: repeated predicates answer from the snapshot memo") {
    val df = (0L until 1000L).map(k => (k, k % 7, s"row$k")).toDF("k", "grp", "v")
    val h = IndexedFrame.index(df, "k").addSecondaryIndex("grp")
    val first = h.toDF.filter($"grp" === 3L).select($"k").as[Long].collect().toSet
    assert(!h.lastProbeMemoHit && h.lastScanKind === "secondary_point")
    // identical predicate: both probe jobs answered from the memo
    val second = h.toDF.filter($"grp" === 3L).select($"k").as[Long].collect().toSet
    assert(h.lastProbeMemoHit && second === first)
    assert(h.lastScanKind === "secondary_point")
    // the signature canonicalizes IN-value order
    h.toDF.filter($"grp".isin(1L, 2L)).count()
    h.toDF.filter($"grp".isin(2L, 1L)).count()
    assert(h.lastProbeMemoHit)
    // a shrunken budget bypasses wide memo entries like live probes
    h.SecondaryRouteBudget = 10
    val fb = h.toDF.filter($"grp" === 3L).select($"k").as[Long].collect().toSet
    assert(fb === first && h.lastScanKind === "full" && !h.lastProbeMemoHit)
    h.SecondaryRouteBudget = 100000
    // memo entries belong to the snapshot: an upsert returns a NEW
    // handle (cold memo, no inherited secondaries) that sees the new
    // row, so a stale cached answer can never leak across versions
    val h2 = h.upsertFrame(Seq((2000L, 3L, "rowX")).toDF("k", "grp", "v"))
      .addSecondaryIndex("grp")
    val upd = h2.toDF.filter($"grp" === 3L).select($"k").as[Long].collect().toSet
    assert(!h2.lastProbeMemoHit && upd === first + 2000L)
    assert(h2.lastScanKind === "secondary_point")
    // ...while the old snapshot still serves its memoized answer
    val again = h.toDF.filter($"grp" === 3L).select($"k").as[Long].collect().toSet
    assert(h.lastProbeMemoHit && again === first)
  }

  test("ByteType keys index, push down points and ranges, and round-trip externally") {
    val df = (0 until 120).map(i => (i.toByte, s"v$i")).toDF("k", "v")
    assert(df.schema("k").dataType === org.apache.spark.sql.types.ByteType)
    val h = IndexedFrame.index(df, "k", ordered = true)
    assert(h.toDF.filter($"k" === 7).select($"v").as[String].collect().toSeq
      === Seq("v7"))
    assert(h.lastScanKind === "point")
    assert(h.toDF.filter($"k".between(10, 13)).count() === 4)
    // "range" normally; "range_count" when another suite already
    // enabled IndexedAgg on the shared session (suite-order robust)
    assert(h.lastScanKind.startsWith("range"))
    // the external form narrows back to Byte (schema-faithful output)
    val row = h.toDF.filter($"k" === 7).select($"k").head()
    assert(row.get(0).isInstanceOf[Byte])
  }

  test("probe memo signatures never collide across distinct string predicates") {
    // IN ('a','b') and = 'a,b' would collide under naive comma-joined
    // signatures; a false memo hit serves the wrong key set and the
    // re-applied predicate above can only DROP rows — silent data loss
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a,b"), (4L, "2:a"))
      .toDF("k", "name")
    val h = IndexedFrame.index(df, "k").addSecondaryIndex("name")
    assert(h.toDF.filter($"name" === "a,b").select($"k").as[Long].collect().toSet
      === Set(3L))
    assert(h.toDF.filter($"name".isin("a", "b")).select($"k").as[Long].collect().toSet
      === Set(1L, 2L))
    assert(!h.lastProbeMemoHit) // distinct signature: a live probe, not the memo
    // length prefixes themselves can't be forged by value content
    assert(h.toDF.filter($"name" === "2:a").select($"k").as[Long].collect().toSet
      === Set(4L))
    assert(h.toDF.filter($"name" === "a").select($"k").as[Long].collect().toSet
      === Set(1L))
  }

  test("ordered secondary indexes route range predicates through trie scans") {
    // bal is decorrelated from the key layout (zone maps would keep
    // everything); the ordered inverted index still serves ranges
    val df = (0L until 1000L).map(k =>
      (k, (k * 37) % 1000, f"t${(k * 13) % 100}%02d", s"row$k"))
      .toDF("k", "bal", "tag", "v")
    val h = IndexedFrame.index(df, "k")
      .addSecondaryIndex("bal", ordered = true)
      .addSecondaryIndex("tag", ordered = true)
    def expectBal(lo: Long, hi: Long) =
      (0L until 1000L).filter(k => { val b = (k * 37) % 1000; b >= lo && b <= hi }).toSet
    val out = h.toDF.filter($"bal".between(100L, 120L))
      .select($"k").as[Long].collect().toSet
    assert(out === expectBal(100L, 120L) && out.nonEmpty)
    assert(h.lastScanKind === "secondary_range")
    // unbounded above closes at the domain max
    val top = h.toDF.filter($"bal" >= 990L).select($"k").as[Long].collect().toSet
    assert(top === expectBal(990L, 999L) && top.nonEmpty)
    assert(h.lastScanKind === "secondary_range")
    // string-typed ordered secondary serves ranges in UTF-8 order
    val st = h.toDF.filter($"tag" >= "t90").select($"k").as[Long].collect().toSet
    assert(st === (0L until 1000L).filter(k => f"t${(k * 13) % 100}%02d" >= "t90").toSet)
    assert(st.nonEmpty && h.lastScanKind === "secondary_range")
    // range AND equality secondaries intersect
    val both = h.toDF.filter($"bal" < 500L && $"tag" === "t00")
      .select($"k").as[Long].collect().toSet
    assert(both === (0L until 1000L)
      .filter(k => (k * 37) % 1000 < 500 && (k * 13) % 100 == 0).toSet)
    assert(h.lastScanKind === "secondary_range")
    // over-budget ranges fall back to the full scan, same answers
    h.SecondaryRouteBudget = 5
    val fb = h.toDF.filter($"bal".between(100L, 120L))
      .select($"k").as[Long].collect().toSet
    assert(fb === out)
    assert(h.lastScanKind === "full")
    h.SecondaryRouteBudget = 100000
    // an UNORDERED secondary never claims ranges (equality still does)
    val h2 = IndexedFrame.index(df, "k").addSecondaryIndex("bal")
    val u = h2.toDF.filter($"bal" < 10L).select($"k").as[Long].collect().toSet
    assert(u === expectBal(0L, 9L))
    assert(h2.lastScanKind === "full")
  }

  test("ORDER BY key LIMIT plans as IndexedTopK on range-partitioned handles") {
    IndexedTopK.enable(spark)
    val df = (0L until 2000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(df, "k", 8)
    // ascending head
    val asc = h.toDF.orderBy($"k").limit(7).select($"k").as[Long].collect()
    assert(asc.toSeq === (0L until 7L))
    assert(h.lastScanKind === "topk")
    // descending tail
    val desc = h.toDF.orderBy($"k".desc).limit(5).select($"k").as[Long].collect()
    assert(desc.toSeq === Seq(1999L, 1998L, 1997L, 1996L, 1995L))
    assert(h.lastScanKind === "topk")
    // the physical plan carries the custom node
    val plan = h.toDF.orderBy($"k").limit(3).queryExecution.executedPlan.toString
    assert(plan.contains("IndexedTopK"))
    // a filter in between disqualifies (falls back, stays correct)
    val f = h.toDF.filter($"v" =!= "v0").orderBy($"k").limit(2)
      .select($"k").as[Long].collect()
    assert(f.toSeq === Seq(1L, 2L))
    // non-key sort disqualifies
    val nk = h.toDF.orderBy($"v").limit(1).select($"v").as[String].collect()
    assert(nk.toSeq === Seq("v0"))
    // hash-layout handles fall through to Catalyst, same answers
    val hh = IndexedFrame.index(df, "k", ordered = true)
    val hAsc = hh.toDF.orderBy($"k").limit(4).select($"k").as[Long].collect()
    assert(hAsc.toSeq === (0L until 4L))
    assert(hh.lastScanKind !== "topk")
  }

  test("keyset pagination: WHERE key > cursor ORDER BY key LIMIT n is index-served") {
    IndexedTopK.enable(spark)
    val df = (0L until 2000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(df, "k", 8)
    // page after cursor 499 (exclusive)
    val p1 = h.toDF.filter($"k" > 499L).orderBy($"k").limit(5)
      .select($"k").as[Long].collect()
    assert(p1.toSeq === (500L to 504L))
    assert(h.lastScanKind === "topk")
    val plan = h.toDF.filter($"k" > 499L).orderBy($"k").limit(5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("IndexedTopK"))
    // last page of a bounded window, descending
    val pd = h.toDF.filter($"k".between(100L, 200L)).orderBy($"k".desc).limit(3)
      .select($"k").as[Long].collect()
    assert(pd.toSeq === Seq(200L, 199L, 198L))
    assert(h.lastScanKind === "topk")
    // provably-empty interval pages to nothing
    assert(h.toDF.filter($"k" > 100L && $"k" < 50L).orderBy($"k").limit(3)
      .collect().isEmpty)
    // a non-key conjunct disqualifies the claim (falls back, stays correct)
    val nf = h.toDF.filter($"v" === "v123" && $"k" > 0L).orderBy($"k").limit(2)
      .select($"k").as[Long].collect()
    assert(nf.toSeq === Seq(123L))
    // paging the whole table 100 at a time reconstructs the sorted corpus
    var cursor = -1L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var done = false
    while (!done) {
      val page = h.toDF.filter($"k" > cursor).orderBy($"k").limit(100)
        .select($"k").as[Long].collect()
      if (page.isEmpty) done = true
      else { seen ++= page; cursor = page.last }
    }
    assert(seen.toSeq === (0L until 2000L))
  }

  test("keyset pagination: string prefix pages and the domain-max corner merge exactly") {
    IndexedTopK.enable(spark)
    // LIKE-prefix + cursor — pagination over a string id space
    val sdf = (1L to 500L).map(k => (f"id$k%04d", k)).toDF("id", "v")
    val hs = IndexedFrame.indexStringRangePartitioned(sdf, "id", 8)
    val sp1 = hs.toDF.filter($"id".startsWith("id01") && $"id" > "id0149")
      .orderBy($"id").limit(4).select($"v").as[Long].collect()
    assert(sp1.toSeq === (150L to 153L))
    assert(hs.lastScanKind === "topk")
    // Long.MaxValue has no successor: the unbounded-above page must
    // still include it, via the exact corner probe
    val df = Seq(1L, 5L, Long.MaxValue).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(df, "k", 2)
    val asc = h.toDF.filter($"k" > 1L).orderBy($"k").limit(5)
      .select($"k").as[Long].collect()
    assert(asc.toSeq === Seq(5L, Long.MaxValue))
    assert(h.lastScanKind === "topk")
    val desc = h.toDF.filter($"k" >= 1L).orderBy($"k".desc).limit(2)
      .select($"k").as[Long].collect()
    assert(desc.toSeq === Seq(Long.MaxValue, 5L))
    assert(h.lastScanKind === "topk")
  }

  test("composite keyset pagination: leading-column cursor pages in (a, b) order") {
    IndexedTopK.enable(spark)
    // duplicate leading values: pages must stay in full (a, b) order
    val df = (0L until 900L).map(k => (k / 3, k % 3, s"v$k")).toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    val p1 = h.toDF.filter($"a" >= 100L).orderBy($"a", $"b").limit(5)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(p1.toSeq === Seq((100L, 0L), (100L, 1L), (100L, 2L), (101L, 0L), (101L, 1L)))
    assert(h.lastScanKind === "topk")
    // leading-column-only sort claims too (ties broken by b)
    val p2 = h.toDF.filter($"a".between(50L, 60L)).orderBy($"a".desc).limit(4)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(p2.toSeq === Seq((60L, 2L), (60L, 1L), (60L, 0L), (59L, 2L)))
    assert(h.lastScanKind === "topk")
    // a SECOND-column conjunct disqualifies (falls back, stays correct)
    val fb = h.toDF.filter($"a" >= 100L && $"b" === 1L).orderBy($"a", $"b").limit(2)
      .select($"a").as[Long].collect()
    assert(fb.toSeq === Seq(100L, 101L))
    // cursor walk over a bounded window reconstructs it exactly
    var cur = (119L, 2L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var done = false
    while (!done) {
      // (a, b) > cursor expressed as a > aCur OR (a = aCur AND b > bCur)
      // — only the conjunct-free leading bound is claimable, so page
      // with a >= aCur and drop the already-seen prefix driver-side
      val page = h.toDF.filter($"a" >= cur._1 && $"a" <= 150L)
        .orderBy($"a", $"b").limit(10)
        .select($"a", $"b").as[(Long, Long)].collect()
        .dropWhile(t => t._1 < cur._1 || (t._1 == cur._1 && t._2 <= cur._2))
      if (page.isEmpty) done = true
      else { seen ++= page; cur = page.last }
    }
    assert(seen.toSeq === (360L until 453L).map(k => (k / 3, k % 3)))
  }

  test("per-entity timeline pages: pinned leading equality + second-column cursor") {
    IndexedTopK.enable(spark)
    val df = (0L until 900L).map(k => (k % 30, k / 30, s"v$k")).toDF("u", "t", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("u", "t"), 8)
    // WHERE u = X AND t > cursor ORDER BY t LIMIT n claims as topk
    val p1 = h.toDF.filter($"u" === 7L && $"t" > 10L).orderBy($"t").limit(4)
      .select($"t").as[Long].collect()
    assert(p1.toSeq === (11L to 14L))
    assert(h.lastScanKind === "topk")
    // latest-first feed: descending under the pin
    val p2 = h.toDF.filter($"u" === 7L).orderBy($"t".desc).limit(3)
      .select($"t").as[Long].collect()
    assert(p2.toSeq === Seq(29L, 28L, 27L))
    assert(h.lastScanKind === "topk")
    // bounded window under the pin; (u, t) sort order claims too
    val p3 = h.toDF.filter($"u" === 7L && $"t".between(5L, 8L))
      .orderBy($"u", $"t").limit(10).select($"t").as[Long].collect()
    assert(p3.toSeq === (5L to 8L))
    assert(h.lastScanKind === "topk")
    // the pin never bleeds into neighboring users: u=7 has t 0..29 only
    val all = h.toDF.filter($"u" === 7L && $"t" > 28L).orderBy($"t").limit(10)
      .select($"t").as[Long].collect()
    assert(all.toSeq === Seq(29L))
    assert(h.lastScanKind === "topk")
    // two DIFFERENT pins fall through (unclaimed, still correct)
    val fb = h.toDF.filter($"u" === 7L && $"u" === 8L).orderBy($"t").limit(3)
    assert(fb.collect().isEmpty)
    // a sort on t WITHOUT a pin is not index-served (falls back)
    val nf = h.toDF.filter($"t" > 27L).orderBy($"t").limit(3)
      .select($"u", $"t").as[(Long, Long)].collect()
    assert(nf.length === 3 && nf.forall(_._2 > 27L))
    assert(h.lastScanKind !== "topk")
  }

  test("ordered-secondary sort pages: WHERE sec > cursor ORDER BY sec LIMIT n") {
    IndexedTopK.enable(spark)
    // scores are a permutation (7919 coprime to 1000): unique values
    val df = (0L until 1000L).map(k => (k, (k * 7919) % 1000, s"v$k"))
      .toDF("k", "score", "v")
    val h = IndexedFrame.index(df, "k").addSecondaryIndex("score", ordered = true)
    val p1 = h.toDF.filter($"score" > 500L).orderBy($"score").limit(5)
      .select($"score").as[Long].collect()
    assert(p1.toSeq === (501L to 505L))
    assert(h.lastScanKind === "topk")
    val plan = h.toDF.filter($"score" > 500L).orderBy($"score").limit(5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("IndexedTopK"), s"expected secondary sort claim in:\n$plan")
    // descending with an unbounded-above interval
    val p2 = h.toDF.filter($"score" >= 0L).orderBy($"score".desc).limit(3)
      .select($"score").as[Long].collect()
    assert(p2.toSeq === Seq(999L, 998L, 997L))
    assert(h.lastScanKind === "topk")
    // a cursor walk over a bounded window reconstructs it
    var cur = 249L
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var done = false
    while (!done) {
      val page = h.toDF.filter($"score" > cur && $"score" <= 400L)
        .orderBy($"score").limit(37).select($"score").as[Long].collect()
      if (page.isEmpty) done = true
      else { seen ++= page; cur = page.last }
    }
    assert(seen.toSeq === (250L to 400L))
    // an UNfiltered secondary sort never claims (NULL rows would sort
    // first and the inverted index cannot see them)
    val nf = h.toDF.orderBy($"score").limit(3)
    assert(!nf.queryExecution.executedPlan.toString.contains("IndexedTopK"))
    assert(nf.select($"score").as[Long].collect().toSeq === Seq(0L, 1L, 2L))
    // DUPLICATE values: page boundaries may split a value class — the
    // served multiset of values must still be exact
    val dd = (0L until 300L).map(k => (k, k % 10)).toDF("k", "g")
    val hd = IndexedFrame.index(dd, "k").addSecondaryIndex("g", ordered = true)
    val pg = hd.toDF.filter($"g" >= 3L).orderBy($"g").limit(45)
      .select($"g").as[Long].collect()
    assert(pg.toSeq === (Seq.fill(30)(3L) ++ Seq.fill(15)(4L)))
    assert(hd.lastScanKind === "topk")
    // rows with NULL in the secondary are excluded by the bound, and
    // the claim stays exact
    val dn = (0L until 100L).map(k =>
      (k, if (k % 3 == 0) null else s"s${100 + k}")).toDF("k", "s")
    val hn = IndexedFrame.index(dn, "k").addSecondaryIndex("s", ordered = true)
    val pn = hn.toDF.filter($"s" > "s").orderBy($"s").limit(4)
      .select($"s").as[String].collect()
    assert(pn.toSeq === Seq("s101", "s102", "s104", "s105"))
    assert(hn.lastScanKind === "topk")
  }

  test("repeated top-k collect on an immutable handle runs ZERO Spark jobs") {
    IndexedTopK.enable(spark)
    val df = (0L until 2000L).map(k => (k, s"v$k")).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(df, "k", 8)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // first query pays the fetch jobs and fills the handle memo — and
      // validates the listener wiring (job events are async: poll)
      val first = h.toDF.orderBy($"k").limit(9).select($"k").as[Long].collect()
      assert(first.toSeq === (0L until 9L))
      val deadline = System.nanoTime() + 5000000000L
      while (jobs == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs > 0, "listener never saw the first query's fetch jobs")
      jobs = 0
      // repeat: collect() roots in IndexedTopKExec.executeCollect, which
      // answers from the driver-side memo — no job may start. The event
      // bus is async, so give any stray job time to surface.
      val again = h.toDF.orderBy($"k").limit(9).select($"k").as[Long].collect()
      assert(again.toSeq === (0L until 9L))
      Thread.sleep(500)
      assert(jobs === 0, s"memo-hit top-k repeat scheduled $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("timestamp keys: (ts, id) composite serves exact time-range pruning and top-k") {
    IndexedTopK.enable(spark)
    // 10-day span at 1-hour steps, two ids per instant — duplicate ts
    // values exercise the tuple key's totality
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val df = (0L until 240L).flatMap(h => Seq(0L, 1L).map(id =>
        (new java.sql.Timestamp(base + h * 3600000L), h * 2 + id, s"r$h-$id")))
      .toDF("ts", "id", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("ts", "id"), 8)
    // leading-ts interval routes as a pushed range (one contiguous
    // tuple-space interval), not a full scan
    val day2 = h.toDF.filter(
        $"ts" >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-01-03 00:00:00").cast("timestamp"))
      .select($"id").as[Long].collect().toSet
    assert(day2 === (24L until 48L).flatMap(x => Seq(x * 2, x * 2 + 1)).toSet)
    assert(h.lastScanKind === "range")
    // equality on the pair point-probes
    val pt = h.toDF.filter(
        $"ts" === lit("2024-01-01 05:00:00").cast("timestamp") && $"id" === 10L)
      .select($"v").as[String].collect()
    assert(pt.toSeq === Seq("r5-0"))
    assert(h.lastScanKind === "point")
    // earliest-3 by (ts, id) is index-served
    val first3 = h.toDF.orderBy($"ts", $"id").limit(3)
      .select($"v").as[String].collect()
    assert(first3.toSeq === Seq("r0-0", "r0-1", "r1-0"))
    assert(h.lastScanKind === "topk")
    // per-key as-of on the composite (the SCD lookup): id 10 exists at
    // hour 5 only; its floor at a later instant must stay ON id 10's
    // own versions, never bleed into an earlier id's
    def tsAt(s: String) = java.sql.Timestamp.valueOf(s)
    val hIdTs = IndexedFrame.indexCompositeNRangePartitioned(
      df.select($"id", $"ts", $"v"), Seq("id", "ts"), 8)
    assert(hIdTs.asOf(Seq(10L), tsAt("2024-01-09 00:00:00")).select($"v")
      .as[String].collect().toSeq === Seq("r5-0"))
    assert(hIdTs.asOf(Seq(10L), tsAt("2024-01-01 05:00:00")).select($"v")
      .as[String].collect().toSeq === Seq("r5-0")) // exact hit inclusive
    assert(hIdTs.asOf(Seq(10L), tsAt("2024-01-01 04:59:59")).count() === 0L,
      "floor before id 10's only version must not serve id 9's rows")
    assert(hIdTs.asOf(Seq(9999L), tsAt("2024-01-09 00:00:00")).count() === 0L)
    hIdTs.idx.unpersist()
    // single-key timestamp handles work too (ordered radix layout)
    val uniq = (0L until 100L).map(m =>
        (new java.sql.Timestamp(base + m * 60000L), s"m$m"))
      .toDF("ts", "v")
    val hs = IndexedFrame.index(uniq, "ts", ordered = true)
    val win = hs.toDF.filter(
        $"ts".between(lit("2024-01-01 00:10:00").cast("timestamp"),
          lit("2024-01-01 00:20:00").cast("timestamp")))
      .select($"v").as[String].collect().toSet
    assert(win === (10L to 20L).map(m => s"m$m").toSet)
    assert(hs.lastScanKind === "range")
    // asOf: ONE fused floor-entry job — interior, exact-hit, edges
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    assert(hs.asOf(at("2024-01-01 00:30:30")).select($"v").as[String].collect()
      .toSeq === Seq("m30")) // between keys: floor is the previous minute
    assert(hs.lastScanKind === "asof")
    assert(hs.asOf(at("2024-01-01 00:40:00")).select($"v").as[String].collect()
      .toSeq === Seq("m40")) // exact hit is inclusive
    assert(hs.asOf(at("2023-12-31 23:59:59")).count() === 0L) // before first
    assert(hs.asOf(at("2025-06-01 00:00:00")).select($"v").as[String].collect()
      .toSeq === Seq("m99")) // after last: global max
    // same on a range-partitioned layout (floor visits only the
    // partition prefix)
    val hrp = IndexedFrame.indexRangePartitioned(uniq, "ts", 8)
    assert(hrp.asOf(at("2024-01-01 00:30:30")).select($"v").as[String].collect()
      .toSeq === Seq("m30"))
    hrp.idx.unpersist()
    // DATE keys (int days on the same long codec): equality point-probes
    val dDf = (0 until 60).map(d =>
        (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)), d.toLong))
      .toDF("d", "n")
    val hd = IndexedFrame.index(dDf, "d", ordered = true)
    val feb = hd.toDF.filter($"d" >= lit("2024-02-01").cast("date"))
      .select($"n").as[Long].collect().toSet
    assert(feb === (31L until 60L).toSet)
    assert(hd.lastScanKind === "range")
    val one = hd.toDF.filter($"d" === lit("2024-01-15").cast("date"))
      .select($"n").as[Long].collect()
    assert(one.toSeq === Seq(14L))
    assert(hd.lastScanKind === "point")
  }

  test("composite handles route secondary equality/ranges and persist them") {
    val df = (0L until 1000L).map(k =>
      (k % 40, k / 40, (k * 37) % 1000, s"g${k % 3}", s"row$k"))
      .toDF("a", "b", "bal", "cat", "v")
    val h = IndexedFrame.indexCompositeN(df, Seq("a", "b"))
      .addSecondaryIndex("cat")
      .addSecondaryIndex("bal", ordered = true)
    // equality on a non-key column probes via the inverted index
    val eq = h.toDF.filter($"cat" === "g1").select($"v").as[String].collect().toSet
    assert(eq === (0L until 1000L).filter(_ % 3 == 1).map(k => s"row$k").toSet)
    assert(h.lastScanKind === "secondary_point" && !h.lastProbeMemoHit)
    // the repeat answers from the shared probe memo (no probe jobs) —
    // composite handles get the same result cache as single-key ones
    val eqAgain = h.toDF.filter($"cat" === "g1").select($"v").as[String].collect().toSet
    assert(eqAgain === eq && h.lastProbeMemoHit)
    // range on the ordered secondary routes through trie scans
    val rg = h.toDF.filter($"bal".between(100L, 120L))
      .select($"v").as[String].collect().toSet
    assert(rg === (0L until 1000L)
      .filter(k => { val x = (k * 37) % 1000; x >= 100 && x <= 120 })
      .map(k => s"row$k").toSet)
    assert(h.lastScanKind === "secondary_range")
    // key columns themselves are refused
    intercept[IllegalArgumentException](h.addSecondaryIndex("a"))
    // over-budget probes fall back to the scan, same answers
    h.SecondaryRouteBudget = 10
    val fb = h.toDF.filter($"cat" === "g1").select($"v").as[String].collect().toSet
    assert(fb === eq && h.lastScanKind === "full")
    h.SecondaryRouteBudget = 100000
    // save/load carries the composite's secondaries too
    val path = java.nio.file.Files.createTempDirectory("comp_sec_io").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.loadCompositeN(spark, path)
    val leq = loaded.toDF.filter($"cat" === "g1").select($"v").as[String].collect().toSet
    assert(leq === eq)
    assert(loaded.lastScanKind === "secondary_point")
  }

  test("ORDER BY (a, b) and ORDER BY a LIMIT plan as IndexedTopK on RP composites") {
    IndexedTopK.enable(spark)
    val df = (0L until 2000L).map(k => (k % 40, k / 40, s"v$k"))
      .toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), 8)
    // full-pair ascending: lexicographic head
    val both = h.toDF.orderBy($"a", $"b").limit(5)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(both.toSeq === (0L until 5L).map((0L, _)))
    assert(h.lastScanKind === "topk")
    // leading-column only: served by the tuple order (legal tie-break)
    val lead = h.toDF.orderBy($"a").limit(3).select($"a").as[Long].collect()
    assert(lead.toSeq === Seq(0L, 0L, 0L))
    assert(h.lastScanKind === "topk")
    // descending pair reads the suffix
    val desc = h.toDF.orderBy($"a".desc, $"b".desc).limit(2)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(desc.toSeq === Seq((39L, 49L), (39L, 48L)))
    assert(h.lastScanKind === "topk")
    // mixed directions disqualify (fall back, stay correct)
    val mixed = h.toDF.orderBy($"a", $"b".desc).limit(1)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(mixed.toSeq === Seq((0L, 49L)))
    // sort on b alone is NOT the layout order: falls through
    val bOnly = h.toDF.orderBy($"b").limit(1).select($"b").as[Long].collect()
    assert(bOnly.toSeq === Seq(0L))
    val plan = h.toDF.orderBy($"a", $"b").limit(3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("IndexedTopK"))
  }

  test("takeOrderedByKey visits only the covering partition prefix") {
    val sc = spark.sparkContext
    val data = sc.parallelize((0L until 1000L).map(k => (k, k * 2)), 8)
    val idx = graft.IndexedRDD.rangePartitioned(data, 8).cached
    idx.count()
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val head = idx.takeOrderedByKey(10)
    assert(head.map(_._1).toSeq === (0L until 10L))
    assert(head.map(_._2).toSeq === (0L until 10L).map(_ * 2))
    val tail = idx.takeOrderedByKey(3, asc = false)
    assert(tail.map(_._1).toSeq === Seq(999L, 998L, 997L))
    // n spanning several partitions still concatenates in order
    val many = idx.takeOrderedByKey(400)
    assert(many.map(_._1).toSeq === (0L until 400L))
    assert(idx.takeOrderedByKey(0).isEmpty)
    // hash layouts are refused (partition order is not key order)
    val hashIdx = graft.IndexedRDD(data)
    intercept[IllegalArgumentException](hashIdx.takeOrderedByKey(5))
    idx.unpersist()
  }

  test("upsertFrame: distributed delta updates + inserts; corpus rows untouched") {
    val base = cust.select($"c_custkey", $"c_acctbal")
    val h = IndexedFrame.index(base, "c_custkey")
    val updates = base.filter($"c_custkey" <= 3L)
      .select($"c_custkey", ($"c_acctbal" * 2).as("c_acctbal"))
      .unionAll(Seq((999999L, 0.0)).toDF("c_custkey", "c_acctbal"))
    val h2 = h.upsertFrame(updates)
    val out = h2.toDF.as[(Long, Double)].collect().toMap
    val orig = base.as[(Long, Double)].collect().toMap
    assert(out.size === orig.size + 1)
    assert(out(999999L) === 0.0)
    for ((k, v) <- orig)
      assert(out(k) === (if (k <= 3L) v * 2 else v))
    // copy-on-write: the source handle still serves the old values
    assert(h.toDF.filter($"c_custkey" === 999999L).count() === 0)
    // schema mismatches are rejected up front, not at execution
    intercept[IllegalArgumentException] {
      h.upsertFrame(updates.withColumnRenamed("c_acctbal", "balance"))
    }
  }

  test("deleteFrame: distributed key-set removal; unknown keys ignored; COW") {
    val base = cust.select($"c_custkey", $"c_acctbal")
    val h = IndexedFrame.index(base, "c_custkey")
    val dels = base.filter($"c_custkey" % 3 === 0).select($"c_custkey")
      .unionAll(Seq(424242L).toDF("k")) // absent key: a no-op
    val h2 = h.deleteFrame(dels)
    val out = h2.toDF.select($"c_custkey").as[Long].collect().toSet
    val expect = base.filter($"c_custkey" % 3 =!= 0)
      .select($"c_custkey").as[Long].collect().toSet
    assert(out === expect)
    // copy-on-write: source handle still serves the deleted keys
    assert(h.toDF.count() === base.count())
    // a wrong-typed or multi-column key frame is rejected up front
    intercept[IllegalArgumentException] {
      h.deleteFrame(dels.withColumn("extra", lit(1)))
    }
  }

  test("composite upsertFrame/deleteFrame: string-lead pair mutations, COW") {
    val base = cust.select($"c_mktsegment", $"c_custkey", $"c_acctbal")
    val h = IndexedFrame.indexCompositeN(base, Seq("c_mktsegment", "c_custkey"))
    val ups = Seq(("ZZTOP", 777L, 9.5)).toDF("c_mktsegment", "c_custkey", "c_acctbal")
    val dels = base.filter($"c_custkey" <= 5L)
      .select($"c_mktsegment", $"c_custkey")
    val h2 = h.upsertFrame(ups).deleteFrame(dels)
    val n0 = base.count()
    assert(h2.toDF.count() === n0 + 1 - dels.count())
    assert(h2.toDF.filter($"c_mktsegment" === "ZZTOP" && $"c_custkey" === 777L)
      .count() === 1)
    // COW: source handle unchanged
    assert(h.toDF.count() === n0)
    // key-pair frame with wrong arity is rejected
    intercept[IllegalArgumentException] { h.deleteFrame(ups) }
  }

  test("upsert produces a new queryable version; old handle unchanged") {
    val h = IndexedFrame.index(cust, "c_custkey")
    val template = cust.head()
    val newRow = org.apache.spark.sql.Row.fromSeq(
      Seq(999999L) ++ template.toSeq.drop(1))
    val h2 = h.upsert(Seq(newRow))
    assert(h2.toDF.filter($"c_custkey" === 999999L).count() === 1)
    assert(h.toDF.filter($"c_custkey" === 999999L).count() === 0)
  }

  test("ordered handle: pushed range predicates route into the radix range scan") {
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    val out = h.toDF.filter($"c_custkey".between(10L, 20L))
      .select($"c_custkey").as[Long].collect().toSet
    assert(out === (10L to 20L).toSet)
    assert(h.lastScanKind === "range")
    // one-sided bound
    val hi = h.toDF.filter($"c_custkey" > 140L).count()
    assert(hi === cust.filter($"c_custkey" > 140L).count())
    assert(h.lastScanKind === "range")
    // contradictory bounds -> empty, not an error
    assert(h.toDF.filter($"c_custkey" > 100L && $"c_custkey" < 50L).count() === 0)
    // point predicates still win over range ones (row fetch: a bare
    // count would route into the range-count pushdown instead)
    assert(h.toDF.filter($"c_custkey" === 5L)
      .select($"c_acctbal").collect().length === 1)
    assert(h.lastScanKind === "point")
    // unordered handle: range predicates fall back to full scan
    val hUnordered = IndexedFrame.index(cust, "c_custkey")
    assert(hUnordered.toDF.filter($"c_custkey".between(10L, 20L)).count() === 11)
    assert(hUnordered.lastScanKind === "full")
  }

  test("mixed point+range predicates and Long extremes stay correct") {
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true)
    // point wins; the range predicate must still be enforced (by Spark,
    // since the point branch ignores bounds)
    val mixed = h.toDF.filter($"c_custkey".isin(1L, 2L, 3L) && $"c_custkey" > 2L)
      .select($"c_custkey").as[Long].collect().toSet
    assert(mixed === Set(3L))
    assert(h.lastScanKind === "point")
    // k > Long.MaxValue: empty, not a wrapped full scan
    assert(h.toDF.filter($"c_custkey" > Long.MaxValue).count() === 0)
    // a Long.MaxValue key is reachable through an unbounded-above range
    val h2 = h.upsert(Seq(org.apache.spark.sql.Row.fromSeq(
      Seq(Long.MaxValue) ++ cust.head().toSeq.drop(1))))
    assert(h2.toDF.filter($"c_custkey" >= 100L).count() ===
      cust.filter($"c_custkey" >= 100L).count() + 1)
    assert(h2.toDF.filter($"c_custkey" >= Long.MaxValue).count() === 1)
  }

  test("column pruning: only requested columns are materialized") {
    val h = IndexedFrame.index(cust, "c_custkey")
    val df = h.toDF.select($"c_name").limit(3)
    assert(df.schema.fieldNames.toSeq === Seq("c_name"))
    assert(df.collect().forall(_.getString(0).nonEmpty))
  }

  test("int- and short-typed key columns route through the Long codec") {
    val intDf = cust.select($"c_custkey".cast("int").as("ck"), $"c_acctbal")
    val hi = IndexedFrame.index(intDf, "ck")
    assert(hi.toDF.filter($"ck" === 42).count() === 1)
    assert(hi.lastScanKind === "point")
    assert(hi.toDF.count() === cust.count())
    val shortDf = cust.select($"c_custkey".cast("short").as("ck"), $"c_acctbal")
    val hs = IndexedFrame.index(shortDf, "ck")
    assert(hs.toDF.filter($"ck" === 42).count() === 1)
    assert(hs.lastScanKind === "point")
  }

  test("string-keyed handle: pushed equality and IN route into multiget") {
    val h = IndexedFrame.indexString(cust, "c_name")
    val one = h.toDF.filter($"c_name" === "Customer#000000007")
      .select($"c_custkey").as[Long].collect()
    assert(one.toSeq === Seq(7L))
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 1)
    val in = h.toDF.filter($"c_name".isin("Customer#000000003",
        "Customer#000000011", "no-such-customer"))
      .select($"c_custkey").as[Long].collect().toSet
    assert(in === Set(3L, 11L))
    assert(h.lastPointLookupKeys === 3)
    // non-key predicates still work via full scan
    assert(h.toDF.filter($"c_acctbal" > 0.0).count() ===
      cust.filter($"c_acctbal" > 0.0).count())
    assert(h.lastScanKind === "full")
    // upsert through the string key
    val template = cust.head()
    val row = org.apache.spark.sql.Row.fromSeq(
      template.toSeq.updated(cust.schema.fieldIndex("c_name"), "brand-new-name"))
    val h2 = h.upsert(Seq(row))
    assert(h2.toDF.filter($"c_name" === "brand-new-name").count() === 1)
    assert(h.toDF.filter($"c_name" === "brand-new-name").count() === 0)
  }

  test("ordered string handle: pushed string ranges route into the lex trie scan") {
    val h = IndexedFrame.indexString(cust, "c_name", ordered = true)
    val lo = "Customer#000000100"; val hi = "Customer#000000119"
    val out = h.toDF.filter($"c_name".between(lo, hi))
      .select($"c_name").as[String].collect().toSet
    val expect = cust.filter($"c_name".between(lo, hi))
      .select($"c_name").as[String].collect().toSet
    assert(out === expect && out.nonEmpty)
    assert(h.lastScanKind === "range")
    // strict lower bound + unbounded above (closes at succ(maxKey))
    val ge = h.toDF.filter($"c_name" > "Customer#000000140")
      .select($"c_name").as[String].collect().toSet
    val geExpect = cust.filter($"c_name" > "Customer#000000140")
      .select($"c_name").as[String].collect().toSet
    assert(ge === geExpect && ge.nonEmpty)
    assert(h.lastScanKind === "range")
    // empty interval short-circuits
    assert(h.toDF.filter($"c_name" > "Customer#000000149" &&
      $"c_name" < "Customer#000000100").count() === 0)
    // point reads still probe through the lex encoding (row fetch: a
    // bare count would route into the range-count pushdown instead)
    assert(h.toDF.filter($"c_name" === "Customer#000000017")
      .select($"c_acctbal").collect().length === 1)
    assert(h.lastScanKind === "point")
    // min/max(string key) plan as no-scan radix descents
    IndexedAgg.enable(spark)
    val q = h.toDF.agg(min($"c_name").as("mn"), max($"c_name").as("mx"))
    assert(q.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q.as[(String, String)].head() ===
      cust.agg(min($"c_name"), max($"c_name")).as[(String, String)].head())
    // non-ordered string handles keep the full-scan fallback for ranges
    val hu = IndexedFrame.indexString(cust, "c_name")
    val u = hu.toDF.filter($"c_name".between(lo, hi))
      .select($"c_name").as[String].collect().toSet
    assert(u === expect)
    assert(hu.lastScanKind === "full")
    // save/load keeps the lex keying: the reloaded handle serves ranges
    val path = java.nio.file.Files.createTempDirectory("frame_io_strlex").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.load(spark, path).asInstanceOf[IndexedFrame.Handle[String]]
    val reOut = loaded.toDF.filter($"c_name".between(lo, hi))
      .select($"c_name").as[String].collect().toSet
    assert(reOut === expect)
    assert(loaded.lastScanKind === "range")
  }

  test("range-partitioned string handle: pushed string BETWEEN prunes partitions") {
    val df = (0 until 1000).map(i => (f"key$i%04d", i.toLong)).toDF("k", "v")
    val h = IndexedFrame.indexStringRangePartitioned(df, "k", numPartitions = 16)
    val q = h.toDF.filter($"k".between("key0100", "key0149"))
    assert(q.select($"v").as[Long].collect().toSet === (100L to 149L).toSet)
    assert(h.lastScanKind === "range")
    // a 5% slice of 1000 UTF8-sorted keys over 16 partitions must
    // touch far fewer than all of them
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 16, s"expected pruned partitions, scanned $parts/16")
    // point probes and stats still served on the same layout
    assert(h.toDF.filter($"k" === "key0500").count() === 1)
    graft.sql.IndexedAgg.enable(spark)
    val mm = h.toDF.agg(min($"k").as("mn"), max($"k").as("mx"))
    assert(mm.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(mm.as[(String, String)].head() === ("key0000", "key0999"))
  }

  test("uuid-keyed handle: pushed equality routes through the 16-byte key") {
    val df = ((1L to 200L).map(k =>
      (f"00000000-0000-4000-8000-$k%012d", k)) :+
      ("00000000-0000-4000-8000-0000000000ab" -> 999L)).toDF("id", "v")
    val h = IndexedFrame.indexUuid(df, "id")
    val one = h.toDF.filter($"id" === "00000000-0000-4000-8000-000000000042")
      .select($"v").as[Long].collect()
    assert(one.toSeq === Seq(42L))
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 1)
    val in = h.toDF.filter($"id".isin(
        "00000000-0000-4000-8000-000000000001",
        "00000000-0000-4000-8000-000000000999"))
      .select($"v").as[Long].collect().toSet
    assert(in === Set(1L))
    assert(h.toDF.count() === 201)
    // a malformed uuid literal equals no key: empty result, no error
    assert(h.toDF.filter($"id" === "not-a-uuid").count() === 0)
    // UUID.fromString normalizes hex case, but SQL string equality must
    // not: the relation leaves the predicate for Spark to re-apply, so
    // an uppercase literal matches nothing even though the probe finds
    // the normalized row
    assert(h.toDF.filter($"id" === "00000000-0000-4000-8000-0000000000AB").count() === 0)
    assert(h.toDF.filter($"id" === "00000000-0000-4000-8000-0000000000ab").count() === 1)
  }

  test("composite handle: conjunctive equality on both columns routes into multiget") {
    val df = cust.withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
    val out = h.toDF.filter($"c_bucket" === 17L && $"c_custkey".isin(17L, 117L, 999917L))
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)].collect().toMap
    val expect = df.filter($"c_bucket" === 17L && $"c_custkey".isin(17L, 117L, 999917L))
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)].collect().toMap
    assert(out === expect && out.nonEmpty)
    assert(h.lastScanKind === "point")
    assert(h.lastPointLookupKeys === 3) // 1 x 3 cross product, not a scan
    // mismatched pair: pushed keys probe, nothing matches
    val none = h.toDF.filter($"c_bucket" === 18L && $"c_custkey" === 17L)
    assert(none.count() === 0)
    // residual predicates still apply above the probe
    val res = h.toDF.filter($"c_bucket" === 17L && $"c_custkey" === 17L &&
      $"c_acctbal" > 1e12)
    assert(res.count() === 0)
  }

  test("composite handle: leading-column equality and ranges route into trie range scans") {
    val df = cust.withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"), ordered = true)
    val out = h.toDF.filter($"c_bucket".between(10L, 12L))
      .select($"c_custkey").as[Long].collect().toSet
    val expect = df.filter($"c_bucket".between(10L, 12L))
      .select($"c_custkey").as[Long].collect().toSet
    assert(out === expect && out.nonEmpty)
    assert(h.lastScanKind === "range")
    // leading equality alone = prefix scan over every second-column value
    val eq = h.toDF.filter($"c_bucket" === 42L)
      .select($"c_custkey").as[Long].collect().toSet
    val eqExpect = df.filter($"c_bucket" === 42L)
      .select($"c_custkey").as[Long].collect().toSet
    assert(eq === eqExpect && eq.nonEmpty)
    assert(h.lastScanKind === "range")
    // unordered handles never claim ranges: full scan + Spark residual
    val hu = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
    val u = hu.toDF.filter($"c_bucket".between(10L, 12L))
      .select($"c_custkey").as[Long].collect().toSet
    assert(u === expect)
    assert(hu.lastScanKind === "full")
  }

  test("composite handle: Long extreme bounds stay correct (MaxValue corner)") {
    val df = Seq(
      (1L, 5L, "a"), (2L, 6L, "b"),
      (Long.MaxValue, 7L, "c"), (Long.MaxValue, Long.MaxValue, "d"))
      .toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeN(df, Seq("a", "b"), ordered = true)
    val ge = h.toDF.filter($"a" >= 2L).select($"v").as[String].collect().toSet
    assert(ge === Set("b", "c", "d"), "unbounded-above range lost the MaxValue corner")
    assert(h.lastScanKind === "range")
    val pt = h.toDF.filter($"a" === Long.MaxValue && $"b" === Long.MaxValue)
      .select($"v").as[String].collect().toSet
    assert(pt === Set("d"))
    assert(h.lastScanKind === "point")
  }

  test("save/load carries secondary indexes and zone maps; older saves still load") {
    val df = (0L until 1000L).map(k =>
      (k, k % 7, (k * 37) % 1000, s"row$k")).toDF("k", "grp", "bal", "v")
    val h = IndexedFrame.index(df, "k")
      .addSecondaryIndex("grp")
      .addSecondaryIndex("bal", ordered = true)
      .analyzeZones("bal")
    val path = java.nio.file.Files.createTempDirectory("frame_sec_io").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.load(spark, path)
    // secondary equality serves via point probes, no rebuild job ran
    val eq = loaded.toDF.filter($"grp" === 2L).select($"k").as[Long].collect().toSet
    assert(eq === (0L until 1000L).filter(_ % 7 == 2).toSet)
    assert(loaded.lastScanKind === "secondary_point")
    // ordered secondary serves ranges from the reloaded radix layout
    val rg = loaded.toDF.filter($"bal".between(100L, 120L))
      .select($"k").as[Long].collect().toSet
    assert(rg === (0L until 1000L)
      .filter(k => { val b = (k * 37) % 1000; b >= 100 && b <= 120 }).toSet)
    assert(loaded.lastScanKind === "secondary_range")
    // zones came back too: an impossible bal range keeps zero partitions
    // via zone pruning when no secondary claims it... (bal HAS an
    // ordered secondary, so push a non-prunable filter shape instead:
    // a >= bound alone is served by the secondary; assert zone state
    // directly through the snapshot)
    val (zcols, zstats) = loaded.zoneSnapshot
    assert(zcols === Set("bal") && zstats("bal").nonEmpty)
    // a save WITHOUT the sidecar still loads (pre-existing layouts)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_indexes"), false)
    val bare = IndexedFrame.load(spark, path)
    assert(bare.toDF.filter($"grp" === 2L).count() === eq.size)
    assert(bare.lastScanKind === "full") // no secondary: scan serves
  }

  test("handle save/load: reloaded handle serves pushed reads; joins with live handles stay narrow") {
    val h = IndexedFrame.index(cust, "c_custkey", ordered = true, numPartitions = 4)
    val path = java.nio.file.Files.createTempDirectory("frame_io").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.load(spark, path)
    assert(loaded.keyCol === "c_custkey" && loaded.ordered)
    assert(loaded.toDF.count() === cust.count())
    // row-fetching reads exercise the point/range SCAN paths (a bare
    // count over a key filter now short-circuits into the no-value
    // range-count pushdown, asserted after)
    assert(loaded.toDF.filter($"c_custkey" === 7L)
      .select($"c_acctbal").collect().length === 1)
    assert(loaded.lastScanKind === "point")
    assert(loaded.toDF.filter($"c_custkey".between(10L, 20L))
      .select($"c_acctbal").collect().length === 11)
    assert(loaded.lastScanKind === "range")
    IndexedAgg.enable(spark)
    assert(loaded.toDF.filter($"c_custkey".between(10L, 20L)).count() === 11)
    assert(loaded.lastScanKind === "range_count") // pushed, values unread
    // the saved partitioner makes the reloaded handle co-partitioned
    // with a freshly built one: their SQL join plans as the narrow zip
    IndexedJoin.enable(spark)
    val other = IndexedFrame.index(
      cust.select($"c_custkey".as("k2"), $"c_name"), "k2", numPartitions = 4)
    val joined = loaded.toDF.join(other.toDF, $"c_custkey" === $"k2")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IndexedZipJoin"), s"expected narrow zip join:\n$plan")
    assert(joined.count() === cust.count())
  }

  test("range-partitioned handle: pushed BETWEEN prunes partitions") {
    val df = (1L to 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
    val h = IndexedFrame.indexRangePartitioned(df, "k", numPartitions = 16)
    val q = h.toDF.filter($"k".between(100L, 149L))
    assert(q.select($"k").as[Long].collect().toSet === (100L to 149L).toSet)
    assert(h.lastScanKind === "range")
    // the scan visits only the partitions whose key interval overlaps
    // [100, 150) — a 5% slice of 1000 sorted keys over 16 partitions
    // must touch far fewer than all of them
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 16, s"expected pruned partitions, scanned $parts/16")
    // point reads and full scans still correct on the same handle
    assert(h.toDF.filter($"k" === 500L).count() === 1)
    assert(h.toDF.count() === 1000)
  }

  test("composite handle: a-equality + b-range routes into per-leading trie scans") {
    val df = cust.withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"), ordered = true)
    // single leading value + second-column interval: ONE contiguous
    // (a, [bFrom, bTo)) trie range, not a prefix scan over all of a=17
    val out = h.toDF.filter($"c_bucket" === 17L && $"c_custkey".between(100L, 600L))
      .select($"c_custkey").as[Long].collect().toSet
    val expect = df.filter($"c_bucket" === 17L && $"c_custkey".between(100L, 600L))
      .select($"c_custkey").as[Long].collect().toSet
    assert(out === expect && out.nonEmpty)
    assert(h.lastScanKind === "range")
    // IN on the leading column × b-range: one disjoint interval per
    // leading value, served in one multiRange pass
    val multi = h.toDF.filter($"c_bucket".isin(10L, 11L, 12L) && $"c_custkey" >= 50L)
      .select($"c_bucket", $"c_custkey").as[(Long, Long)].collect().toSet
    val multiExpect = df.filter($"c_bucket".isin(10L, 11L, 12L) && $"c_custkey" >= 50L)
      .select($"c_bucket", $"c_custkey").as[(Long, Long)].collect().toSet
    assert(multi === multiExpect && multi.nonEmpty)
    assert(h.lastScanKind === "range")
    // unbounded-above b-range keeps the (a, MaxValue) corner
    val corner = Seq((1L, 5L, "a"), (1L, Long.MaxValue, "b"), (2L, 9L, "c"))
      .toDF("a", "b", "v")
    val hc = IndexedFrame.indexCompositeN(corner, Seq("a", "b"), ordered = true)
    val got = hc.toDF.filter($"a" === 1L && $"b" >= 5L)
      .select($"v").as[String].collect().toSet
    assert(got === Set("a", "b"), "mixed lane lost the (a, MaxValue) corner")
    assert(hc.lastScanKind === "range")
    // empty b-interval short-circuits to zero rows
    assert(hc.toDF.filter($"a" === 1L && $"b" > 10L && $"b" < 5L).count() === 0)
  }

  test("composite handle: oversized IN cross products bail out of the point lane") {
    val df = cust.withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"), ordered = true)
    // 200 x 200 = 40k pushed pairs > the 10k probe budget: the relation
    // must NOT build the cross product on the driver — it declares the
    // filters unhandled and serves a wider lane with Spark re-applying
    val as = (0L until 200L).map(Long.box)
    val bs = (1L to 200L).map(Long.box)
    val q = h.toDF.filter($"c_bucket".isin(as: _*) && $"c_custkey".isin(bs: _*))
      .select($"c_bucket", $"c_custkey").as[(Long, Long)].collect().toSet
    assert(h.lastScanKind !== "point")
    val expect = df.filter($"c_bucket".isin(as: _*) && $"c_custkey".isin(bs: _*))
      .select($"c_bucket", $"c_custkey").as[(Long, Long)].collect().toSet
    assert(q === expect && q.nonEmpty)
    // a small cross product still probes: (17,17) and (17,117) hit
    val small = h.toDF.filter($"c_bucket".isin(17L, 18L) && $"c_custkey".isin(17L, 117L))
    assert(small.count() === 2)
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 4)
  }

  test("range-partitioned composite handle: leading-column BETWEEN prunes partitions") {
    val df = (1L to 1000L).map(k => (k % 50, k, k * 2.0)).toDF("a", "b", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(df, Seq("a", "b"), numPartitions = 16)
    val q = h.toDF.filter($"a".between(10L, 12L))
    val got = q.select($"b").as[Long].collect().toSet
    val expect = df.filter($"a".between(10L, 12L)).select($"b").as[Long].collect().toSet
    assert(got === expect && got.nonEmpty)
    assert(h.lastScanKind === "range")
    // (a, b) tuples are globally sorted lexicographically and the tuple
    // serializer is order-preserving, so the lead-interval scan visits
    // only the partitions overlapping [10, 13) — a 6% slice over 16
    // partitions must touch far fewer than all of them
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 16, s"expected pruned partitions, scanned $parts/16")
    // the mixed a-point x b-range lane prunes through multiRange too
    val qm = h.toDF.filter($"a" === 20L && $"b".between(100L, 600L))
    val gotM = qm.select($"b").as[Long].collect().toSet
    val expectM = df.filter($"a" === 20L && $"b".between(100L, 600L))
      .select($"b").as[Long].collect().toSet
    assert(gotM === expectM && gotM.nonEmpty)
    assert(h.lastScanKind === "range")
    assert(qm.queryExecution.executedPlan.execute().getNumPartitions < 16)
    // point probes and full scans still correct on the same layout
    assert(h.toDF.filter($"a" === 7L && $"b" === 107L).count() === 1)
    assert(h.toDF.count() === 1000)
  }

  test("composite handle save/load: reloaded handle serves point, lead-range and mixed pushdown") {
    val df = cust.withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
    val h = IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"), ordered = true)
      .analyzeZones("c_acctbal")
    val path = java.nio.file.Files.createTempDirectory("frame_io_composite").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.loadCompositeN(spark, path)
    assert(loaded.keyCols === Seq("c_bucket", "c_custkey") && loaded.ordered)
    // zones persisted with the composite too — re-attached, no re-analyze
    val (zc, zs) = loaded.zoneSnapshot
    assert(zc === Set("c_acctbal") && zs("c_acctbal").nonEmpty)
    assert(loaded.toDF.count() === df.count())
    val pt = loaded.toDF.filter($"c_bucket" === 17L && $"c_custkey" === 117L)
    assert(pt.count() === 1)
    assert(loaded.lastScanKind === "point")
    val rangeOut = loaded.toDF.filter($"c_bucket".between(10L, 12L))
      .select($"c_custkey").as[Long].collect().toSet
    val rangeExpect = df.filter($"c_bucket".between(10L, 12L))
      .select($"c_custkey").as[Long].collect().toSet
    assert(rangeOut === rangeExpect && rangeOut.nonEmpty)
    assert(loaded.lastScanKind === "range")
    val mixed = loaded.toDF.filter($"c_bucket" === 17L && $"c_custkey" >= 50L)
      .select($"c_custkey").as[Long].collect().toSet
    val mixedExpect = df.filter($"c_bucket" === 17L && $"c_custkey" >= 50L)
      .select($"c_custkey").as[Long].collect().toSet
    assert(mixed === mixedExpect && mixed.nonEmpty)
    assert(loaded.lastScanKind === "range")
    // single-key load refuses a composite path with a pointer to loadComposite
    val err = intercept[IllegalArgumentException](IndexedFrame.load(spark, path))
    assert(err.getMessage.contains("loadComposite"))
  }

  test("generic composite (string, long): point, mixed, lead, and full lanes") {
    val df = (1L to 600L).map(k => (s"seg${k % 6}", k, k * 1.5)).toDF("seg", "k", "v")
    val h = IndexedFrame.indexCompositeN(df, Seq("seg", "k"), ordered = true)
    // IN x IN -> cross-product multiget (2 x 4 = 8 probes, 3 hits)
    val pt = h.toDF.filter($"seg".isin("seg1", "seg3") && $"k".isin(1L, 3L, 7L, 599L))
    assert(pt.select($"k").as[Long].collect().toSet === Set(1L, 3L, 7L))
    assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 8)
    // string-lead equality x long range -> one trie interval per lead
    val mx = h.toDF.filter($"seg" === "seg2" && $"k".between(100L, 300L))
    assert(mx.select($"k").as[Long].collect().toSet ===
      (100L to 300L).filter(_ % 6 == 2).toSet)
    assert(h.lastScanKind === "range")
    // string-lead BETWEEN alone -> contiguous tuple range scan
    val ld = h.toDF.filter($"seg".between("seg1", "seg2"))
    assert(ld.select($"k").as[Long].collect().toSet ===
      (1L to 600L).filter(k => k % 6 == 1 || k % 6 == 2).toSet)
    assert(h.lastScanKind === "range")
    // UNORDERED string-lead handle: ranges fall back to the full lane,
    // Spark re-applies the predicate above it
    val hu = IndexedFrame.indexCompositeN(df, Seq("seg", "k"))
    assert(hu.toDF.filter($"seg" >= "seg4").count() ===
      df.filter($"seg" >= "seg4").count())
    assert(hu.lastScanKind === "full")
  }

  test("generic composite save/load: a (string, long) handle round-trips with pushdown intact") {
    val df = (1L to 400L).map(k => (s"seg${k % 5}", k, k * 1.5)).toDF("seg", "k", "v")
    val h = IndexedFrame.indexCompositeN(df, Seq("seg", "k"), ordered = true)
    val path = java.nio.file.Files.createTempDirectory("frame_io_composite_str").toString
    IndexedFrame.save(h, path)
    val loaded = IndexedFrame.loadCompositeN(spark, path)
    assert(loaded.keyCols === Seq("seg", "k") && loaded.ordered)
    assert(loaded.toDF.count() === 400)
    // point probe on the reloaded handle
    assert(loaded.toDF.filter($"seg" === "seg2" && $"k" === 42L).count() === 1)
    assert(loaded.lastScanKind === "point")
    // mixed string-lead x long-range pushdown on the reloaded handle
    val mixed = loaded.toDF.filter($"seg" === "seg1" && $"k".between(100L, 200L))
      .select($"k").as[Long].collect().toSet
    assert(mixed === (100L to 200L).filter(_ % 5 == 1).toSet)
    assert(loaded.lastScanKind === "range")
  }

  test("generic composite: (uuid, long) and (string, string) pairs index and probe") {
    val df = (1L to 200L).map(k =>
      (f"00000000-0000-4000-8000-$k%012d", k, k * 2.0)).toDF("u", "k", "v")
    val h = IndexedFrame.indexCompositeN(df, Seq("u", "k"), uuidCols = Set("u"))
    val pt = h.toDF.filter(
      $"u" === "00000000-0000-4000-8000-000000000042" && $"k" === 42L)
    assert(pt.count() === 1)
    assert(h.lastScanKind === "point")
    // (string, string): mixed lane with a string second column
    val df2 = (1L to 300L).map(k => (s"g${k % 3}", f"n$k%04d", k)).toDF("g", "n", "k")
    val h2 = IndexedFrame.indexCompositeN(df2, Seq("g", "n"), ordered = true)
    val mixed = h2.toDF.filter($"g" === "g1" && $"n".between("n0100", "n0200"))
    val expect = df2.filter($"g" === "g1" && $"n".between("n0100", "n0200"))
      .select($"k").as[Long].collect().toSet
    assert(mixed.select($"k").as[Long].collect().toSet === expect && expect.nonEmpty)
    assert(h2.lastScanKind === "range")
  }

  test("range-partitioned uuid handle: pushed BETWEEN prunes partitions") {
    val df = (0 until 1000).map(i =>
      (f"00000000-0000-4000-8000-$i%012d", i.toLong)).toDF("u", "v")
    val h = IndexedFrame.indexUuidRangePartitioned(df, "u", numPartitions = 16)
    val q = h.toDF.filter($"u".between(
      "00000000-0000-4000-8000-000000000100",
      "00000000-0000-4000-8000-000000000149"))
    assert(q.select($"v").as[Long].collect().toSet === (100L to 149L).toSet)
    assert(h.lastScanKind === "range")
    // a 5% slice of 1000 uuid-sorted keys over 16 partitions must
    // touch far fewer than all of them
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 16, s"expected pruned partitions, scanned $parts/16")
    // point probes still served on the same layout
    assert(h.toDF.filter(
      $"u" === "00000000-0000-4000-8000-000000000500").count() === 1)
  }

  test("bigint (decimal(38,0)) handle: pushed IN probes; ranges fall back; beyond-long keys") {
    val df = (1L to 300L).map(k => (k, k * 2.0)).toDF("k", "v")
      .withColumn("d", $"k".cast("decimal(38,0)")).select($"d", $"v")
    val h = IndexedFrame.indexBigInt(df, "d")
    val pt = h.toDF.filter($"d".isin(
      new java.math.BigDecimal(42), new java.math.BigDecimal(7)))
    assert(pt.select($"v").as[Double].collect().toSet === Set(84.0, 14.0))
    assert(h.lastScanKind === "point")
    // ranges are NOT claimed (length-prefixed encoding is not
    // order-preserving): indexed full scan with Spark's filter above
    assert(h.toDF.filter($"d" > new java.math.BigDecimal(295)).count() === 5)
    assert(h.lastScanKind === "full")
    // keys beyond Long range round-trip through the BigInt serializer
    val big = Seq(
      ("99999999999999999999999999999999999999", 1L),
      ("-99999999999999999999999999999999999999", 2L))
      .toDF("s", "k").withColumn("d", $"s".cast("decimal(38,0)"))
      .select($"d", $"k")
    val hb = IndexedFrame.indexBigInt(big, "d")
    assert(hb.toDF.filter($"d" === new java.math.BigDecimal(
      "99999999999999999999999999999999999999"))
      .select($"k").as[Long].head() === 1L)
    assert(hb.lastScanKind === "point")
  }

  test("LIKE 'p%' / startsWith on a lex string key routes into one trie range scan") {
    val df = (1L to 500L).map(k => (f"id$k%04d", k)).toDF("id", "v")
    val h = IndexedFrame.indexString(df, "id", ordered = true)
    // like() is simplified to StartsWith by Catalyst; both forms route
    val out = h.toDF.filter($"id".like("id01%")).select($"v").as[Long].collect().toSet
    assert(out === (100L to 199L).toSet)
    assert(h.lastScanKind === "range")
    val out2 = h.toDF.filter($"id".startsWith("id02")).select($"v").as[Long].collect().toSet
    assert(out2 === (200L to 299L).toSet)
    assert(h.lastScanKind === "range")
    // the claim is exact: conjunction with another range intersects
    val both = h.toDF.filter($"id".startsWith("id01") && $"id" >= "id0150")
      .select($"v").as[Long].collect().toSet
    assert(both === (150L to 199L).toSet)
    assert(h.lastScanKind === "range")
    // a prefix matching nothing returns empty, still via the range lane
    // (collect, not count — IndexedAgg may claim counts as range_count)
    assert(h.toDF.filter($"id".startsWith("zz")).collect().isEmpty)
    assert(h.lastScanKind === "range")
    // empty-prefix LIKE '%' matches everything
    assert(h.toDF.filter($"id".like("%")).count() === 500)
  }

  test("prefix upper-bound algebra: code-point increment, surrogate gap, domain max") {
    def iv(p: String) = IndexedFrame.StringCodec.prefixInterval(p).get
    assert(iv("ab") === IndexedFrame.Iv(Some("ab"), Some("ac")))
    // last code point U+D7FF: successor skips the surrogate gap to U+E000
    assert(iv("x\ud7ff") === IndexedFrame.Iv(Some("x\ud7ff"), Some("x\ue000")))
    // supplementary (surrogate-pair) last code point increments as ONE
    // code point: U+10400 'DESERET CAPITAL LONG I' -> U+10401
    val p = "a" + new String(Character.toChars(0x10400))
    assert(iv(p) === IndexedFrame.Iv(Some(p),
      Some("a" + new String(Character.toChars(0x10401)))))
    // trailing U+10FFFF has no successor: it drops and the previous
    // code point increments; an all-U+10FFFF prefix is unbounded above
    val top = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(iv("b" + top) === IndexedFrame.Iv(Some("b" + top), Some("c")))
    assert(iv(top + top) === IndexedFrame.Iv(Some(top + top), None))
    assert(iv("") === IndexedFrame.Iv(None, None))
    // exactness at the boundary: strings at/just under the upper bound
    val df = Seq("ab", "ab ", "abz", "ac", "ab" + top).zipWithIndex
      .map { case (s, i) => (s, i.toLong) }.toDF("id", "v")
    val h = IndexedFrame.indexString(df, "id", ordered = true)
    val hit = h.toDF.filter($"id".startsWith("ab")).select($"id").as[String].collect().toSet
    assert(hit === Set("ab", "ab ", "abz", "ab" + top))
    assert(h.lastScanKind === "range")
  }

  test("prefix pushdown: range-partitioned pruning, no-scan count, ordered secondary") {
    val df = (1L to 1000L).map(k => (f"k$k%05d", k, f"g${k % 100}%03d")).toDF("id", "v", "grp")
    val h = IndexedFrame.indexStringRangePartitioned(df, "id", numPartitions = 16)
    val q = h.toDF.filter($"id".startsWith("k001"))
    assert(q.select($"v").as[Long].collect().toSet === (100L to 199L).toSet)
    assert(h.lastScanKind === "range")
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 16, s"expected pruned partitions, scanned $parts/16")
    // count(*) under LIKE answers from pruned radix descents — no rows read
    graft.sql.IndexedAgg.enable(spark)
    val cnt = h.toDF.filter($"id".like("k002%"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).as[Long].head()
    assert(cnt === 100L)
    assert(h.lastScanKind === "range_count")
    // ordered string secondary: prefix probes the inverted trie, then
    // point-reads — and the repeat answers from the probe memo
    val hs = IndexedFrame.indexString(df, "id").addSecondaryIndex("grp", ordered = true)
    val sec = hs.toDF.filter($"grp".like("g00%")).select($"v").as[Long].collect().toSet
    assert(sec === (1L to 1000L).filter(_ % 100 < 10).toSet)
    assert(hs.lastScanKind === "secondary_range")
    val sec2 = hs.toDF.filter($"grp".like("g00%")).select($"v").as[Long].collect().toSet
    assert(sec2 === sec && hs.lastProbeMemoHit)
  }

  test("mergeFrame: MERGE INTO semantics — delete, update, insert, clause order") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{col, lit}
    val target = (1L to 100L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "name", "bal")
    val h = IndexedFrame.index(target, "k", numPartitions = 4)
    val src = Seq(
      (10L, 0.0),   // matched, delta=0 -> DELETE (even though update also matches)
      (20L, 5.0),   // matched -> UPDATE bal += 5
      (30L, 2.0),   // matched -> UPDATE
      (500L, 7.0),  // unmatched -> INSERT
      (600L, 0.0)   // unmatched -> INSERT (delete clause never applies)
    ).toDF("sk", "delta")
    val merged = h.mergeFrame(src, "sk",
      deleteWhen = Some(col("s.delta") === 0.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))),
      insertValues = Map("k" -> col("s.sk"), "bal" -> col("s.delta")))
    val out = merged.toDF.select($"k", $"name", $"bal")
      .as[(Long, String, Double)].collect().toSet
    val expect = (1L to 100L).filter(_ != 10L).map { k =>
      val bal = k * 1.0 + (if (k == 20L) 5.0 else if (k == 30L) 2.0 else 0.0)
      (k, s"v$k", bal)
    }.toSet ++ Set((500L, null: String, 7.0), (600L, null: String, 0.0))
    assert(out === expect)
    // the pre-merge snapshot is untouched (COW)
    assert(h.toDF.count() === 100L)
    assert(h.toDF.filter($"k" === 10L).count() === 1L)

    // insertAll + conditional insert + update-only merge shapes
    val srcFull = Seq((200L, "new200", 9.0), (1L, "ignored", 9.9))
      .toDF("k", "name", "bal")
    val m2 = h.mergeFrame(srcFull, "k",
      insertWhen = Some(col("s.bal") > lit(0.0)), insertAll = true)
    assert(m2.toDF.count() === 101L) // 1L matched -> no clause applies
    assert(m2.toDF.filter($"k" === 200L).select($"name").as[String].head() === "new200")
    assert(m2.toDF.filter($"k" === 1L).select($"name").as[String].head() === "v1")
    // conditional update only
    val m3 = h.mergeFrame(src, "sk",
      updateWhen = Some(col("s.delta") > 1.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))))
    assert(m3.toDF.count() === 100L) // no deletes, no inserts
    assert(m3.toDF.filter($"k" === 10L).select($"bal").as[Double].head() === 10.0)
    assert(m3.toDF.filter($"k" === 20L).select($"bal").as[Double].head() === 25.0)
  }

  test("N-ary composite: (tenant, entity, ts) point gets and prefix ranges route") {
    // 3 tenants x 20 entities x 15 ts — the multi-tenant time-series
    // key the 2-column handle could only express as manual nesting
    val df = (for (t <- Seq("acme", "beta", "gamma"); e <- 1L to 20L; ts <- 1L to 15L)
      yield (t, e, ts * 10, s"$t-$e-$ts")).toDF("tenant", "entity", "ts", "payload")
    val oracle = df.collect().map(_.toString).toSet

    for (h <- Seq(
        IndexedFrame.indexCompositeN(df, Seq("tenant", "entity", "ts"), ordered = true),
        IndexedFrame.indexCompositeNRangePartitioned(
          df, Seq("tenant", "entity", "ts"), numPartitions = 8))) {
      implicit val sp: org.apache.spark.sql.SparkSession = spark
      val hd = h.toDF
      // full scan equals the source
      assert(hd.collect().map(_.toString).toSet === oracle)
      assert(h.lastScanKind === "full")
      // point get on all three columns
      val p = hd.filter($"tenant" === "beta" && $"entity" === 7L && $"ts" === 30L)
        .select($"payload").as[String].collect().toSeq
      assert(p === Seq("beta-7-3"))
      assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 1)
      // IN x IN x IN cross product stays a point lane
      val p2 = hd.filter($"tenant".isin("acme", "gamma") && $"entity".isin(1L, 2L)
          && $"ts" === 10L).select($"payload").as[String].collect().toSet
      assert(p2 === Set("acme-1-1", "acme-2-1", "gamma-1-1", "gamma-2-1"))
      assert(h.lastScanKind === "point" && h.lastPointLookupKeys === 4)
      // pinned 2-prefix + range on ts: one contiguous tuple interval
      val r = hd.filter($"tenant" === "acme" && $"entity" === 3L &&
          $"ts".between(40L, 80L)).select($"ts").as[Long].collect().sorted.toSeq
      assert(r === Seq(40L, 50L, 60L, 70L, 80L))
      assert(h.lastScanKind === "range")
      // pinned 1-prefix: the tenant's whole run
      val r2 = hd.filter($"tenant" === "beta").select($"ts").collect().length
      assert(r2 === 300L)
      assert(h.lastScanKind === "range")
      // ... and its count(*) from pruned radix descents, no row read
      assert(hd.filter($"tenant" === "beta").count() === 300L)
      assert(h.lastScanKind === "stats")
      // pinned 1-prefix + range on entity (next column)
      val r3 = hd.filter($"tenant" === "beta" && $"entity" > 18L)
        .select($"payload").as[String].collect().toSet
      assert(r3 === (for (e <- 19L to 20L; ts <- 1L to 15L)
        yield s"beta-$e-$ts").toSet)
      assert(h.lastScanKind === "range")
      // leading range alone
      val r4 = hd.filter($"tenant" >= "beta").count()
      assert(r4 === 600L)
      assert(h.lastScanKind === "range")
      // range on a NON-leading column without the prefix pinned: full
      // scan serves, Spark re-applies (claims nothing)
      val r5 = hd.filter($"ts" === 10L).count()
      assert(r5 === 60L)
      assert(h.lastScanKind === "full")
      // empty point intersection short-circuits
      assert(hd.filter($"tenant" === "acme" && $"tenant" === "beta" &&
        $"entity" === 1L && $"ts" === 10L).count() === 0L)
      h.idx.unpersist()
    }
  }

  test("N-ary composite: range-partitioned prefix scans prune partitions") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (for (t <- 1L to 40L; e <- 1L to 25L) yield (t, e, t * 100 + e))
      .toDF("tenant", "entity", "v")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("tenant", "entity"), numPartitions = 8)
    val q = h.toDF.filter($"tenant" === 17L)
    assert(q.select($"v").as[Long].collect().toSet ===
      (1L to 25L).map(17L * 100 + _).toSet)
    val parts = q.queryExecution.executedPlan.execute().getNumPartitions
    assert(parts < 8, s"expected pruned partitions, scanned $parts/8")
    h.idx.unpersist()
  }

  test("N-ary composite: save/load round-trips layout, codecs, and claims") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    graft.sql.IndexedTopK.enable(spark)
    val df = (for (t <- Seq("x", "y"); e <- 1L to 20L; v <- 1L to 3L)
      yield (t, e, v, s"$t/$e/$v")).toDF("tenant", "entity", "ver", "p")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("tenant", "entity", "ver"), numPartitions = 4)
    val ioDir: String =
      java.nio.file.Files.createTempDirectory("graft_c3_io").toString
    IndexedFrame.save(h, ioDir)
      val loaded = IndexedFrame.loadCompositeN(spark, ioDir)
      assert(loaded.keyCols === Seq("tenant", "entity", "ver"))
      // point get
      val p = loaded.toDF.filter($"tenant" === "y" && $"entity" === 7L &&
        $"ver" === 2L).select($"p").as[String].collect().toSeq
      assert(p === Seq("y/7/2"))
      assert(loaded.lastScanKind === "point")
      // pinned prefix + range
      val r = loaded.toDF.filter($"tenant" === "x" && $"entity".between(18L, 19L))
        .select($"p").as[String].collect().toSet
      assert(r === (for (e <- 18L to 19L; v <- 1L to 3L) yield s"x/$e/$v").toSet)
      assert(loaded.lastScanKind === "range")
      // top-k from the reloaded layout
      val t = loaded.toDF.orderBy($"tenant", $"entity", $"ver").limit(3)
        .select($"p").as[String].collect().toSeq
      assert(t === Seq("x/1/1", "x/1/2", "x/1/3"))
      // single-key loader refuses the N-ary save with a clean message
      val e = intercept[IllegalArgumentException](
        IndexedFrame.load(spark, ioDir))
      assert(e.getMessage.contains("use loadCompositeN"))
      loaded.idx.unpersist()
      // secondaries ride along: save a handle WITH an inverted index,
      // reload, and probe it without a rebuild
      val h2 = IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("tenant", "entity", "ver"), numPartitions = 4)
        .addSecondaryIndex("p")
      val ioDir2: String =
        java.nio.file.Files.createTempDirectory("graft_c3_io2").toString
      IndexedFrame.save(h2, ioDir2)
      val loaded2 = IndexedFrame.loadCompositeN(spark, ioDir2)
      val sp2 = loaded2.toDF.filter($"p" === "y/3/2")
        .select($"entity").as[Long].collect().toSeq
      assert(sp2 === Seq(3L))
      assert(loaded2.lastScanKind === "secondary_point")
      loaded2.idx.unpersist(); h2.idx.unpersist()
    h.idx.unpersist()
  }

  test("mergeFrame: NULL clause conditions skip the clause, SQL-style") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.col
    // SQL MERGE three-valued logic: a clause whose condition is NULL
    // is NOT taken and the row falls through to the next clause — a
    // NULL delete condition must not swallow the row from the update
    // bal NULLABLE (boxed) — the t.bal + NULL update writes NULL
    val target = (1L to 10L)
      .map(k => (k, java.lang.Double.valueOf(k * 1.0))).toDF("k", "bal")
    val h = IndexedFrame.index(target, "k", numPartitions = 2)
    val src = Seq[(java.lang.Long, java.lang.Double)](
      (3L, null),  // deleteWhen is NULL -> falls through to UPDATE (bal + NULL = NULL)
      (5L, 0.0),   // deleteWhen true -> DELETE
      (7L, 2.0)    // deleteWhen false -> UPDATE bal += 2
    ).toDF("sk", "delta")
    val merged = h.mergeFrame(src, "sk",
      deleteWhen = Some(col("s.delta") === 0.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))))
    val out = merged.toDF.as[(Long, Option[Double])].collect().toMap
    assert(!out.contains(5L))              // deleted
    assert(out(3L) === None)               // updated to NULL, NOT skipped
    assert(out(7L) === Some(9.0))          // updated
    assert(out(1L) === Some(1.0))          // untouched
    assert(out.size === 9)
    // NULL update condition: clause skipped, row unchanged
    val m2 = h.mergeFrame(src, "sk",
      updateWhen = Some(col("s.delta") > 1.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))))
    val out2 = m2.toDF.as[(Long, Option[Double])].collect().toMap
    assert(out2(3L) === Some(3.0) && out2(5L) === Some(5.0) &&
      out2(7L) === Some(9.0) && out2.size === 10)
  }

  test("N-ary composite: secondary indexes and zone maps route the full lane") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (for (t <- 1L to 4L; e <- 1L to 25L)
      yield (t, e, (t * 25 + e) % 7, t * 1000 + e)).toDF("a", "b", "grp", "seqv")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("a", "b"), numPartitions = 4)
      .addSecondaryIndex("grp", ordered = true)
    // equality on the inverted column -> point probes, not a scan
    val q1 = h.toDF.filter($"grp" === 3L).select($"seqv").as[Long].collect().toSet
    assert(q1 === df.filter($"grp" === 3L).select($"seqv").as[Long].collect().toSet)
    assert(h.lastScanKind === "secondary_point" && !h.lastProbeMemoHit)
    // repeat hits the probe memo
    val q1b = h.toDF.filter($"grp" === 3L).select($"seqv").as[Long].collect().toSet
    assert(q1b === q1 && h.lastProbeMemoHit)
    // range on the ORDERED secondary -> trie range scan of postings
    val q2 = h.toDF.filter($"grp".between(2L, 4L)).select($"seqv").as[Long].collect().toSet
    assert(q2 === df.filter($"grp".between(2L, 4L)).select($"seqv").as[Long].collect().toSet)
    assert(h.lastScanKind === "secondary_range")
    // zone maps on an ANALYZED value column prune the full lane
    // (seqv is clustered by the (a, b) layout)
    h.analyzeZones("seqv")
    val q3 = h.toDF.filter($"seqv" >= 4000L).count()
    assert(q3 === 25L)
    assert(h.lastScanKind === "full_zone" && h.lastZoneKept < 4)
    h.idx.unpersist()
  }

  test("N-ary composite: no-scan aggregates claim and match") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{count, count_distinct, lit, max, min}
    graft.sql.IndexedAgg.enable(spark)
    val df = (for (t <- 1L to 6L; e <- 1L to 15L; v <- 1L to 2L)
      yield (t, e, v, t * 1000 + e)).toDF("a", "b", "c", "pay")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("a", "b", "c"), numPartitions = 4)
    val hd = h.toDF
    // count(*) + min/max(leading) from index structure
    val q1 = hd.agg(count(lit(1)).as("n"), min($"a").as("mn"), max($"a").as("mx"))
    assert(q1.queryExecution.executedPlan.toString.contains("IndexedStats"),
      q1.queryExecution.executedPlan.toString)
    assert(q1.as[(Long, Long, Long)].head() === ((180L, 1L, 6L)))
    // GROUP BY leading -> count from key runs
    val q2 = hd.groupBy($"a").agg(count(lit(1)).as("n"))
    assert(q2.queryExecution.executedPlan.toString.contains("IndexedGroupCount"),
      q2.queryExecution.executedPlan.toString)
    assert(q2.as[(Long, Long)].collect().toSet === (1L to 6L).map((_, 30L)).toSet)
    // count(DISTINCT leading) from boundary-adjusted run counts;
    // count(DISTINCT full key) == count(*)
    val q3 = hd.agg(count(lit(1)).as("n"), count_distinct($"a").as("d"))
    assert(q3.queryExecution.executedPlan.toString.contains("IndexedStats"))
    assert(q3.as[(Long, Long)].head() === ((180L, 6L)))
    // grouping by a NON-leading key column falls through to the scan
    val q4 = hd.groupBy($"b").agg(count(lit(1)).as("n"))
    assert(!q4.queryExecution.executedPlan.toString.contains("IndexedGroupCount"))
    assert(q4.as[(Long, Long)].collect().toSet === (1L to 15L).map((_, 12L)).toSet)
    // GROUP BY leading -> count/min/max(second) from key runs
    val q5 = hd.groupBy($"a").agg(count(lit(1)).as("n"),
      min($"b").as("mn"), max($"b").as("mx"))
    assert(q5.queryExecution.executedPlan.toString.contains("IndexedGroupStats"),
      q5.queryExecution.executedPlan.toString)
    assert(q5.as[(Long, Long, Long, Long)].collect().toSet ===
      (1L to 6L).map((_, 30L, 1L, 15L)).toSet)
    // SELECT DISTINCT leading: zero-shuffle run heads
    val q6 = hd.select($"a").distinct()
    assert(q6.queryExecution.executedPlan.toString.contains("IndexedDistinct"),
      q6.queryExecution.executedPlan.toString)
    assert(q6.as[Long].collect().toSet === (1L to 6L).toSet)
    h.idx.unpersist()
  }

  test("N-ary composite: asOf reads the pinned entity's latest version <= t") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // versions: (tenant, entity, ts) -> payload, ts in {10, 20, 30}
    val df = (for (t <- Seq("acme", "beta"); e <- 1L to 10L; ts <- Seq(10L, 20L, 30L))
      yield (t, e, ts, s"$t/$e@$ts")).toDF("tenant", "entity", "ts", "p")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("tenant", "entity", "ts"), numPartitions = 4)
    def at(tenant: String, e: Long, t: Long): Seq[String] =
      h.asOf(Seq(tenant, e), t).select($"p").as[String].collect().toSeq
    assert(at("beta", 4L, 25L) === Seq("beta/4@20")) // between versions
    assert(at("beta", 4L, 30L) === Seq("beta/4@30")) // exact hit
    assert(at("beta", 4L, 99L) === Seq("beta/4@30")) // after the last
    assert(at("beta", 4L, 9L) === Seq.empty)         // before the first
    assert(at("nope", 4L, 25L) === Seq.empty)        // unknown prefix
    // floor must NOT leak across the entity boundary: entity 5's
    // queries never see entity 4's versions
    assert(at("beta", 5L, 9L) === Seq.empty)
    assert(at("acme", 10L, 15L) === Seq("acme/10@10"))
    h.idx.unpersist()
  }

  test("N-ary composite: ORDER BY key prefix LIMIT plans as IndexedTopK") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    graft.sql.IndexedTopK.enable(spark)
    val df = (for (t <- Seq("a", "b", "c"); e <- 1L to 30L; x <- 1L to 3L)
      yield (t, e, x, s"$t-$e-$x")).toDF("tenant", "entity", "seq", "p")
    val h = IndexedFrame.indexCompositeNRangePartitioned(
      df, Seq("tenant", "entity", "seq"), numPartitions = 8)
    val q = h.toDF.orderBy($"tenant", $"entity", $"seq").limit(7)
    assert(q.queryExecution.executedPlan.toString.contains("IndexedTopK"),
      s"expected IndexedTopK:\n${q.queryExecution.executedPlan}")
    assert(q.select($"p").as[String].collect().toSeq ===
      (for (e <- 1L to 3L; x <- 1L to 3L) yield s"a-$e-$x").take(7))
    assert(h.lastScanKind === "topk")
    // leading-prefix sort (shorter than the full key) claims too;
    // descending reads the suffix
    val q2 = h.toDF.orderBy($"tenant".desc, $"entity".desc, $"seq".desc).limit(3)
    assert(q2.queryExecution.executedPlan.toString.contains("IndexedTopK"))
    assert(q2.select($"p").as[String].collect().toSeq ===
      Seq("c-30-3", "c-30-2", "c-30-1"))
    h.idx.unpersist()
  }
}

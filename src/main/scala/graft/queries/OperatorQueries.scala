package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexedRDD
import graft.sql.Bridge

/**
 * One driver-checkable query per core IndexedRDD operator (SURVEY §2),
 * each paired with an ANSI-SQL oracle in [[OperatorQueries.oracleSql]].
 * All run against the fixture parquet at the given sf dir; doubles are
 * rounded to 2 decimals on output so Spark/DuckDB summation-order ulps
 * can't flip the hash compare.
 */
object OperatorQueries {

  /** Temp dirs created by queries, removed recursively at JVM exit:
    * repeated bench/verify runs in one process no longer accumulate
    * saved-index copies on disk (File.deleteOnExit can't handle
    * non-empty directories). */
  private lazy val tempDirs = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      q.forEach { p =>
        try {
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }
      }
    }))
    q
  }

  private[queries] def registerTempDirForCleanup(p: java.nio.file.Path): String = {
    tempDirs.add(p)
    p.toString
  }

  /** customer keyed by c_custkey -> c_acctbal. */
  private def custBal(s: SparkSession, dir: String): IndexedRDD[Long, Double] = {
    import s.implicits._
    Bridge.fromDataset(Tables.customer(s, dir)
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)])
  }

  /** orders per-customer totalprice sums, reduced into the customer
    * index's partitioning (aggregateUsingIndex = map-side-combinable
    * reduce whose final layout reuses the index). */
  private def orderTotals(s: SparkSession, dir: String,
      idx: IndexedRDD[Long, Double]): IndexedRDD[Long, Double] = {
    import s.implicits._
    idx.aggregateUsingIndex(
      Tables.orders(s, dir).select($"o_custkey", $"o_totalprice").as[(Long, Double)].rdd,
      _ + _)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ir_build_count" -> { (s, dir) =>
      import s.implicits._
      Seq(custBal(s, dir).count()).toDF("cnt")
    },

    "ir_multiget" -> { (s, dir) =>
      import s.implicits._
      custBal(s, dir).multiget(Array(1L, 5L, 42L, 999999L))
        .toSeq.toDF("c_custkey", "c_acctbal")
    },

    "ir_multiput" -> { (s, dir) =>
      import s.implicits._
      custBal(s, dir)
        .multiput(Map(-1L -> 111.11, 1L -> 0.0))
        .multiget(Array(-1L, 1L, 2L))
        .toSeq.toDF("c_custkey", "c_acctbal")
    },

    "ir_delete" -> { (s, dir) =>
      import s.implicits._
      Seq(custBal(s, dir).delete((1L to 10L).toArray).count()).toDF("cnt")
    },

    "ir_filter" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = Bridge.fromDataset(Tables.customer(s, dir)
        .select($"c_custkey".as("_1"),
          struct($"c_acctbal".as("_1"), $"c_mktsegment".as("_2")).as("_2"))
        .as[(Long, (Double, String))])
      Bridge.RichIndexedRDD(
        idx.filter { case (_, (bal, seg)) => bal > 5000.0 && seg == "BUILDING" })
        .toDS
        .select($"_1".as("c_custkey"), $"_2._1".as("c_acctbal"), $"_2._2".as("c_mktsegment"))
    },

    "ir_mapvalues" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // bal*2 keeps 2-decimal inputs exact, so no round-boundary
      // divergence between Spark HALF_UP and DuckDB rounding
      Bridge.RichIndexedRDD(custBal(s, dir).mapValues((bal: Double) => bal * 2.0 + 1.0))
        .toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("interest"))
    },

    "ir_innerjoin" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      val joined = idx.innerJoin(orderTotals(s, dir, idx))((_, bal, tot) => (bal, tot))
      Bridge.RichIndexedRDD(joined).toDS
        .select($"_1".as("c_custkey"), $"_2._1".as("c_acctbal"),
          round($"_2._2", 2).as("total"))
    },

    "ir_leftjoin" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      // join against high-value order totals only, so the None branch is hit
      val big = orderTotals(s, dir, idx).filter { case (_, t) => t > 1500000.0 }
      val joined = idx.leftJoin(big)((_, bal, t) => (bal, t.getOrElse(0.0)))
      Bridge.RichIndexedRDD(joined).toDS
        .select($"_1".as("c_custkey"), $"_2._1".as("c_acctbal"),
          round($"_2._2", 2).as("big_total"))
    },

    "ir_join_update" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      // in-place value update for matched keys, type preserved.
      // floor-truncate instead of round: total/1000 lands on decimal
      // round-ties where Spark and DuckDB round() diverge
      val bumped = idx.join(orderTotals(s, dir, idx))((_, bal, tot) => bal + tot / 1000.0)
      Bridge.RichIndexedRDD(bumped).toDS
        .select($"_1".as("c_custkey"), (floor($"_2" * 100) / 100).as("adj_bal"))
    },

    "ir_fulljoin" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      // add a synthetic right-only key so all three join regions appear
      val withPhantom = orderTotals(s, dir, idx).put(-7L, 77.0)
      val joined = idx.fullOuterJoin(withPhantom) { (_, bal, tot) =>
        (bal.getOrElse(-1.0), tot.getOrElse(-1.0))
      }
      Bridge.RichIndexedRDD(joined).toDS
        .select($"_1".as("c_custkey"), $"_2._1".as("c_acctbal"),
          round($"_2._2", 2).as("total"))
    },

    "ir_unionwith" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      // lazy keyed union: balance + order totals merged under (+)
      val u = idx.unionWith(orderTotals(s, dir, idx), _ + _)
      Bridge.RichIndexedRDD(u).toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("combined"))
    },

    "ir_diff" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = Bridge.fromDataset(Tables.customer(s, dir)
        .select($"c_custkey".as("_1"),
          struct($"c_acctbal".as("_1"), $"c_mktsegment".as("_2")).as("_2"))
        .as[(Long, (Double, String))])
      val bal = idx.mapValues((v: (Double, String)) => v._1)
      val adjusted = idx.mapValues { (v: (Double, String)) =>
        if (v._2 == "BUILDING") v._1 + 1.0 else v._1
      }
      Bridge.RichIndexedRDD(adjusted.diff(bal)).toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("c_acctbal"))
    },

    "ir_aggregate" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      Bridge.RichIndexedRDD(orderTotals(s, dir, idx)).toDS
        .select($"_1".as("o_custkey"), round($"_2", 2).as("total"))
    },

    "ir_range" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = IndexedRDD.ordered(Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd)
      s.createDataset(idx.range(100L, 300L))
        .select($"_1".as("c_custkey"), $"_2".as("c_acctbal"))
    },

    "ir_range_partitioned" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // globally range-partitioned layout: the range() call prunes to
      // only the partitions whose key interval overlaps [500, 800) —
      // O(range) tasks at scale instead of O(partitions)
      val idx = IndexedRDD.rangePartitioned(Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd, 8)
      s.createDataset(idx.range(500L, 800L))
        .select($"_1".as("c_custkey"), $"_2".as("c_acctbal"))
    },

    "ir_save_load" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // index persistence sink/source: save the built index, reload it
      // with its partitioner (no shuffle, no rebuild), then serve a
      // filtered scan from the reloaded copy. Fixed per-process path,
      // overwritten on every run — repeated Verify/Bench invocations
      // must not accumulate index copies on disk
      val path = graft.LaneDirs.path("graft_ir_save_load")
      val idx = IndexedRDD(Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd)
      graft.IndexedRDDIO.save(idx, path)
      val loaded = graft.IndexedRDDIO.load[Long, Double](s.sparkContext, path)
      s.createDataset(loaded.filter { case (k, _) => k % 100 == 7 })
        .select($"_1".as("c_custkey"), $"_2".as("c_acctbal"))
    },

    "ir_sql_join_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL-visible INDEXED JOIN: equi-join on the key columns of two
      // co-partitioned handles plans as the zero-shuffle zip join via
      // the injected planner strategy (graft.sql.IndexedJoin)
      graft.sql.IndexedJoin.enable(s)
      val totals = Tables.orders(s, dir)
        .groupBy($"o_custkey").agg(round(sum($"o_totalprice"), 2).as("total"))
      val hc = graft.sql.IndexedFrame.index(
        Tables.customer(s, dir).select($"c_custkey", $"c_acctbal"),
        "c_custkey", numPartitions = 16)
      val ht = graft.sql.IndexedFrame.index(totals, "o_custkey", numPartitions = 16)
      hc.toDF.join(ht.toDF, $"c_custkey" === $"o_custkey")
        .select($"c_custkey", $"c_acctbal", $"total")
    },

    "ir_sql_join_composite_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // COMPOSITE zip join: two handles keyed by the same (bucket,
      // custkey) pair and partition count — the SQL equi-join on BOTH
      // key columns plans as the zero-shuffle zip join (every pair
      // hashes to the same partition on both sides)
      graft.sql.IndexedJoin.enable(s)
      val c = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
      val totals = Tables.orders(s, dir).groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice"), 2).as("total"))
        .withColumn("o_bucket", ($"o_custkey" % 100).cast("long"))
        .select($"o_bucket", $"o_custkey", $"total")
      val h1 = graft.sql.IndexedFrame.indexCompositeN(c, Seq("c_bucket", "c_custkey"),
        numPartitions = 16)
      val h2 = graft.sql.IndexedFrame.indexCompositeN(totals, Seq("o_bucket", "o_custkey"),
        numPartitions = 16)
      h1.toDF.join(h2.toDF,
          $"c_bucket" === $"o_bucket" && $"c_custkey" === $"o_custkey")
        .select($"c_custkey", $"c_acctbal", $"total")
    },

    "ir_sql_join_composite3_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // N-ARY zip join: two handles keyed by the same THREE columns
      // and partition count — the SQL equi-join equating all three
      // plans as the zero-shuffle zip join, at any arity
      graft.sql.IndexedJoin.enable(s)
      val c = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
      val totals = Tables.orders(s, dir).groupBy($"o_custkey")
        .agg(round(sum($"o_totalprice"), 2).as("total"))
        .withColumn("ob1", ($"o_custkey" % 10).cast("long"))
        .withColumn("ob2", ($"o_custkey" % 100).cast("long"))
        .select($"ob1", $"ob2", $"o_custkey", $"total")
      val h1 = graft.sql.IndexedFrame.indexCompositeN(
        c, Seq("b1", "b2", "c_custkey"), numPartitions = 16)
      val h2 = graft.sql.IndexedFrame.indexCompositeN(
        totals, Seq("ob1", "ob2", "o_custkey"), numPartitions = 16)
      h1.toDF.join(h2.toDF, $"b1" === $"ob1" && $"b2" === $"ob2" &&
          $"c_custkey" === $"o_custkey")
        .select($"c_custkey", $"c_acctbal", $"total")
    },

    "ir_sql_semijoin_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL LEFT SEMI against an index: existence probe of the right
      // handle's per-partition index — no right columns materialize,
      // no shuffle for co-partitioned handles
      graft.sql.IndexedJoin.enable(s)
      val big = Tables.orders(s, dir).filter($"o_totalprice" > 450000.0)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      val hc = graft.sql.IndexedFrame.index(
        Tables.customer(s, dir).select($"c_custkey", $"c_acctbal"),
        "c_custkey", numPartitions = 16)
      val hb = graft.sql.IndexedFrame.index(big, "o_custkey", numPartitions = 16)
      hc.toDF.join(hb.toDF, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_acctbal")
    },

    "ir_sql_antijoin_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the anti twin: customers with NO qualifying order, by the same
      // existence probe with the polarity flipped
      graft.sql.IndexedJoin.enable(s)
      val big = Tables.orders(s, dir).filter($"o_totalprice" > 450000.0)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      val hc = graft.sql.IndexedFrame.index(
        Tables.customer(s, dir).select($"c_custkey", $"c_acctbal"),
        "c_custkey", numPartitions = 16)
      val hb = graft.sql.IndexedFrame.index(big, "o_custkey", numPartitions = 16)
      hc.toDF.join(hb.toDF, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_acctbal")
    },

    "ir_sql_pointget" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL-visible index: pushed key predicates route into multiget
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.filter($"c_custkey".isin(2L, 17L, 123L, 999999L))
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_sql_range" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // pushed BETWEEN routes into the ordered index's trie range scan
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey",
        ordered = true)
      h.toDF.filter($"c_custkey".between(200L, 399L))
        .select($"c_custkey", $"c_acctbal")
    },

    "ir_sql_pointget_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // two-column COMPOSITE SQL handle over the concat serializer
      // (reference KeySerializer.scala:145-176 as first-class SQL
      // keys): pushed conjunctive equality/IN on both columns routes
      // into the partition-pruned tuple multiget — 3 probes here, no
      // scan
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
      h.toDF.filter($"c_bucket" === 17L && $"c_custkey".isin(17L, 117L, 999917L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // leading-column interval on an ORDERED composite handle: the
      // fixed-width tuple encoding makes byte order == (a, b) order, so
      // the pushed BETWEEN on the leading column is ONE contiguous trie
      // range scan across every second-column value
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"),
        ordered = true)
      h.toDF.filter($"c_bucket".between(10L, 12L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_merge" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.functions.{col, concat, lit}
      // MERGE INTO customer t USING src s ON t.c_custkey = s.k
      //   WHEN MATCHED AND s.delta = 0 THEN DELETE
      //   WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
      //   WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
      // — delta-cost MERGE: the source enriches through the lookup
      // join (corpus never scanned), then one COW delete pass + one
      // COW upsert pass apply the change sets
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      val src = s.range(1, 41)
        .select(($"id" * 3).as("k"), ($"id" % 7).cast("double").as("delta"))
        .union(s.range(1, 11)
          .select(($"id" + 10000000L).as("k"), ($"id" % 7).cast("double").as("delta")))
      val merged = h.mergeFrame(src, "k",
        deleteWhen = Some(col("s.delta") === 0.0),
        updateSet = Map("c_acctbal" -> (col("t.c_acctbal") + col("s.delta"))),
        insertValues = Map(
          "c_custkey" -> col("s.k"),
          "c_name" -> concat(lit("Merged#"), col("s.k").cast("string")),
          "c_acctbal" -> col("s.delta")))
      merged.toDF.select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_sql_merge_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.functions.{col, lit}
      // MERGE on the COMPOSITE key (both columns in the ON clause):
      // same delete/update/insert clause semantics, delta cost
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
      val src = s.range(1, 31)
        .select(($"id" % 100).as("sb"), $"id".as("sk"),
          ($"id" % 5).cast("double").as("delta"))
        .union(s.range(1, 6)
          .select(lit(77L).as("sb"), ($"id" + 20000000L).as("sk"),
            ($"id" % 5).cast("double").as("delta")))
      val merged = h.mergeFrame(src, Seq("sb", "sk"),
        deleteWhen = Some(col("s.delta") === 0.0),
        updateSet = Map("c_acctbal" -> (col("t.c_acctbal") + col("s.delta"))),
        insertValues = Map(
          "c_bucket" -> col("s.sb"),
          "c_custkey" -> col("s.sk"),
          "c_acctbal" -> col("s.delta")))
      merged.toDF.select($"c_bucket", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_sum_avg_double" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.functions.{avg, count, expr, round, sum}
      // sum/avg/median/count of a DOUBLE column served from the ordered
      // secondary's histogram (values stored as IEEE sortable bits):
      // zero scans once the distribution memo is warm, and the sum is
      // the EXACT weighted BigDecimal fold, not an accumulation-order
      // artifact. round() sits in a Project ABOVE the aggregate so the
      // no-scan claim still fires.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_acctbal", ordered = true)
      h.toDF.agg(
          sum($"c_acctbal").as("s0"),
          avg($"c_acctbal").as("a0"),
          expr("percentile(c_acctbal, 0.5)").as("m0"),
          count($"c_acctbal").as("cnt_bal"))
        .select(round($"s0", 2).as("sum_bal"), round($"a0", 4).as("avg_bal"),
          round($"m0", 4).as("med_bal"), $"cnt_bal")
    },

    "ir_sql_secondary_filtered_agg" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.functions.{count, lit, max, min, round, sum}
      // WHERE secondary IN (...) + sum/count/min/max: ONE grouped fold
      // job per snapshot warms the per-value memo, then the probe (and
      // any later probe for ANY nation) answers driver-side with zero
      // jobs — the repeated-dashboard aggregate shape
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      h.toDF.filter($"c_nationkey".isin(3, 7, 11))
        .agg(sum($"c_acctbal").as("s0"),
          count($"c_acctbal").as("cnt_bal"),
          min($"c_acctbal").as("min_bal"),
          max($"c_acctbal").as("max_bal"),
          count(lit(1)).as("cnt_rows"))
        .select(round($"s0", 2).as("sum_bal"), $"cnt_bal", $"min_bal",
          $"max_bal", $"cnt_rows")
    },

    "ir_sql_sum_decimal" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      import org.apache.spark.sql.functions.{count, expr, round, sum}
      // sum/median/count of a SCALED DECIMAL column from the ordered
      // secondary's histogram: values store as exact unscaled longs,
      // the fold is checked Long arithmetic, and the sum re-wraps the
      // column's scale — bit-exact, no fp round-trip anywhere
      graft.sql.IndexedAgg.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("bal_dec", $"c_acctbal".cast("decimal(12,2)"))
      val h = graft.sql.IndexedFrame.index(df, "c_custkey")
        .addSecondaryIndex("bal_dec", ordered = true)
      h.toDF.agg(
          sum($"bal_dec").as("sum_bal"),
          expr("percentile(bal_dec, 0.5)").as("m0"),
          count($"bal_dec").as("cnt_bal"))
        .select($"sum_bal", round($"m0", 4).as("med_bal"), $"cnt_bal")
    },

    "ir_sql_merge_sqltext" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the SAME merge scenario as ir_sql_merge, but issued as LITERAL
      // SQL text: the handle registers as an ordinary temp view and
      // graft.sql.GraftSqlExtension rewrites the resolved
      // MergeIntoTable into the delta-cost mergeFrame path (source
      // lookup-joins the index, corpus never scanned)
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_mrg_corpus")
      s.range(1, 41)
        .select(($"id" * 3).as("k"), ($"id" % 7).cast("double").as("delta"))
        .union(s.range(1, 11)
          .select(($"id" + 10000000L).as("k"), ($"id" % 7).cast("double").as("delta")))
        .createOrReplaceTempView("dml_mrg_src")
      s.sql(
        """MERGE INTO dml_mrg_corpus t USING dml_mrg_src s ON t.c_custkey = s.k
          |WHEN MATCHED AND s.delta = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
          |  VALUES (s.k, concat('Merged#', CAST(s.k AS STRING)), s.delta)""".stripMargin)
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM dml_mrg_corpus")
    },

    "ir_sql_merge_sqltext_full" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the full Delta-style MIRROR merge: make the target reflect the
      // source exactly for low-key rows — matched rows update, missing
      // rows insert, and rows the source no longer carries DELETE via
      // WHEN NOT MATCHED BY SOURCE (plus a conditional NBS UPDATE
      // branch to exercise clause order). The NBS clauses evaluate
      // over the corpus-kept anti join: the source keys shuffle
      // one-sided, the corpus streams locally and never shuffles.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_mrgf_corpus")
      s.range(1, 26)
        .select(($"id" * 4).as("k"), ($"id" * 100).cast("double").as("v"))
        .union(s.range(1, 6)
          .select(($"id" + 30000000L).as("k"), ($"id" * 11).cast("double").as("v")))
        .createOrReplaceTempView("dml_mrgf_src")
      s.sql(
        """MERGE INTO dml_mrgf_corpus t USING dml_mrgf_src s ON t.c_custkey = s.k
          |WHEN MATCHED THEN UPDATE SET c_acctbal = s.v
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
          |  VALUES (s.k, concat('Mirror#', CAST(s.k AS STRING)), s.v)
          |WHEN NOT MATCHED BY SOURCE AND t.c_custkey <= 150 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE AND t.c_custkey <= 300
          |  THEN UPDATE SET c_acctbal = -1.0""".stripMargin)
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM dml_mrgf_corpus")
    },

    "ir_skew_build" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // OVERSIZED-PARTITION guard end-to-end: every key is a multiple
      // of 32, so a vanilla 32-bucket hash build piles the whole
      // corpus into partition 0 (hashCode % 32 == 0); the skew-aware
      // build counts buckets first and splits the hot one by a
      // decorrelated second hash, then serves the ordinary pushed
      // point-IN probe surface through the two-level partitioner
      val df = Tables.customer(s, dir)
        .withColumn("skey", $"c_custkey" * 32)
      val h = graft.sql.IndexedFrame.indexSkewAware(
        df, "skey", numPartitions = 32, maxRowsPerPartition = 2000L)
      val probes = (1L to 50L).map(_ * 7L * 32L)
      h.toDF.filter($"skey".isin(probes.map(Long.box): _*))
        .select($"skey", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_catalog_table" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // PERSISTENT graft table: CREATE TABLE ... USING graft persists
      // the built index (one-file-per-partition + sidecars), SQL-text
      // DML commits change-set deltas to the table's on-disk log, and
      // a NEW session replays base + deltas to the identical state —
      // the final read happens in that reopened session, so the lane
      // proves durability, not cache reuse
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_table")
      s.sql("DROP TABLE IF EXISTS graft_cat_customer")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_ctas_src")
      s.sql(s"""CREATE TABLE graft_cat_customer USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_ctas_src""".stripMargin)
      s.sql("""UPDATE graft_cat_customer SET c_acctbal = c_acctbal + 100
        |WHERE c_custkey <= 50""".stripMargin)
      s.sql("""DELETE FROM graft_cat_customer
        |WHERE c_custkey % 10 = 7 AND c_custkey <= 100""".stripMargin)
      s.range(1, 21).select(($"id" * 5).as("k"), ($"id" % 3).cast("double").as("d"))
        .union(s.range(1, 4)
          .select(($"id" + 20000000L).as("k"), ($"id" % 3).cast("double").as("d")))
        .createOrReplaceTempView("cat_merge_src")
      s.sql(
        """MERGE INTO graft_cat_customer t USING cat_merge_src s
          |ON t.c_custkey = s.k
          |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.d
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
          |  VALUES (s.k, 'Cat#' || CAST(s.k AS STRING), s.d)""".stripMargin)
      val reopened = s.newSession()
      reopened.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM graft_cat_customer")
    },

    "ir_sql_catalog_timetravel" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // VERSION AS OF over the table's on-disk delta log, read from a
      // REOPENED session (no in-session chain exists there): version 1
      // is the state after the UPDATE and before the DELETE
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_tt")
      s.sql("DROP TABLE IF EXISTS graft_cat_tt")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_tt_src")
      s.sql(s"""CREATE TABLE graft_cat_tt USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_tt_src""".stripMargin)
      s.sql("""UPDATE graft_cat_tt SET c_acctbal = -5
        |WHERE c_custkey <= 40""".stripMargin)
      s.sql("DELETE FROM graft_cat_tt WHERE c_custkey <= 200")
      val reopened = s.newSession()
      reopened.sql(
        """SELECT c_custkey, c_acctbal FROM graft_cat_tt VERSION AS OF 1
          |WHERE c_custkey <= 300""".stripMargin)
    },

    "ir_sql_restore_sqltext" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RESTORE TABLE ... TO VERSION AS OF — Delta's rollback verb on
      // the durable log: the restore commits the INVERSE DIFF as a new
      // delta version (history intact), so a REOPENED session replaying
      // base + deltas lands on the rolled-back content. Version 1 is
      // the state after the UPDATE; the DELETE (version 2) is undone.
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_restore")
      s.sql("DROP TABLE IF EXISTS graft_cat_restore")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_restore_src")
      s.sql(s"""CREATE TABLE graft_cat_restore USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_restore_src""".stripMargin)
      s.sql("""UPDATE graft_cat_restore SET c_acctbal = c_acctbal * 2
        |WHERE c_custkey <= 60""".stripMargin)
      s.sql("DELETE FROM graft_cat_restore WHERE c_custkey <= 150")
      s.sql("RESTORE TABLE graft_cat_restore TO VERSION AS OF 1")
      val reopened = s.newSession()
      reopened.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM graft_cat_restore")
    },

    "ir_sql_restore_view" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RESTORE on an in-session indexed VIEW: a pure pointer swap —
      // the chain pins the target snapshot's index, so rolling back
      // recomputes nothing; the restored state is the next version and
      // later DML keeps working on it
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(
        Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("restore_view_corpus")
      s.sql("""UPDATE restore_view_corpus SET c_acctbal = 0
        |WHERE c_custkey <= 80""".stripMargin)
      s.sql("DELETE FROM restore_view_corpus WHERE c_custkey % 2 = 0")
      s.sql("RESTORE restore_view_corpus TO VERSION AS OF 1")
      // post-restore DML proves the restored binding is live
      s.sql("""UPDATE restore_view_corpus SET c_acctbal = c_acctbal + 7
        |WHERE c_custkey <= 10""".stripMargin)
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM restore_view_corpus")
    },

    "ir_sql_catalog_index_ddl" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL index DDL on a PERSISTENT table: CREATE INDEX persists the
      // inverted-index sidecars (and the durable name manifest) beside
      // the base save, so a REOPENED session routes the secondary
      // probe with no rebuild — the read below happens in that session
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_ddl")
      s.sql("DROP TABLE IF EXISTS graft_cat_ddl")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_ddl_src")
      s.sql(s"""CREATE TABLE graft_cat_ddl USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_ddl_src""".stripMargin)
      s.sql("CREATE INDEX nation_ix ON graft_cat_ddl (c_nationkey)")
      val reopened = s.newSession()
      reopened.sql(
        """SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cat_ddl
          |WHERE c_nationkey IN (3, 7, 11)""".stripMargin)
    },

    "ir_sql_catalog_concurrent" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // TWO WRITERS, ONE LOG: two sessions commit DML against the same
      // graft table CONCURRENTLY. The optimistic claim (atomic
      // create-if-absent of the next delta version — Delta's log
      // protocol shape) serializes them: the loser waits for the
      // winner's commit, replays it, and retries under the next
      // version, so BOTH statements land in the durable log instead of
      // one silently clobbering the other. Disjoint key ranges make
      // the merged result order-independent; the read happens in a
      // REOPENED session so it proves the log, not a cache.
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_conc")
      s.sql("DROP TABLE IF EXISTS graft_cat_conc")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_conc_src")
      s.sql(s"""CREATE TABLE graft_cat_conc USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_conc_src""".stripMargin)
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def writer(sql: String): Thread = {
        val ss = s.newSession()
        val t = new Thread(() => {
          try {
            start.await()
            var attempts = 0
            var done = false
            while (!done) {
              try { ss.sql(sql); done = true }
              catch {
                // the documented concurrent-abort (claim stolen after a
                // heartbeat stall, e.g. a long GC pause on a loaded
                // box): the statement provably did NOT commit — the
                // steal either found the commit point and backed off,
                // or retired the attempt to a grave — so the app-level
                // retry the error message prescribes is exactly-once
                // safe. Real Delta applications retry their
                // ConcurrentModificationExceptions the same way.
                case e: Throwable if attempts < 3 &&
                    String.valueOf(e.getMessage)
                      .contains("no longer belongs") =>
                  attempts += 1
              }
            }
            ()
          } catch { case e: Throwable => errs.add(e); () }
        })
        t.start(); t
      }
      val a = writer("""UPDATE graft_cat_conc SET c_acctbal = c_acctbal + 100
        |WHERE c_custkey <= 60""".stripMargin)
      val b = writer("""UPDATE graft_cat_conc SET c_acctbal = c_acctbal - 40
        |WHERE c_custkey > 60 AND c_custkey <= 120""".stripMargin)
      start.countDown()
      a.join(120000); b.join(120000)
      if (!errs.isEmpty) throw errs.peek()
      val reopened = s.newSession()
      reopened.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM graft_cat_conc")
    },

    "ir_sql_catalog_evolve" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SCHEMA EVOLUTION on the durable log: ALTER TABLE ADD COLUMNS
      // commits a schema delta (nothing rewrites — existing rows read
      // NULL through one narrow widening layer), later DML writes the
      // new columns, and a REOPENED session replays base + deltas —
      // each under the schema current at ITS commit — to the evolved
      // state
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_evolve")
      s.sql("DROP TABLE IF EXISTS graft_cat_evolve")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .createOrReplaceTempView("cat_evolve_src")
      s.sql(s"""CREATE TABLE graft_cat_evolve USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_evolve_src""".stripMargin)
      s.sql(
        "ALTER TABLE graft_cat_evolve ADD COLUMNS (c_tier STRING, c_bonus DOUBLE)")
      s.sql("""UPDATE graft_cat_evolve SET c_tier = 'gold'
        |WHERE c_custkey <= 30""".stripMargin)
      s.sql("""INSERT INTO graft_cat_evolve
        |VALUES (30000001, 'Evo#1', 10.0, 'new', 1.5)""".stripMargin)
      val reopened = s.newSession()
      reopened.sql(
        """SELECT c_custkey, c_name, c_acctbal, c_tier, c_bonus
          |FROM graft_cat_evolve""".stripMargin)
    },

    "ir_sql_merge_sqltext_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL-text MERGE on a COMPOSITE key: the ON clause carries one
      // equality per key column and routes into the composite
      // mergeFrame — same clause semantics, delta cost
      graft.sql.IndexedJoin.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"))
      h.toDF.createOrReplaceTempView("dml_mrgc_corpus")
      s.range(1, 31)
        .select(($"id" % 100).as("sb"), $"id".as("sk"),
          ($"id" % 5).cast("double").as("delta"))
        .union(s.range(1, 6)
          .select(org.apache.spark.sql.functions.lit(77L).as("sb"),
            ($"id" + 20000000L).as("sk"), ($"id" % 5).cast("double").as("delta")))
        .createOrReplaceTempView("dml_mrgc_src")
      s.sql(
        """MERGE INTO dml_mrgc_corpus t USING dml_mrgc_src s
          |ON t.c_bucket = s.sb AND t.c_custkey = s.sk
          |WHEN MATCHED AND s.delta = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
          |WHEN NOT MATCHED THEN INSERT (c_bucket, c_custkey, c_acctbal)
          |  VALUES (s.sb, s.sk, s.delta)""".stripMargin)
      s.sql("SELECT c_bucket, c_custkey, c_acctbal FROM dml_mrgc_corpus")
    },

    "ir_sql_merge_sqltext_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL-text MERGE at ARITY 3: the ON clause carries one equality
      // per key column and routes into the N-ary mergeFrame — the
      // multi-tenant (b1, b2, id) layout gets the same delta-cost DML
      // surface as the single-key and two-column handles
      graft.sql.IndexedJoin.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(
        df, Seq("b1", "b2", "c_custkey"))
      h.toDF.createOrReplaceTempView("dml_mrg3_corpus")
      s.range(1, 31)
        .select(($"id" % 10).as("s1"), ($"id" % 100).as("s2"), $"id".as("sk"),
          ($"id" % 5).cast("double").as("delta"))
        .union(s.range(1, 6)
          .select(org.apache.spark.sql.functions.lit(7L).as("s1"),
            org.apache.spark.sql.functions.lit(77L).as("s2"),
            ($"id" + 30000000L).as("sk"), ($"id" % 5).cast("double").as("delta")))
        .createOrReplaceTempView("dml_mrg3_src")
      s.sql(
        """MERGE INTO dml_mrg3_corpus t USING dml_mrg3_src s
          |ON t.b1 = s.s1 AND t.b2 = s.s2 AND t.c_custkey = s.sk
          |WHEN MATCHED AND s.delta = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
          |WHEN NOT MATCHED THEN INSERT (b1, b2, c_custkey, c_acctbal)
          |  VALUES (s.s1, s.s2, s.sk, s.delta)""".stripMargin)
      s.sql("SELECT b1, b2, c_custkey, c_acctbal FROM dml_mrg3_corpus")
    },

    "ir_sql_time_travel_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL time travel over the COW chain the SQL-text DML builds:
      // version 0 = pre-DML, 1 = after the DELETE, 2 = after the
      // UPDATE; `VERSION AS OF n` substitutes the immutable snapshot.
      // Exact integer aggregates only — no fp drift in the gate.
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_tt_corpus")
      s.sql("DELETE FROM dml_tt_corpus WHERE c_custkey % 10 = 3")
      s.sql("UPDATE dml_tt_corpus SET c_nationkey = 0 WHERE c_custkey % 10 = 4")
      s.sql(
        """SELECT 0 AS v, count(*) AS cnt, sum(c_custkey) AS key_sum,
          |       sum(c_nationkey) AS nat_sum
          |FROM dml_tt_corpus VERSION AS OF 0
          |UNION ALL
          |SELECT 1, count(*), sum(c_custkey), sum(c_nationkey)
          |FROM dml_tt_corpus VERSION AS OF 1
          |UNION ALL
          |SELECT 2, count(*), sum(c_custkey), sum(c_nationkey)
          |FROM dml_tt_corpus VERSION AS OF 2""".stripMargin)
    },

    "ir_sql_index_ddl_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL-text index DDL through Spark's own CREATE/DROP INDEX
      // grammar: the hash secondary routes the equality into point
      // probes, the ZONEMAP prunes the value predicate, and the DROPs
      // make reruns in one session idempotent (they also exercise the
      // drop path against a fresh handle: stale registry entries
      // release without touching it)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("ddl_idx_corpus")
      s.sql("DROP INDEX IF EXISTS nat_idx ON ddl_idx_corpus")
      s.sql("DROP INDEX IF EXISTS bal_zone ON ddl_idx_corpus")
      s.sql("CREATE INDEX nat_idx ON ddl_idx_corpus (c_nationkey)")
      s.sql("CREATE INDEX bal_zone ON ddl_idx_corpus USING ZONEMAP (c_acctbal)")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal FROM ddl_idx_corpus
          |WHERE c_nationkey = 7 AND c_acctbal >= 0""".stripMargin)
    },

    "ir_sql_table_changes_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // Delta-style CDC read as a TABLE FUNCTION over the COW chain:
      // graft_changes('view', v1, v2) emits every column plus
      // _change_type in {insert, delete, update_preimage,
      // update_postimage}. The diff's three key equi-joins run over
      // co-partitioned COW snapshots — the indexed zip-join strategy,
      // no snapshot ever reshuffles
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("cdc_corpus")
      s.sql("DELETE FROM cdc_corpus WHERE c_custkey % 10 = 3")
      s.sql("UPDATE cdc_corpus SET c_acctbal = c_acctbal + 1 WHERE c_custkey % 10 = 4")
      s.sql(
        """INSERT INTO cdc_corpus (c_custkey, c_name)
          |SELECT id + 60000000, 'cdc' FROM range(1, 6)""".stripMargin)
      s.sql(
        """SELECT _change_type, c_custkey, c_name, c_acctbal
          |FROM graft_changes('cdc_corpus', 0, 3)""".stripMargin)
    },

    "ir_sql_optimize_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL OPTIMIZE mid-chain: v1 DELETE, v2 UPDATE, v3 = OPTIMIZE
      // (compaction — freshly rebuilt partitions, checkpoint-cut
      // lineage, CONTENT-EQUAL to v2), v4 DELETE applied on the
      // compacted snapshot. The gate proves compaction changes nothing
      // (v2 == v3 aggregates) and stays DML-able (v4 correct), while
      // time travel still crosses the OPTIMIZE boundary.
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("opt_corpus")
      s.sql("DELETE FROM opt_corpus WHERE c_custkey % 10 = 3")
      s.sql("UPDATE opt_corpus SET c_nationkey = 9 WHERE c_custkey % 10 = 4")
      s.sql("OPTIMIZE opt_corpus")
      s.sql("DELETE FROM opt_corpus WHERE c_custkey % 10 = 5")
      s.sql(
        """SELECT 2 AS v, count(*) AS cnt, sum(c_custkey) AS key_sum,
          |       sum(c_nationkey) AS nat_sum
          |FROM opt_corpus VERSION AS OF 2
          |UNION ALL
          |SELECT 3, count(*), sum(c_custkey), sum(c_nationkey)
          |FROM opt_corpus VERSION AS OF 3
          |UNION ALL
          |SELECT 4, count(*), sum(c_custkey), sum(c_nationkey)
          |FROM opt_corpus""".stripMargin)
    },

    "ir_sql_vacuum_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL VACUUM: three DML versions, then RETAIN 2 keeps v2/v3
      // under their ORIGINAL numbers (graft_history shows exactly the
      // retained tail) while current reads and retained time travel
      // stay intact. Sentinel rows: -1 = current content, -2 = a
      // VERSION AS OF read of the oldest RETAINED version.
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("vac_corpus")
      s.sql("DELETE FROM vac_corpus WHERE c_custkey % 10 = 3")
      s.sql("DELETE FROM vac_corpus WHERE c_custkey % 10 = 6")
      s.sql("UPDATE vac_corpus SET c_nationkey = 0 WHERE c_custkey % 10 = 4")
      s.sql("VACUUM vac_corpus RETAIN 2 VERSIONS")
      s.sql(
        """SELECT version, is_current, CAST(NULL AS BIGINT) AS cnt
          |FROM graft_history('vac_corpus')
          |UNION ALL
          |SELECT -1, true, count(*) FROM vac_corpus
          |UNION ALL
          |SELECT -2, false, count(*) FROM vac_corpus VERSION AS OF 2""".stripMargin)
    },

    "ir_sql_vacuum_hours" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // TIME-BASED retention (Delta's `RETAIN n HOURS`) on the durable
      // log: three DML versions, then RETAIN 0 HOURS folds everything
      // older than "now" — the current version alone survives, under
      // its ORIGINAL number, and a reopened session pays ONE base load
      // with zero replays. RETAIN 72 HOURS first proves the
      // fresh-history no-op (all stamps are younger than the cutoff).
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_vh")
      s.sql("DROP TABLE IF EXISTS graft_cat_vh")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_vh_src")
      s.sql(s"""CREATE TABLE graft_cat_vh USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_vh_src""".stripMargin)
      s.sql("DELETE FROM graft_cat_vh WHERE c_custkey % 10 = 3")
      s.sql("""UPDATE graft_cat_vh SET c_nationkey = 0
        |WHERE c_custkey % 10 = 4""".stripMargin)
      s.sql("VACUUM graft_cat_vh RETAIN 72 HOURS") // no-op: history is fresh
      s.sql("VACUUM graft_cat_vh RETAIN 0 HOURS") // folds all history
      val reopened = s.newSession()
      reopened.sql(
        """SELECT h.version, h.is_current, t.cnt, t.nat_sum
          |FROM graft_history('graft_cat_vh') h
          |CROSS JOIN (SELECT count(*) AS cnt, sum(c_nationkey) AS nat_sum
          |            FROM graft_cat_vh) t""".stripMargin)
    },

    "ir_sql_delete_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL-text DELETE: the predicate filters THROUGH the handle's
      // pushed-filter lanes (a key predicate prunes partitions), then
      // only the matching keys shuffle into the COW delete
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_del_corpus")
      s.sql("DELETE FROM dml_del_corpus WHERE c_acctbal < 0 AND c_custkey % 10 = 3")
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM dml_del_corpus")
    },

    "ir_sql_update_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL-text UPDATE: read-modify-write of only the affected rows
      // (filter → recompute assigned columns → COW upsert); unmatched
      // rows never move
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_upd_corpus")
      s.sql("UPDATE dml_upd_corpus SET c_acctbal = c_acctbal * 2 WHERE c_custkey % 7 = 3")
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM dml_upd_corpus")
    },

    "ir_sql_insert_sqltext" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL-text INSERT with a column list: positions align to the
      // named target columns, unnamed columns fill NULL, and the rows
      // land through the COW upsert (keyed-store semantics: an
      // existing key would be replaced, the reference's put contract)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.createOrReplaceTempView("dml_ins_corpus")
      s.sql(
        """INSERT INTO dml_ins_corpus (c_custkey, c_name, c_acctbal)
          |SELECT id + 50000000, concat('New#', CAST(id AS STRING)),
          |       CAST(id % 9 AS DOUBLE) + 0.5
          |FROM range(1, 21)""".stripMargin)
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM dml_ins_corpus")
    },

    "ir_sql_pointget_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // THREE-column composite key through the N-ary concat serializer
      // (the reference Tuple2Serializer contract, reference
      // KeySerializer.scala:145-176, generalized to arity N): pushed
      // conjunctive equality/IN on ALL key columns routes into one
      // partition-pruned tuple multiget — 3 probes, no scan
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(
        df, Seq("b1", "b2", "c_custkey"))
      h.toDF.filter($"b1" === 3L && $"b2" === 53L &&
          $"c_custkey".isin(53L, 153L, 999953L))
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_prefix_range_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // pinned leading prefix + range on the NEXT key column of a
      // RANGE-PARTITIONED 3-column composite: one contiguous tuple
      // interval, partition-pruned, then trie range scans — the
      // "tenant pinned, entity range" multi-tenant read at any arity
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
      h.toDF.filter($"b1" === 3L && $"b2".between(20L, 40L))
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_secondary_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // inverted VALUE-column index on an N-ARY handle: pushed
      // equality on c_nationkey probes the postings then point-reads
      // the matching tuples — no corpus scan, same routing as the
      // single-key and two-column handles
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
        .addSecondaryIndex("c_nationkey")
      h.toDF.filter($"c_nationkey" === 7)
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
    },

    "ir_sql_group_stats_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // per-entity summary at arity N: GROUP BY leading -> count(*),
      // min/max(second key column) folded from contiguous key runs —
      // data rows never read, only (group, stats) tuples exchange
      graft.sql.IndexedAgg.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
      h.toDF.groupBy($"b1").agg(count(lit(1)).as("n"),
        min($"b2").as("mn"), max($"b2").as("mx"))
    },

    "ir_sql_agg_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // no-scan aggregates at arity N: GROUP BY the leading key column
      // -> count(*) answered from key runs (values never read), plus
      // count(DISTINCT leading) = boundary-adjusted run counts and
      // count(*)/min/max(leading) from index structure — all claimed
      // by IndexedAgg on the N-ary handle exactly like at arity 2
      graft.sql.IndexedAgg.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
      h.toDF.groupBy($"b1").agg(count(lit(1)).as("n"))
    },

    "ir_sql_topk_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ORDER BY the full 3-column key prefix LIMIT n on the
      // range-partitioned N-ary layout: globally sorted in
      // lexicographic column order, so the first n rows live in the
      // covering partition prefix — O(n) rows read at any arity
      graft.sql.IndexedTopK.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
      h.toDF.orderBy($"b1", $"b2", $"c_custkey").limit(50)
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_pointget_str" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // STRING-keyed SQL handle: pushed string equality/IN routes into
      // the same partition-pruned multiget as integral keys (the RDD
      // layer is generic over KeySerializer; reference
      // KeySerializer.scala:28-31's generic-key contract through SQL)
      val h = graft.sql.IndexedFrame.indexString(Tables.customer(s, dir), "c_name")
      h.toDF.filter($"c_name".isin(
          "Customer#000000002", "Customer#000000017",
          "Customer#000000123", "Customer#999999999"))
        .select($"c_name", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_str" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ordered STRING handle: keys ride the lex serializer (byte order
      // == UTF8-binary string order), so the pushed BETWEEN on c_name
      // is one trie range scan — string ranges no longer fall back
      val h = graft.sql.IndexedFrame.indexString(Tables.customer(s, dir), "c_name",
        ordered = true)
      h.toDF.filter($"c_name".between("Customer#000000050", "Customer#000000120"))
        .select($"c_name", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_str_rp" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RANGE-PARTITIONED string handle: keys globally sorted in UTF-8
      // binary order (Utf8StringOrdering, matching the lex tries' byte
      // order), so the pushed BETWEEN prunes to only the overlapping
      // partitions — O(range) tasks for string-range workloads
      val h = graft.sql.IndexedFrame.indexStringRangePartitioned(
        Tables.customer(s, dir), "c_name", numPartitions = 16)
      h.toDF.filter($"c_name".between("Customer#000000020", "Customer#000000080"))
        .select($"c_name", $"c_acctbal")
    },

    "ir_sql_prefix_scan" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // LIKE 'p%' on a lex string key: Catalyst simplifies the LIKE to
      // StartsWith, the relation maps it to the EXACT half-open key
      // interval [p, p-with-last-codepoint-incremented), and the trie
      // serves one pruned range scan — claimed fully, no re-check above
      val h = graft.sql.IndexedFrame.indexString(Tables.customer(s, dir), "c_name",
        ordered = true)
      h.toDF.filter($"c_name".like("Customer#00000007%"))
        .select($"c_name", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_prefix_rp" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // range-partitioned twin: the prefix interval also prunes
      // PARTITIONS — only those whose key range overlaps [p, upper)
      // run tasks, the prefix-scan shape a 100 TB id-keyed table wants
      val h = graft.sql.IndexedFrame.indexStringRangePartitioned(
        Tables.customer(s, dir), "c_name", numPartitions = 16)
      h.toDF.filter($"c_name".startsWith("Customer#0000001"))
        .select($"c_name", $"c_acctbal")
    },

    "ir_sql_prefix_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // prefix on an ORDERED SECONDARY index: the inverted trie is
      // range-probed over the prefix interval for the key set, then one
      // primary multiget point-reads the rows — never a corpus scan
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_name", ordered = true)
      h.toDF.filter($"c_name".like("Customer#00000012%"))
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_sql_minmax_str" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // count + string-key extrema with no scan: min/max(c_name) are
      // O(depth) radix descents over the lex-keyed tries, in exactly
      // the UTF8-binary order SQL min/max uses
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.indexString(Tables.customer(s, dir), "c_name",
        ordered = true)
      h.toDF.agg(count(lit(1)).as("cnt"),
        min($"c_name").as("min_name"), max($"c_name").as("max_name"))
    },

    "ir_sql_frame_load" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL-handle persistence: save an ordered handle, reload it
      // (partitioner + orderedness + schema re-attached, no rebuild),
      // and serve a pushed range from the RELOADED copy
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey",
        ordered = true)
      // per-invocation temp dir: a fixed shared path would let two
      // concurrent runs (different scale factors, same machine) read
      // each other's half-written index files. Registered for
      // JVM-exit cleanup — the returned plan reads the saved files
      // lazily, so deleting any earlier would race the query itself.
      val path = registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_sql_frame_load"))
      graft.sql.IndexedFrame.save(h, path)
      val loaded = graft.sql.IndexedFrame.load(s, path)
      loaded.toDF.filter($"c_custkey".between(100L, 149L))
        .select($"c_custkey", $"c_acctbal")
    },

    "ir_sql_frame_load_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // secondary indexes PERSIST with the handle: save a handle with
      // an inverted index on c_nationkey, reload, and serve the pushed
      // equality from the RELOADED secondary (point probes, no
      // rebuild — the lane fails loudly if the route degrades to a
      // scan, which would still be correct but not the shape saved)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      val path = registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_sql_frame_load_sec"))
      graft.sql.IndexedFrame.save(h, path)
      val loaded = graft.sql.IndexedFrame.load(s, path)
      val out = loaded.toDF.filter($"c_nationkey" === 7L)
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val n = out.count()
      require(loaded.lastScanKind == "secondary_point",
        s"expected the reloaded secondary to serve, got '${loaded.lastScanKind}'")
      require(n > 0, "empty probe result")
      out
    },

    "ir_sql_range_composite2" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // MIXED composite pushdown: leading-column IN + second-column
      // range routes into one multiRange pass — one disjoint
      // (a, [bFrom, bTo)) trie interval per leading value, NOT a full
      // scan and NOT a driver-side cross product
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"),
        ordered = true)
      // (scan kind is set at execution; IndexedFrameSpec asserts this
      // exact shape takes the "range" lane, not point or full)
      h.toDF.filter($"c_bucket".isin(10L, 11L) && $"c_custkey".between(40L, 130L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_frame_load_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // N-ARY handle persistence: save a RANGE-PARTITIONED 3-column
      // handle, reload it (key column list + per-component codecs +
      // partitioner re-attached, no rebuild), then serve a pushed
      // 3-column POINT and a pinned-prefix RANGE from the reloaded copy
      val df = Tables.customer(s, dir)
        .withColumn("b1", ($"c_custkey" % 10).cast("long"))
        .withColumn("b2", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("b1", "b2", "c_custkey"), numPartitions = 8)
      val path = registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_sql_frame_load_c3"))
      graft.sql.IndexedFrame.save(h, path)
      val loaded = graft.sql.IndexedFrame.loadCompositeN(s, path)
      val point = loaded.toDF
        .filter($"b1" === 3L && $"b2" === 53L &&
          $"c_custkey".isin(53L, 153L, 999953L))
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
      val range = loaded.toDF.filter($"b1" === 3L && $"b2".between(20L, 40L))
        .select($"b1", $"b2", $"c_custkey", $"c_acctbal")
      range.unionAll(point)
    },

    "ir_sql_frame_load_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // composite-handle persistence: save an ORDERED two-column
      // handle, reload it (both key columns + orderedness + partitioner
      // re-attached, no rebuild), then serve a pushed POINT and a
      // pushed LEADING-RANGE from the reloaded copy
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"),
        ordered = true)
      val path = registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_sql_frame_load_composite"))
      graft.sql.IndexedFrame.save(h, path)
      val loaded = graft.sql.IndexedFrame.loadCompositeN(s, path)
      val range = loaded.toDF.filter($"c_bucket".between(10L, 12L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
      val point = loaded.toDF
        .filter($"c_bucket" === 17L && $"c_custkey".isin(17L, 117L, 999917L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
      range.unionAll(point)
    },

    "ir_sql_range_composite_rp" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RANGE-PARTITIONED composite handle: (bucket, custkey) tuples
      // globally sorted lexicographically, so the pushed leading-column
      // BETWEEN prunes PARTITIONS (the fixed-width tuple serializer is
      // order-preserving) before the per-partition trie scans — the
      // O(range)-tasks layout for composite range workloads at scale
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        df, Seq("c_bucket", "c_custkey"), numPartitions = 16)
      h.toDF.filter($"c_bucket".between(20L, 24L))
        .select($"c_bucket", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_minmax_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // key extrema on an ordered COMPOSITE handle: the fixed-width
      // tuple encoding's byte order is lexicographic (a, b), so the
      // byte-extreme tuples' first components answer min/max of the
      // LEADING column from radix descents — no scan
      graft.sql.IndexedAgg.enable(s)
      val df = Tables.customer(s, dir)
        .withColumn("c_bucket", ($"c_custkey" % 100).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("c_bucket", "c_custkey"),
        ordered = true)
      h.toDF.agg(count(lit(1)).as("cnt"),
        min($"c_bucket").as("min_bucket"), max($"c_bucket").as("max_bucket"))
    },

    "ir_sql_minmax_uuid" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // key extrema on an ordered UUID handle: min/max(c_uuid) are
      // O(depth) radix descents over the 16-byte lexicographic key,
      // converted back to the canonical string — no scan (previously
      // the one place the SQL layer silently fell back to a scan)
      graft.sql.IndexedAgg.enable(s)
      val withUuid = Tables.customer(s, dir).withColumn("c_uuid",
        format_string("00000000-0000-4000-8000-%012d", $"c_custkey"))
      val h = graft.sql.IndexedFrame.indexUuid(withUuid, "c_uuid", ordered = true)
      h.toDF.agg(count(lit(1)).as("cnt"),
        min($"c_uuid").as("min_uuid"), max($"c_uuid").as("max_uuid"))
    },

    "ir_sql_pointget_uuid" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // UUID-keyed SQL handle: customers get a synthetic canonical UUID
      // derived from the key; pushed IN routes into the 16-byte-key
      // multiget (reference UUIDSerializer, KeySerializer.scala:100-108)
      val withUuid = Tables.customer(s, dir).withColumn("c_uuid",
        format_string("00000000-0000-4000-8000-%012d", $"c_custkey"))
      val h = graft.sql.IndexedFrame.indexUuid(withUuid, "c_uuid")
      h.toDF.filter($"c_uuid".isin(
          "00000000-0000-4000-8000-000000000002",
          "00000000-0000-4000-8000-000000000017",
          "00000000-0000-4000-8000-999999999999"))
        .select($"c_uuid", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_partitioned" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // range-partitioned handle: the pushed BETWEEN prunes to only the
      // partitions whose key interval overlaps [300, 499] — O(range)
      // tasks, not O(partitions) (IndexedRDD.range PartitionPruningRDD)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.customer(s, dir), "c_custkey", numPartitions = 16)
      h.toDF.filter($"c_custkey".between(300L, 499L))
        .select($"c_custkey", $"c_acctbal")
    },

    "ir_sql_zone_prune" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // zone maps: events are keyed/range-partitioned by event_id,
      // which the generator assigns in time order, so each partition
      // covers a narrow ts interval — after analyzeZones("ts"), a
      // pushed VALUE predicate on ts keeps only the overlapping
      // partitions (asserted in IndexedFrameSpec/PlanAudit; here the
      // oracle gates the semantics). The 100 TB shape: time-range
      // queries over an id-keyed corpus read O(days), not O(corpus).
      val ev = Tables.events(s, dir)
        .select($"event_id", $"ts", $"user_id", $"value")
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        ev, "event_id", numPartitions = 16).analyzeZones("ts")
      h.toDF.filter($"ts" >= lit("2024-01-20 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-23 00:00:00").cast("timestamp"))
        .select($"event_id", $"user_id", round($"value", 2).as("value"))
    },

    "ir_sql_range_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // TIMESTAMP-keyed index: the classic time-series layout keys the
      // corpus by (ts, id) — the unique pair makes the key total while
      // the leading ts column gives EXACT time-range partition pruning
      // (a pushed ts interval is ONE contiguous range of the tuple byte
      // space; contrast ir_sql_zone_prune, where ts is only a value
      // summary and pruning is approximate). Timestamps ride the long
      // codec as epoch micros, so the radix layout and range algebra
      // are identical to integral keys. 100 TB shape: "last 3 days over
      // a month of events" reads O(days) partitions, not O(corpus).
      val ev = Tables.events(s, dir)
        .select($"ts", $"event_id", $"user_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), numPartitions = 16)
      h.toDF.filter($"ts" >= lit("2024-01-20 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-23 00:00:00").cast("timestamp"))
        .select(unix_millis($"ts").as("ts_ms"), $"event_id", $"user_id",
          round($"value", 2).as("value"))
    },

    "ir_sql_asof_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // point-in-time read on a timestamp-keyed handle: asOf(T) finds
      // the LARGEST key <= T with one pruned pass of bounded rightmost
      // radix descents (no scan, no sort), then point-probes that key.
      // Keys are the distinct event timestamps (count/max aggregates
      // are order-insensitive, so both engines group identically); T
      // falls mid-corpus so the floor is a genuine interior lookup.
      val g = Tables.events(s, dir).groupBy($"ts")
        .agg(count(lit(1)).as("n"), round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexRangePartitioned(g, "ts", 16)
      h.asOf(java.sql.Timestamp.valueOf("2024-01-15 12:00:00"))
        .select(unix_millis($"ts").as("ts_ms"), $"n", $"mv")
    },

    "ir_sql_asof_user" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // per-key point-in-time (versioned-dimension / SCD lookup): on a
      // (user_id, ts) composite, asOf(u, T) reads u's latest version
      // at-or-before T — one bounded floor descent over the tuple byte
      // space plus a point probe, never a scan. Keys are the distinct
      // (user, ts) pairs (max-aggregate is order-insensitive).
      val g = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        g, Seq("user_id", "ts"), 16)
      h.asOf(Seq(5L), java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
        .select($"user_id", unix_millis($"ts").as("ts_ms"), $"mv")
    },

    "ir_sql_asof_composite3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // N-ARY point-in-time: on a (tenant, user_id, ts) three-part
      // key, asOf(Seq(tenant, user), T) reads that entity's latest
      // version at-or-before T — one bounded floor descent over the
      // N-ary tuple byte space plus a point probe; the multi-tenant
      // SCD lookup a two-column key cannot express
      val g = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
        .withColumn("tenant", ($"user_id" % 5).cast("long"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        g, Seq("tenant", "user_id", "ts"), numPartitions = 16)
      h.asOf(Seq(2L, 7L), java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
        .select($"tenant", $"user_id", unix_millis($"ts").as("ts_ms"), $"mv")
    },

    "ir_sql_range_date" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // DATE-keyed composite (int days ride the long codec like
      // timestamps do micros): (order date, order key) leading-date
      // interval is one contiguous tuple range — a quarter's orders
      // read O(quarter), not O(history)
      val df = Tables.orders(s, dir)
        .withColumn("od", $"o_orderdate".cast("date"))
        .select($"od", $"o_orderkey", $"o_totalprice")
      val h = graft.sql.IndexedFrame.indexCompositeN(df, Seq("od", "o_orderkey"),
        ordered = true)
      h.toDF.filter($"od" >= lit("1996-01-01").cast("date") &&
          $"od" < lit("1996-04-01").cast("date"))
        .select(date_format($"od", "yyyy-MM-dd").as("od"), $"o_orderkey",
          $"o_totalprice")
    },

    "ir_sql_topk_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // earliest-n over the same time-leading composite: ORDER BY
      // (ts, event_id) LIMIT n is served by IndexedTopK from the
      // covering partition prefix — O(n) rows read, no corpus heap-scan
      // (the unique pair makes both engines' pick deterministic)
      graft.sql.IndexedTopK.enable(s)
      val ev = Tables.events(s, dir)
        .select($"ts", $"event_id", $"user_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), numPartitions = 16)
      h.toDF.orderBy($"ts", $"event_id").limit(50)
        .select(unix_millis($"ts").as("ts_ms"), $"event_id",
          round($"value", 2).as("value"))
    },

    "ir_sql_secondary_eq" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // secondary index: customers keyed by c_custkey with an inverted
      // index on c_nationkey — the pushed equality probes the inverted
      // index for the primary key set and point-reads it (two pruned
      // jobs), never scanning the corpus. 100 TB shape: selective
      // equality on a non-key column reads O(matches), not O(rows).
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      h.toDF.filter($"c_nationkey" === 5)
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_sql_secondary_in" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // two secondary indexes ANDed: probe each inverted index (IN on
      // the integral one, equality on the string one), intersect the
      // key sets driver-side, point-read the intersection only.
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey").addSecondaryIndex("c_mktsegment")
      h.toDF.filter($"c_nationkey".isin(3, 9, 14) &&
          $"c_mktsegment" === "BUILDING")
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
    },

    "ir_sql_secondary_range" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ORDERED secondary index: o_custkey is decorrelated from the
      // o_orderkey layout (zone maps would keep everything), but the
      // ordered inverted index serves the pushed BETWEEN as one trie
      // range scan collecting the matching key sets + one primary
      // multiget — the B-tree-secondary shape at 100 TB.
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
        .addSecondaryIndex("o_custkey", ordered = true)
      h.toDF.filter($"o_custkey".between(100L, 110L))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    "ir_sql_secondary_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // secondary indexes on a COMPOSITE-keyed table: the pair key
      // (c_mktsegment, c_custkey) clusters neither c_nationkey nor its
      // probes, but the shared inverted-index machinery routes the
      // pushed equality into point probes of PAIR keys all the same
      val h = graft.sql.IndexedFrame.indexCompositeN(
        Tables.customer(s, dir), Seq("c_mktsegment", "c_custkey"))
        .addSecondaryIndex("c_nationkey")
      val out = h.toDF.filter($"c_nationkey" === 7L)
        .select($"c_mktsegment", $"c_custkey", $"c_nationkey", $"c_acctbal")
      val n = out.count()
      require(h.lastScanKind == "secondary_point",
        s"expected the composite secondary to serve, got '${h.lastScanKind}'")
      require(n > 0, "empty probe result")
      out
    },

    "ir_sql_range_stats" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // min/max/count under a key BETWEEN: count from pruned radix
      // range descents, extrema from BOUNDED first/last-in-range
      // descents (IndexedRangeStats) — no value read, partitions
      // outside the interval never visited. 100 TB shape: interval
      // stats cost O(depth × overlapping partitions), not a scan.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.filter($"o_orderkey".between(100L, 1200L))
        .agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"),
          count(lit(1)).as("cnt"))
    },

    "ir_sql_range_stats_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the composite twin on the (ts, id) TIME-SERIES layout: a
      // leading-ts interval is one contiguous tuple range, so the
      // time-bounded count comes from pruned radix descents and
      // min/max(ts) from two bounded first/last-in-range descents —
      // the "how many events in this window" query every 100 TB events
      // table gets asked, with no row read and no value shipped
      graft.sql.IndexedAgg.enable(s)
      val ev = Tables.events(s, dir).select($"ts", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), 16)
      h.toDF.filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-20 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("cnt"), min($"ts").as("mn"), max($"ts").as("mx"))
    },

    "ir_sql_zone_prune_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // composite twin of ir_sql_zone_prune: (event_id, user_id)
      // range-partitioned pairs with ts clustered by the leading
      // event_id order — the analyzed ts zone keeps only overlapping
      // partitions on the composite FULL lane
      val ev = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"ts", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("event_id", "user_id"), numPartitions = 16).analyzeZones("ts")
      h.toDF.filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-14 00:00:00").cast("timestamp"))
        .select($"event_id", $"user_id", round($"value", 2).as("value"))
    },

    "ir_sql_topk" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ORDER BY key LIMIT n on a range-partitioned handle plans as
      // IndexedTopK: one sizes job picks the covering partition
      // prefix, one job streams those tries in key order — O(n) rows
      // read, no scan, no sort (vs Catalyst's every-partition heaps).
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.orderBy($"o_orderkey").limit(50)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    "ir_sql_topk_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ORDER BY (a, b) LIMIT n on a range-partitioned COMPOSITE: the
      // layout is globally sorted in lexicographic pair order, so the
      // same O(n) covering-prefix read serves two-column sorts
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        Tables.orders(s, dir)
          .withColumn("o_bucket", (col("o_orderkey") % 97).cast("long")),
        Seq("o_bucket", "o_orderkey"), numPartitions = 16)
      h.toDF.orderBy($"o_bucket", $"o_orderkey").limit(50)
        .select($"o_bucket", $"o_orderkey", $"o_totalprice")
    },

    "ir_sql_topk_desc" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the descending twin reads the partition SUFFIX (ring-buffered
      // last-n per trie) — same O(n) bound from the other end
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.orderBy($"o_orderkey".desc).limit(50)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    "ir_sql_topk_page" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // KEYSET PAGINATION: WHERE key > cursor ORDER BY key LIMIT n —
      // the filter's exact interval narrows the covering-partition
      // pick, so page depth never costs more than the page itself
      // (OFFSET-style pagination re-reads everything before the page;
      // this is the only ORDER-BY shape that stays O(page) at 100 TB)
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.filter($"o_orderkey" > 1000L).orderBy($"o_orderkey").limit(50)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    "ir_sql_topk_page_desc" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // bounded-window descending page: BETWEEN narrows both ends, the
      // suffix of the covering partitions serves the last rows first
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.filter($"o_orderkey".between(500L, 1400L))
        .orderBy($"o_orderkey".desc).limit(40)
        .select($"o_orderkey", $"o_totalprice")
    },

    "ir_sql_topk_page_prefix" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // LIKE-prefix + cursor pagination over a STRING id space — the
      // two conjuncts meet into one interval [cursor-succ, prefix-upper)
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.indexStringRangePartitioned(
        Tables.customer(s, dir), "c_name", numPartitions = 16)
      h.toDF.filter($"c_name".like("Customer#000000%") &&
          $"c_name" > "Customer#000000050")
        .orderBy($"c_name").limit(20)
        .select($"c_name", $"c_acctbal")
    },

    "ir_sql_topk_page_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // composite keyset page on the (ts, id) time-series layout:
      // WHERE ts >= cursor ORDER BY ts, id LIMIT n — the incremental
      // time-ordered export shape; the leading interval narrows the
      // covering-partition pick, O(page) at any depth
      graft.sql.IndexedTopK.enable(s)
      val ev = Tables.events(s, dir).select($"ts", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), 16)
      h.toDF.filter($"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .orderBy($"ts", $"event_id").limit(50)
        .select($"ts", $"event_id", round($"value", 2).as("value"))
    },

    "ir_sql_topk_page_entity" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // PER-ENTITY TIMELINE page: WHERE user = X AND ts > cursor
      // ORDER BY ts LIMIT n on a (user_id, ts) layout — the pinned
      // leading equality plus the ts cursor meet into ONE contiguous
      // tuple range under that user, so the page reads O(page) rows no
      // matter how long the user's history or the corpus is (the
      // activity-feed / version-history shape)
      graft.sql.IndexedTopK.enable(s)
      val g = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        g, Seq("user_id", "ts"), 16)
      h.toDF.filter($"user_id" === 7L &&
          $"ts" > lit("2024-01-05 00:00:00").cast("timestamp"))
        .orderBy($"ts").limit(20)
        .select($"user_id", $"ts", $"mv")
    },

    "ir_sql_topk_page_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ORDER BY a NON-KEY column, index-served: the ordered secondary
      // streams its in-range postings in value order (each inverted
      // partition ships at most the page), then one multiget — sorting
      // by any ordered-secondary attribute without a corpus scan. The
      // bound excludes NULLs exactly as the inverted index does, so
      // the claim is exact
      graft.sql.IndexedTopK.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_name", ordered = true)
      h.toDF.filter($"c_name" > "Customer#000000100")
        .orderBy($"c_name").limit(30)
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_sql_group_count_user" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // GROUP BY the LEADING key column, answered from index structure:
      // per-partition key-run counts (values never examined) + a reduce
      // of the tiny (group, count) pairs — "events per user" with no
      // data-row exchange; the windowed twin shows leading-interval
      // conjuncts restricting the groups
      graft.sql.IndexedAgg.enable(s)
      val g = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        g, Seq("user_id", "ts"), 16)
      val all = h.toDF.groupBy($"user_id").agg(count(lit(1)).as("cnt"))
        .withColumn("scope", lit("all"))
      val windowed = h.toDF.filter($"user_id".between(5L, 15L))
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
        .withColumn("scope", lit("window"))
      all.unionAll(windowed)
    },

    "ir_sql_group_count_segment" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // GROUP BY a secondary-indexed VALUE column: the inverted index
      // already holds each value's row count (posting lengths), so the
      // aggregate maps over (value, postings) pairs — zero primary rows
      // read. The IS NOT NULL bound makes the claim exact (the index
      // drops nulls, and so does the filter)
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_mktsegment")
      h.toDF.filter($"c_mktsegment".isNotNull)
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("cnt"))
    },

    "ir_tuple2_multiget" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // composite (o_custkey, o_orderdate) key through the Tuple2
      // serializer end-to-end: index build, partition-pruned multiget,
      // same-day duplicates folded at build (updatable z/f; max is
      // fold-order-independent, so the oracle compares bit-exact).
      // Build lane: ONE parquet scan, keys pulled straight off the
      // columnar internal rows (no encoder deserialization), the build
      // shuffle fanned out to defaultParallelism partitions (a small
      // parquet file scans as ONE partition — inheriting that would
      // build the whole index single-threaded), and the probe keys
      // derived from the CACHED index afterwards instead of a second
      // scan + distinct + sort over the source
      val proj = Tables.orders(s, dir)
        .select($"o_custkey", unix_date(to_date($"o_orderdate")).as("d"),
          $"o_totalprice")
      val pairs = proj.queryExecution.toRdd.mapPartitions(_.map { r =>
        ((r.getLong(0), r.getInt(1)), r.getDouble(2))
      }).partitionBy(new org.apache.spark.HashPartitioner(
        s.sparkContext.defaultParallelism))
      val idx = IndexedRDD.updatable[(Long, Int), Double, Double](
        pairs, (_, v) => v, (_, a, b) => math.max(a, b)).cached
      // probe the 3 lowest composite keys (deterministic at every SF) —
      // a key-only pass over the freshly cached index, no parquet reread
      val keys = idx.map(_._1).takeOrdered(3)
      idx.multiget(keys).toSeq
        .map { case ((c, d), t) => (c, d, t) }
        .toDF("o_custkey", "d", "max_price")
        .select($"o_custkey", date_from_unix_date($"d").as("o_orderdate"),
          $"max_price")
    },

    "ir_sql_scan" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // non-key predicate: exercises the relation's full-scan fallback
      // with Spark applying the filter above the indexed scan
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.filter($"c_acctbal" > 9000.0 && $"c_mktsegment" =!= "BUILDING")
        .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
    },

    "ir_sql_upsert_frame" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // DISTRIBUTED copy-on-write upsert at the SQL surface: only the
      // delta DataFrame shuffles (to the index's partitioning); the
      // indexed corpus never moves — multiputRDD's bulk-update shape.
      // Delta = doubled balances for keys ≡ 3 (mod 10), plus brand-new
      // keys shifted by 1e6 for keys ≡ 7 (mod 100)
      val base = Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
      val h = graft.sql.IndexedFrame.index(base, "c_custkey")
      val updates = base.filter($"c_custkey" % 10 === 3)
        .select($"c_custkey", ($"c_acctbal" * 2).as("c_acctbal"))
        .unionAll(base.filter($"c_custkey" % 100 === 7)
          .select(($"c_custkey" + 1000000L).as("c_custkey"),
            lit(0.0).as("c_acctbal")))
      h.upsertFrame(updates).toDF
    },

    "ir_sql_count_range" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // aggregate pushdown UNDER a filter: count(*) over a pushed key
      // interval answers from pruned radix range descents — values are
      // never read, rows never ship. Mixed bounds exercise the
      // strict/inclusive interval algebra end to end
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(
        Tables.orders(s, dir), "o_orderkey", ordered = true)
      val between = h.toDF.filter($"o_orderkey".between(1000L, 5000L))
        .agg(count(lit(1)).as("cnt"))
      val strict = h.toDF.filter($"o_orderkey" > 2000L && $"o_orderkey" < 2500L)
        .agg(count(lit(1)).as("cnt"))
      val empty = h.toDF.filter($"o_orderkey" > 10L && $"o_orderkey" < 5L)
        .agg(count(lit(1)).as("cnt"))
      between.unionAll(strict).unionAll(empty)
    },

    "ir_sql_mutate_composite" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // composite-key bulk mutation: an upsert delta (modified rows +
      // one brand-new (segment, key) pair) then a delete key-pair set,
      // both shuffling only the delta to the pair partitioning
      val base = Tables.customer(s, dir)
        .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
      val h = graft.sql.IndexedFrame.indexCompositeN(
        base, Seq("c_mktsegment", "c_custkey"))
      val ups = base.filter($"c_custkey" % 10 === 4)
        .select($"c_mktsegment", $"c_custkey",
          ($"c_acctbal" + 100).as("c_acctbal"))
        .unionAll(Seq(("NEWSEG", 42424242L, 1.5))
          .toDF("c_mktsegment", "c_custkey", "c_acctbal"))
      val dels = base.filter($"c_custkey" % 10 === 9)
        .select($"c_mktsegment", $"c_custkey")
      h.upsertFrame(ups).deleteFrame(dels).toDF
    },

    "ir_sql_delete_frame" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // DISTRIBUTED copy-on-write delete: only the key column shuffles
      // to the index's partitioning; the surviving corpus never moves
      val base = Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
      val h = graft.sql.IndexedFrame.index(base, "c_custkey")
      val dels = base.filter($"c_custkey" % 7 === 0).select($"c_custkey")
        // unknown keys are ignored, matching SQL DELETE
        .unionAll(Seq(99999999L).toDF("c_custkey"))
      h.deleteFrame(dels).toDF
    },

    "ir_sql_count" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SQL count(*) over an indexed handle plans as the O(partitions)
      // index-size sum (IndexedAgg strategy) — no row scan, no
      // partial/final aggregate exchange; the reference's no-scan
      // count (reference IndexedRDD.scala:66-68) at the SQL surface
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
      h.toDF.agg(count(lit(1)).as("cnt"))
    },

    "ir_sql_minmax" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // count + key extrema on an ORDERED handle: count = index-size
      // sum, min/max = one O(depth) radix descent per partition — the
      // whole row answered without scanning a single entry
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey",
        ordered = true)
      h.toDF.agg(count(lit(1)).as("cnt"),
        min($"c_custkey").as("min_key"), max($"c_custkey").as("max_key"))
    },

    "ir_incremental_agg" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // incremental view maintenance on the COW index: a maintained
      // per-customer order-total must equal a from-scratch recompute
      // after the delta batch lands. Base = orders with key % 3 != 0
      // folded additively at build; delta = the remaining third,
      // upserted with merge = + (one-sided shuffle of the delta only —
      // the maintained view never rebuilds, the reference's README
      // update loop as a VIEW-MAINTENANCE primitive). The oracle
      // recomputes over the union, so the gate proves
      // incremental == batch.
      val all = Tables.orders(s, dir)
        .select($"o_orderkey" % 3 =!= 0, $"o_custkey", $"o_totalprice")
        .toDF("base", "o_custkey", "o_totalprice")
      val base = all.filter($"base").select($"o_custkey", $"o_totalprice")
        .as[(Long, Double)].rdd
      val delta = all.filter(!$"base").select($"o_custkey", $"o_totalprice")
        .as[(Long, Double)].rdd
      val view = IndexedRDD.updatable[Long, Double, Double](
        base, (_, v) => v, (_, a, b) => a + b)
      val maintained = view.multiputRDD[Double](delta, (_, v) => v, (_, a, b) => a + b)
      Bridge.RichIndexedRDD(maintained).toDS
        .select($"_1".as("o_custkey"), round($"_2", 2).as("total"))
    },

    "ir_create_using_index" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val idx = custBal(s, dir)
      // rebuild the index with per-customer max order price (unique keys
      // upstream, so last-write-wins is deterministic)
      val maxPrice = idx.aggregateUsingIndex(
        Tables.orders(s, dir).select($"o_custkey", $"o_totalprice").as[(Long, Double)].rdd,
        (a: Double, b: Double) => math.max(a, b))
      val rebuilt = idx.createUsingIndex(maxPrice: org.apache.spark.rdd.RDD[(Long, Double)])
      Bridge.RichIndexedRDD(rebuilt).toDS
        .select($"_1".as("o_custkey"), round($"_2", 2).as("max_price"))
    },

    "ir_sql_pointget_composite_str" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // GENERIC composite handle with a STRING leading component: the
      // (c_name, c_custkey) pair rides the unprefixed concatenating
      // tuple serializer (lex string component self-delimits), and the
      // pushed two-column IN × IN routes into the tuple multiget —
      // 12 cross-product probes, 3 hits, no scan
      val h = graft.sql.IndexedFrame.indexCompositeN(
        Tables.customer(s, dir), Seq("c_name", "c_custkey"))
      h.toDF.filter(
          $"c_name".isin("Customer#000000002", "Customer#000000017",
            "Customer#000000123") &&
            $"c_custkey".isin(2L, 17L, 123L, 999999L))
        .select($"c_name", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_composite_str" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // string-lead composite MIXED pushdown: segment IN × custkey
      // range — one disjoint trie interval per leading segment value
      // in a single multiRange pass (the lex-encoded string lead keeps
      // the concatenated tuple byte order lexicographic, so per-lead
      // second-column intervals are contiguous byte ranges)
      val h = graft.sql.IndexedFrame.indexCompositeN(
        Tables.customer(s, dir), Seq("c_mktsegment", "c_custkey"), ordered = true)
      h.toDF.filter(
          $"c_mktsegment".isin("BUILDING", "AUTOMOBILE") &&
            $"c_custkey".between(1L, 500L))
        .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_range_uuid_rp" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RANGE-PARTITIONED UUID handle: keys globally sorted in unsigned
      // (msb, lsb) order — the same order the 16-byte sign-flipped lex
      // encoding sorts in — so the pushed BETWEEN prunes to only the
      // overlapping partitions before the per-partition trie scans
      val withUuid = Tables.customer(s, dir).withColumn("c_uuid",
        format_string("00000000-0000-4000-8000-%012d", $"c_custkey"))
      val h = graft.sql.IndexedFrame.indexUuidRangePartitioned(
        withUuid, "c_uuid", numPartitions = 16)
      h.toDF.filter($"c_uuid".between(
          "00000000-0000-4000-8000-000000000100",
          "00000000-0000-4000-8000-000000000299"))
        .select($"c_uuid", $"c_acctbal")
    },

    "ir_sql_pointget_bigint" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // decimal(38,0) keys through the BigInt serializer (the
      // reference ships BigInt as a first-class key type, reference
      // KeySerializer.scala:69-80): pushed IN routes into the
      // arbitrary-precision-key multiget, no scan
      val withDec = Tables.customer(s, dir)
        .withColumn("c_dec", $"c_custkey".cast("decimal(38,0)"))
      val h = graft.sql.IndexedFrame.indexBigInt(withDec, "c_dec")
      // output key cast back to BIGINT: the decimal KEY path (codec,
      // serializer, multiget probe) is what this lane gates; DuckDB's
      // pandas bridge renders DECIMAL(38,0) as float, which would fail
      // the textual compare on representation alone
      h.toDF.filter($"c_dec".isin(
          new java.math.BigDecimal(2), new java.math.BigDecimal(17),
          new java.math.BigDecimal(123), new java.math.BigDecimal(999999)))
        .select($"c_dec".cast("long").as("c_key"), $"c_acctbal")
    },

    "ir_sql_frame_load_uuid" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // UUID-handle persistence: save an ORDERED uuid handle, reload
      // it (lex serializer + orderedness re-attached), and serve a
      // pushed point probe AND a pushed uuid range from the RELOADED
      // copy — closes the persistence matrix (long / string /
      // composite / uuid all save-load-gated)
      val withUuid = Tables.customer(s, dir).withColumn("c_uuid",
        format_string("00000000-0000-4000-8000-%012d", $"c_custkey"))
      val h = graft.sql.IndexedFrame.indexUuid(withUuid, "c_uuid", ordered = true)
      val path = registerTempDirForCleanup(
        java.nio.file.Files.createTempDirectory("graft_sql_frame_load_uuid"))
      graft.sql.IndexedFrame.save(h, path)
      val loaded = graft.sql.IndexedFrame.load(s, path)
      val range = loaded.toDF.filter($"c_uuid".between(
          "00000000-0000-4000-8000-000000000200",
          "00000000-0000-4000-8000-000000000399"))
        .select($"c_uuid", $"c_acctbal")
      val point = loaded.toDF.filter($"c_uuid".isin(
          "00000000-0000-4000-8000-000000000002",
          "00000000-0000-4000-8000-000000000017"))
        .select($"c_uuid", $"c_acctbal")
      range.unionAll(point)
    },

    "ir_sql_join_composite_str_idx" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // STRING-LEAD composite zip join: two handles keyed by the same
      // (c_mktsegment, c_custkey) pair — the generic tuple serializer
      // co-locates equal pairs, so the two-column equi-join plans as
      // the zero-shuffle zip join, string lead included
      graft.sql.IndexedJoin.enable(s)
      val base = Tables.customer(s, dir)
        .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
      val names = Tables.customer(s, dir)
        .select($"c_mktsegment".as("m2"), $"c_custkey".as("k2"), $"c_name")
      val h1 = graft.sql.IndexedFrame.indexCompositeN(
        base, Seq("c_mktsegment", "c_custkey"), numPartitions = 16)
      val h2 = graft.sql.IndexedFrame.indexCompositeN(
        names, Seq("m2", "k2"), numPartitions = 16)
      h1.toDF.join(h2.toDF, $"c_mktsegment" === $"m2" && $"c_custkey" === $"k2")
        .select($"c_mktsegment", $"c_custkey", $"c_acctbal", $"c_name")
    },

    "ir_stream_sink" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // the foreachBatch COW sink, driven end-to-end: a MemoryStream of
      // per-year (custkey, max order price) upsert batches flows
      // through upsertStream -> multiputRDD; each micro-batch lands
      // copy-on-write on the live index (old snapshot stays queryable
      // until the new one is materialized). Batches are applied in
      // order, so the final state is last-write-wins across batch ids —
      // which the oracle replays with a window over the same per-year
      // aggregates. max() keeps both sides bit-exact (order-free fold).
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd
        .partitionBy(new org.apache.spark.HashPartitioner(16))
      val sink = new graft.streaming.Streaming.IndexedUpsertSink[Long, Double](
        IndexedRDD(init))
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = graft.streaming.Streaming.upsertStream(
        input.toDS(), sink, s"ir_stream_sink_${System.nanoTime()}")
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
            .as[(Long, Double)].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      Bridge.RichIndexedRDD(sink.current).toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("val"))
    },

    "ir_stream_restart" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // EXACTLY-ONCE RESTART: the same per-year upsert scenario as
      // ir_stream_sink, but the query is KILLED after batch 1 and a
      // brand-new sink instance restores from the sink checkpoint
      // (base + committed deltas) before batch 2 streams in — the
      // final state must equal the never-killed run, which is exactly
      // what the shared oracle replays
      val ckpt = graft.LaneDirs.path("graft_ir_stream_restart")
      val engineCkpt = graft.LaneDirs.path("graft_ir_stream_restart_q")
      new scala.reflect.io.Directory(new java.io.File(ckpt)).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(engineCkpt)).deleteRecursively()
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd
        .partitionBy(new org.apache.spark.HashPartitioner(16))
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      def start(sink: graft.streaming.Streaming.CheckpointedUpsertSink[Long, Double]) =
        input.toDS().writeStream
          .queryName(s"ir_stream_restart_${System.nanoTime()}")
          .option("checkpointLocation", engineCkpt)
          .outputMode("update")
          .foreachBatch(
            (b: org.apache.spark.sql.Dataset[(Long, Double)], id: Long) =>
              sink.upsertBatch(b, id))
          .start()
      def batchFor(y: Int) = Tables.orders(s, dir)
        .filter(year($"o_orderdate") === y)
        .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
        .as[(Long, Double)].collect().toSeq
      val sink1 = new graft.streaming.Streaming.CheckpointedUpsertSink[Long, Double](
        s.sparkContext, graft.IndexedRDD(init), ckpt)
      val q1 = start(sink1)
      try {
        Seq(1995, 1996).foreach { y => input.addData(batchFor(y)); q1.processAllAvailable() }
      } finally q1.stop()
      // the restart: nothing in-memory survives into the new sink
      val sink2 = new graft.streaming.Streaming.CheckpointedUpsertSink[Long, Double](
        s.sparkContext, sys.error("restore must not rebuild"), ckpt)
      val q2 = start(sink2)
      try {
        input.addData(batchFor(1997)); q2.processAllAvailable()
      } finally q2.stop()
      Bridge.RichIndexedRDD(sink2.current).toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("val"))
    },

    "ir_stream_table_feed" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // STREAMING READ of the durable log (the outbound twin of
      // ir_stream_catalog): readStream.format("graft") tails the
      // table's delta versions as a change feed — upsert rows straight
      // from the written change sets, delete keys null-extended — so a
      // downstream consumer materializes the table incrementally
      // without ever scanning the corpus. startingVersion 0 is
      // backfill-then-tail (Delta CDF's shape): the version-0 corpus
      // arrives first as `insert` rows, then the retained deltas.
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_feed")
      s.sql("DROP TABLE IF EXISTS graft_cat_feed")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
        .createOrReplaceTempView("cat_feed_src")
      s.sql(s"""CREATE TABLE graft_cat_feed USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_feed_src""".stripMargin)
      s.sql("""UPDATE graft_cat_feed SET c_acctbal = c_acctbal * 2
        |WHERE c_custkey <= 30""".stripMargin)
      s.sql("""DELETE FROM graft_cat_feed
        |WHERE c_custkey % 10 = 1 AND c_custkey <= 100""".stripMargin)
      val q = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0").load()
        .writeStream.format("memory").queryName("cat_feed_mem")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table("cat_feed_mem").select(
        $"c_custkey", $"c_name", $"c_acctbal",
        $"_change_type", $"_commit_version")
    },

    "ir_stream_table_feed_limit" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RATE-LIMITED catch-up: a consumer attaching behind a
      // long-lived table bounds how many versions one micro-batch
      // advances (maxVersionsPerTrigger) instead of swallowing the
      // whole pending log in one batch — with the startingVersion-0
      // snapshot indivisible up front. The lane REQUIRES the batch
      // boundaries (snapshot+2, then 2 versions per batch) and
      // returns the accumulated feed, which must equal the unlimited
      // replay bit-for-bit.
      val path = graft.LaneDirs.path("graft_cat_lane_feedlim")
      s.sql("DROP TABLE IF EXISTS graft_cat_feedlim")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey" <= 120)
        .select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_feedlim_src")
      s.sql(s"""CREATE TABLE graft_cat_feedlim USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_feedlim_src""".stripMargin)
      (1 to 6).foreach(i => s.sql(
        s"UPDATE graft_cat_feedlim SET c_acctbal = ${1000 + i} WHERE c_custkey = $i"))
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Double, String, Long)]()
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            nBatches.incrementAndGet()
            df.collect().foreach(r => rows.add((r.getLong(0),
              r.getDouble(1), r.getString(2), r.getLong(3))))
            ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      // snapshot batch reaches version 2 (snapshot + 2 deltas), then
      // (3,4] and (5,6]
      require(nBatches.get() == 3,
        s"expected 3 rate-limited batches, saw ${nBatches.get()}")
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.toDF(
        "c_custkey", "c_acctbal", "_change_type", "_commit_version")
    },

    "ir_stream_table_feed_ts" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // TIMESTAMP-ADDRESSED catch-up: startingTimestamp resolves
      // against the persisted per-version commit stamps (the same
      // floor rule as TIMESTAMP AS OF) and the feed emits exactly the
      // versions committed AT OR AFTER it — here the stamp of v4, so
      // versions 4..6 flow and 1..3 (and the corpus) do not. A
      // byte-bounded rate limit (maxBytesPerTrigger) splits the
      // catch-up one version per batch — required in-lane — and the
      // accumulated feed must equal the unlimited replay bit-for-bit.
      val path = graft.LaneDirs.path("graft_cat_lane_feedts")
      s.sql("DROP TABLE IF EXISTS graft_cat_feedts")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey" <= 120)
        .select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_feedts_src")
      s.sql(s"""CREATE TABLE graft_cat_feedts USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_feedts_src""".stripMargin)
      (1 to 3).foreach(i => s.sql(
        s"UPDATE graft_cat_feedts SET c_acctbal = ${1000 + i} WHERE c_custkey = $i"))
      Thread.sleep(30) // separate v3's and v4's commit stamps
      (4 to 6).foreach(i => s.sql(
        s"UPDATE graft_cat_feedts SET c_acctbal = ${1000 + i} WHERE c_custkey = $i"))
      val ts = graft.sql.GraftBenchBridge.commitStamp(s, path, 4L)
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Double, String, Long)]()
      val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.format("graft").option("path", path)
        .option("startingTimestamp", ts.toString)
        .option("maxBytesPerTrigger", "1").load()
        .writeStream.foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            nBatches.incrementAndGet()
            df.collect().foreach(r => rows.add((r.getLong(0),
              r.getDouble(1), r.getString(2), r.getLong(3))))
            ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      require(nBatches.get() == 3,
        s"a 1-byte budget must advance one version per batch " +
          s"(3 expected, saw ${nBatches.get()})")
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.toDF(
        "c_custkey", "c_acctbal", "_change_type", "_commit_version")
    },

    "ir_sql_catalog_zorder" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // OPTIMIZE ... ZORDER BY on a durable table: the base rewrite
      // re-clusters the (user_id, day) composite key along the Morton
      // curve and analyzes zone maps on BOTH key columns, so the 2-D
      // box query below prunes partitions through the zone path (the
      // hash CTAS layout spans the whole plane in every partition and
      // cannot prune). Required in-lane: the box scan was zone-pruned
      // and kept FEWER than all partitions; the oracle proves the box
      // semantics bit-for-bit.
      val path = graft.LaneDirs.path("graft_cat_lane_zorder")
      s.sql("DROP TABLE IF EXISTS graft_cat_zorder")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.events(s, dir)
        .select($"user_id", unix_date(to_date($"ts")).cast("long").as("day"),
          $"value")
        .groupBy($"user_id", $"day")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value"), 2).as("sum_value"))
        .createOrReplaceTempView("cat_zorder_src")
      s.sql(s"""CREATE TABLE graft_cat_zorder USING graft
        |OPTIONS (key 'user_id,day', partitions '8') LOCATION '$path'
        |AS SELECT * FROM cat_zorder_src""".stripMargin)
      def box = s.sql(
        """SELECT user_id, day, n_events, sum_value FROM graft_cat_zorder
          |WHERE user_id BETWEEN 2 AND 11
          |AND day BETWEEN 19728 AND 19737""".stripMargin)
      // the hash layout's box scan visits every partition — the
      // observable baseline (the zone-pruned scan is a
      // PartitionPruningRDD, so the partition count IS the kept count)
      val preParts = box.rdd.getNumPartitions
      s.sql("OPTIMIZE graft_cat_zorder ZORDER BY (user_id, day)")
      val out = box
      val kept = out.rdd.getNumPartitions
      require(kept < preParts,
        s"z-order zones kept $kept of $preParts partitions — no pruning")
      out
    },

    "ir_sql_catalog_zorder3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // OPTIMIZE ... ZORDER BY over a THREE-column composite key — the
      // rank-space generalization (RankZPartitioner): each component
      // maps to its equal-depth bucket rank, the ranks interleave, and
      // the primary re-clusters z-contiguously, so the 3-D box below
      // prunes through zone maps on all THREE key columns. The ZORDER
      // BY names the dims in NON-key order (day leads) to exercise the
      // permutation. Required in-lane: the box scan kept fewer
      // partitions than the hash CTAS layout's; the oracle proves the
      // box semantics bit-for-bit.
      val path = graft.LaneDirs.path("graft_cat_lane_zorder3")
      s.sql("DROP TABLE IF EXISTS graft_cat_zorder3")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.events(s, dir)
        .select($"user_id", unix_date(to_date($"ts")).cast("long").as("day"),
          hour($"ts").cast("long").as("hr"), $"value")
        .groupBy($"user_id", $"day", $"hr")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value"), 2).as("sum_value"))
        .createOrReplaceTempView("cat_zorder3_src")
      s.sql(s"""CREATE TABLE graft_cat_zorder3 USING graft
        |OPTIONS (key 'user_id,day,hr', partitions '8') LOCATION '$path'
        |AS SELECT * FROM cat_zorder3_src""".stripMargin)
      def box = s.sql(
        """SELECT user_id, day, hr, n_events, sum_value
          |FROM graft_cat_zorder3
          |WHERE user_id BETWEEN 2 AND 11
          |AND day BETWEEN 19728 AND 19737 AND hr BETWEEN 0 AND 11""".stripMargin)
      val preParts = box.rdd.getNumPartitions
      s.sql("OPTIMIZE graft_cat_zorder3 ZORDER BY (day, user_id, hr)")
      val out = box
      val kept = out.rdd.getNumPartitions
      require(kept < preParts,
        s"rank-z zones kept $kept of $preParts partitions — no pruning")
      // point routing through the rank-space partitioner stays exact
      val one = s.sql("""SELECT n_events FROM graft_cat_zorder3
        |WHERE user_id = 3 AND day = 19730 AND hr = 5""".stripMargin).collect()
      require(one.length <= 1, "composite key lookup returned duplicates")
      out
    },

    "ir_sql_catalog_zorder_values" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // OPTIMIZE ... ZORDER BY on VALUE columns of a SINGLE-KEY table:
      // the primary cannot re-cluster by non-key columns (partition
      // assignment must stay a pure key function), so the rewrite
      // materializes a z-order SORT PROJECTION — the rows re-written
      // parquet-partitioned by the Morton cell of the two columns'
      // equal-depth bucket ranks — and box scans read only the
      // intersecting cells' directories. Required in-lane: the box
      // scan was served from the projection and kept FEWER than all
      // 256 cells; the oracle proves the box semantics bit-for-bit.
      val path = graft.LaneDirs.path("graft_cat_lane_zvals")
      s.sql("DROP TABLE IF EXISTS graft_cat_zvals")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.events(s, dir).select($"event_id", $"user_id", $"value")
        .createOrReplaceTempView("cat_zvals_src")
      s.sql(s"""CREATE TABLE graft_cat_zvals USING graft
        |OPTIONS (key 'event_id', partitions '8') LOCATION '$path'
        |AS SELECT * FROM cat_zvals_src""".stripMargin)
      s.sql("OPTIMIZE graft_cat_zvals ZORDER BY (user_id, value)")
      def box = s.sql(
        """SELECT event_id, user_id, value FROM graft_cat_zvals
          |WHERE user_id BETWEEN 2 AND 6
          |AND value BETWEEN 50 AND 150""".stripMargin)
      val n = box.count()
      require(n > 0, "empty box — the lane is not probing anything")
      val (kind, kept) = graft.sql.GraftBenchBridge.h1ScanInfo(s, path)
      require(kind == "full_zproj",
        s"the box scan was served as '$kind', not from the z projection")
      require(kept > 0 && kept < 256,
        s"z projection kept $kept of 256 cells — no pruning")
      // DML after the OPTIMIZE: the STALE projection keeps serving via
      // the delta overlay (anti join of touched keys + final-op
      // upserts) — exact AND still pruned, required in-lane
      s.sql("""UPDATE graft_cat_zvals SET value = value + 1000
        |WHERE event_id % 97 = 0""".stripMargin)
      s.sql("DELETE FROM graft_cat_zvals WHERE event_id % 89 = 0")
      val out = box
      out.count()
      val (kind2, _) = graft.sql.GraftBenchBridge.h1ScanInfo(s, path)
      require(kind2 == "full_zproj",
        s"post-DML box served as '$kind2' — the stale projection + " +
          "overlay should keep serving")
      out
    },

    "ir_sql_catalog_zorder_values3" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the N-dim value form: ZORDER BY three VALUE columns builds the
      // sort projection at 3 bits/dim (512 cells, rank-space Morton of
      // three equal-depth bucket ranks). A box constraining all three
      // dims prunes the cell cross-product; DML after the OPTIMIZE
      // serves through the delta overlay exactly like the 2-dim form.
      // Required in-lane: projection-served scan, fewer than all 512
      // cells kept.
      val path = graft.LaneDirs.path("graft_cat_lane_zvals3")
      s.sql("DROP TABLE IF EXISTS graft_cat_zvals3")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.events(s, dir)
        .select($"event_id", $"user_id", $"value",
          (($"event_id" % 1000).cast("double") / 10.0d).as("amount"))
        .createOrReplaceTempView("cat_zvals3_src")
      s.sql(s"""CREATE TABLE graft_cat_zvals3 USING graft
        |OPTIONS (key 'event_id', partitions '8') LOCATION '$path'
        |AS SELECT * FROM cat_zvals3_src""".stripMargin)
      s.sql("OPTIMIZE graft_cat_zvals3 ZORDER BY (user_id, value, amount)")
      def box = s.sql(
        """SELECT event_id, user_id, value, amount FROM graft_cat_zvals3
          |WHERE user_id BETWEEN 2 AND 6
          |AND value BETWEEN 50 AND 150
          |AND amount BETWEEN 5 AND 80""".stripMargin)
      val n = box.count()
      require(n > 0, "empty box — the lane is not probing anything")
      val (kind, kept) = graft.sql.GraftBenchBridge.h1ScanInfo(s, path)
      require(kind == "full_zproj",
        s"the 3-dim box scan was served as '$kind', not from the z projection")
      require(kept > 0 && kept < 512,
        s"3-dim z projection kept $kept of 512 cells — no pruning")
      // stale-projection overlay, same contract as the 2-dim lane
      s.sql("""UPDATE graft_cat_zvals3 SET value = value + 1000
        |WHERE event_id % 97 = 0""".stripMargin)
      s.sql("DELETE FROM graft_cat_zvals3 WHERE event_id % 89 = 0")
      val out = box
      out.count()
      val (kind2, _) = graft.sql.GraftBenchBridge.h1ScanInfo(s, path)
      require(kind2 == "full_zproj",
        s"post-DML 3-dim box served as '$kind2' — the stale projection " +
          "+ overlay should keep serving")
      out
    },

    "ir_sql_catalog_indexes" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // index observability: graft_indexes('t') lists (name, kind,
      // columns) — from the durable index-name manifest for catalog
      // tables, so a REOPENED session (which is what probes here) sees
      // exactly the indexes its DML maintains.
      val path = graft.LaneDirs.path("graft_cat_lane_idxs")
      s.sql("DROP TABLE IF EXISTS graft_cat_idxs")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.events(s, dir).select($"event_id", $"user_id", $"value")
        .createOrReplaceTempView("cat_idxs_src")
      s.sql(s"""CREATE TABLE graft_cat_idxs USING graft
        |OPTIONS (key 'event_id', partitions '8') LOCATION '$path'
        |AS SELECT * FROM cat_idxs_src""".stripMargin)
      s.sql("CREATE INDEX by_user ON graft_cat_idxs USING BTREE (user_id)")
      s.sql("CREATE INDEX zones ON graft_cat_idxs USING ZONEMAP (value)")
      val s2 = s.newSession() // the manifest, not the session registry
      s2.sql("""SELECT name, kind, columns
        |FROM graft_indexes('graft_cat_idxs')""".stripMargin)
    },

    "ir_sql_manifest_stale" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // the GENERATE MANIFEST staleness CONTRACT: the mirror records
      // its source version, so graft_manifest_stale answers "is this
      // mirror current" with ZERO data reads — DML leaves a
      // point-in-time mirror detectably stale (lag 1), a refresh
      // closes it (lag 0), and a WITH AUTO REFRESH registration keeps
      // it fresh through later DML with no further GENERATE calls
      // (the post-commit refresh hook, Delta's
      // symlinkFormatManifest.enabled shape).
      val path = graft.LaneDirs.path("graft_cat_lane_manstale")
      val out = graft.LaneDirs.path("graft_cat_lane_manstale_out")
      s.sql("DROP TABLE IF EXISTS graft_cat_manstale")
      Seq(path, out).foreach(p => new scala.reflect.io.Directory(
        new java.io.File(p)).deleteRecursively())
      Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_manstale_src")
      s.sql(s"""CREATE TABLE graft_cat_manstale USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_manstale_src""".stripMargin)
      s.sql(s"GENERATE MANIFEST FOR TABLE graft_cat_manstale TO '$out'")
      s.sql("""UPDATE graft_cat_manstale SET c_acctbal = c_acctbal + 1
        |WHERE c_custkey <= 5""".stripMargin)
      def obs(phase: String) = s.sql(
        s"""SELECT '$phase' AS phase, stale,
           |table_version - exported_version AS lag
           |FROM graft_manifest_stale('graft_cat_manstale', '$out')"""
          .stripMargin)
      val p1 = obs("p1_after_dml")
      s.sql(s"GENERATE MANIFEST FOR TABLE graft_cat_manstale TO '$out' " +
        "WITH AUTO REFRESH")
      val p2 = obs("p2_after_refresh")
      s.sql("""UPDATE graft_cat_manstale SET c_acctbal = c_acctbal + 1
        |WHERE c_custkey <= 3""".stripMargin)
      val p3 = obs("p3_after_auto_dml")
      p1.unionByName(p2).unionByName(p3)
    },

    "ir_sql_catalog_evolve2" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // PHASE-2 SCHEMA EVOLUTION end-to-end: rename a column, widen
      // int->bigint, drop a column — each a metadata-only schema delta
      // with a field mapping — interleaved with DML that only the
      // evolved shape can hold, then read from a REOPENED session (the
      // replay applies every delta under the schema current at its
      // commit). Required in-lane: time travel to a pre-evolution
      // version still carries the OLD name and INT type.
      val path = graft.LaneDirs.path("graft_cat_lane_evolve2")
      s.sql("DROP TABLE IF EXISTS graft_cat_evolve2")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey".between(1, 200))
        .select($"c_custkey", $"c_name",
          $"c_nationkey".cast("int").as("nat"), $"c_acctbal")
        .createOrReplaceTempView("cat_evolve2_src")
      s.sql(s"""CREATE TABLE graft_cat_evolve2 USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_evolve2_src""".stripMargin)
      s.sql("""UPDATE graft_cat_evolve2 SET c_acctbal = c_acctbal + 1
        |WHERE c_custkey <= 10""".stripMargin) // v1
      s.sql("ALTER TABLE graft_cat_evolve2 RENAME COLUMN c_acctbal TO balance")
      s.sql("UPDATE graft_cat_evolve2 SET balance = 0 WHERE c_custkey = 5")
      s.sql("ALTER TABLE graft_cat_evolve2 ALTER COLUMN nat TYPE bigint")
      s.sql( // a value only the widened type can hold
        "UPDATE graft_cat_evolve2 SET nat = 3000000000 WHERE c_custkey = 7")
      s.sql("ALTER TABLE graft_cat_evolve2 DROP COLUMN c_name")
      val reopened = s.newSession()
      // pre-evolution time travel: OLD column name, INT type, v1 value
      val old = reopened.sql(
        """SELECT c_acctbal, nat FROM graft_cat_evolve2 VERSION AS OF 1
          |WHERE c_custkey = 5""".stripMargin).collect()(0)
      require(old.schema("nat").dataType ==
        org.apache.spark.sql.types.IntegerType,
        s"pre-evolution read must keep INT, got ${old.schema("nat").dataType}")
      require(old.getDouble(0) != 0.0,
        "pre-evolution read leaked a post-evolution value")
      reopened.sql(
        "SELECT c_custkey, nat, balance FROM graft_cat_evolve2")
    },

    "ir_sql_catalog_automerge" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // WRITE-TIME AUTO-EVOLUTION (Delta's mergeSchema): an append
      // whose source carries a NEW column auto-commits an additive
      // ADD COLUMNS schema delta before the write — gated behind the
      // writer option / session conf; ungated, the unknown column
      // aborts LOUDLY (never silently dropped). Required in-lane: the
      // ungated append aborts with nothing committed; the gated one
      // evolves + lands; the read happens REOPENED so evolution and
      // values replay from the durable log.
      val path = graft.LaneDirs.path("graft_cat_lane_automerge")
      s.sql("DROP TABLE IF EXISTS graft_cat_automerge")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey" <= 100)
        .select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_automerge_src")
      s.sql(s"""CREATE TABLE graft_cat_automerge USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_automerge_src""".stripMargin)
      val extra = Tables.customer(s, dir)
        .filter($"c_custkey".between(50, 150))
        .select($"c_custkey", ($"c_acctbal" + 1000).as("c_acctbal"),
          ($"c_custkey" % 5).as("segment"))
      val refused =
        try { extra.write.format("graft").mode("append").save(path); false }
        catch { case scala.util.control.NonFatal(_) => true }
      require(refused,
        "an append with an unknown column must abort without mergeSchema")
      require(s.newSession().table("graft_cat_automerge")
        .columns.toSeq == Seq("c_custkey", "c_acctbal"),
        "the refused append must leave the schema untouched")
      extra.write.format("graft").mode("append")
        .option("mergeSchema", "true").save(path)
      s.newSession().sql(
        "SELECT c_custkey, c_acctbal, segment FROM graft_cat_automerge")
    },

    "ir_sql_catalog_txn" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // ATOMIC MULTI-TABLE TRANSACTIONS end-to-end: two micro-batches
      // each write a corpus table AND a stats table through ONE
      // coordinator-marked commit (transactBatch), with a restart
      // redelivery of batch 0 in between. Required in-lane: each table
      // holds EXACTLY base + 2 versions (the redelivery skipped both
      // atomically); the oracle replays the final joint state.
      val pc = graft.LaneDirs.path("graft_cat_lane_txn_c")
      val ps = graft.LaneDirs.path("graft_cat_lane_txn_s")
      Seq("graft_cat_txn_c" -> pc, "graft_cat_txn_s" -> ps).foreach {
        case (t, p) =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
      }
      Tables.customer(s, dir).filter($"c_custkey".between(1, 150))
        .select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_txn_csrc")
      s.sql(s"""CREATE TABLE graft_cat_txn_c USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$pc'
        |AS SELECT * FROM cat_txn_csrc""".stripMargin)
      Seq((-1L, 0.0)).toDF("batch", "rows_written")
        .createOrReplaceTempView("cat_txn_ssrc")
      s.sql(s"""CREATE TABLE graft_cat_txn_s USING graft
        |OPTIONS (key 'batch') LOCATION '$ps'
        |AS SELECT * FROM cat_txn_ssrc""".stripMargin)
      def batch(id: Long, keys: Seq[Long], base: Double) =
        graft.sql.GraftCatalogSink.transactBatch(s, Seq(
          (pc, None, Some(keys.map(k => (k, base + k))
            .toDF("c_custkey", "c_acctbal"))),
          (ps, None, Some(Seq((id, keys.size.toDouble))
            .toDF("batch", "rows_written")))), "cat_txn_lane", id)
      batch(0L, Seq(1L, 2L, 3L, 4L, 5L), 100.0)
      batch(0L, Seq(1L, 2L, 3L, 4L, 5L), 100.0) // restart redelivery
      batch(1L, Seq(6L, 7L, 8L), 200.0)
      Seq("graft_cat_txn_c", "graft_cat_txn_s").foreach { t =>
        val n = s.sql(s"SELECT count(*) FROM graft_history('$t')")
          .collect()(0).getLong(0)
        require(n == 3,
          s"$t should hold base + 2 atomic commits, has $n versions")
      }
      s.sql("""SELECT c_custkey AS id, c_acctbal AS val FROM graft_cat_txn_c
        |UNION ALL
        |SELECT batch + 1000, rows_written FROM graft_cat_txn_s""".stripMargin)
    },

    "ir_sql_catalog_fold" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // TIERED DELTA FOLDING end-to-end: 12 DML statements at the
      // default fold cadence (10) leave committed `_tfold_` sidecars
      // on disk, and a REOPENED session's replay covers the log with
      // the widest fold plus the residual raw deltas — bit-identical
      // to the sequential chain, with zero user OPTIMIZE calls.
      // Required in-lane: a fold actually exists (the reopen read the
      // accelerated cover, not 12 raw deltas).
      val path = graft.LaneDirs.path("graft_cat_lane_fold")
      s.sql("DROP TABLE IF EXISTS graft_cat_fold")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey".between(1, 300))
        .select($"c_custkey", $"c_acctbal")
        .createOrReplaceTempView("cat_fold_src")
      s.sql(s"""CREATE TABLE graft_cat_fold USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_fold_src""".stripMargin)
      // every statement touches a DIFFERENT key slice with a
      // PER-KEY value, so the fold's last-op-per-key merge is proven
      // key by key, not by one uniform overwrite
      (1 to 12).foreach { i =>
        if (i % 5 == 0)
          s.sql(s"DELETE FROM graft_cat_fold WHERE c_custkey = ${200 + i}")
        else s.sql(s"""UPDATE graft_cat_fold
          |SET c_acctbal = ${1000 * i} + c_custkey
          |WHERE c_custkey % 12 = ${i % 12} AND c_custkey <= 100""".stripMargin)
      }
      // fold maintenance runs off the statement path — drain it before
      // asserting on the sidecars it leaves
      graft.sql.GraftBenchBridge.awaitFolds()
      val folds = Option(new java.io.File(path).list()).toSeq.flatten
        .filter(_.startsWith("_tfold_"))
      require(folds.nonEmpty,
        s"no fold sidecars after 12 commits at cadence 10: " +
          new java.io.File(path).list().toSeq.sorted)
      s.newSession().sql(
        "SELECT c_custkey, c_acctbal FROM graft_cat_fold")
    },

    "ir_sql_catalog_reskew" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // POST-BUILD RE-SKEW end-to-end: every key is a multiple of 8,
      // so the 8-bucket hash build piles the corpus into partition 0;
      // appends regrow it far past the persisted maxpart cap, and
      // OPTIMIZE re-runs the count pass and splits the hot bucket by
      // the decorrelated second hash. Required in-lane: the max
      // partition shrank under the pile. The read happens REOPENED —
      // the SplitPartitioner round-trips through the save and keys
      // still route.
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_reskew")
      s.sql("DROP TABLE IF EXISTS graft_cat_reskew")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).filter($"c_custkey".between(1, 100))
        .select(($"c_custkey" * 8).as("skey"), $"c_acctbal")
        .createOrReplaceTempView("cat_reskew_src")
      s.sql(s"""CREATE TABLE graft_cat_reskew USING graft
        |OPTIONS (key 'skey', partitions '8', maxpart '150') LOCATION '$path'
        |AS SELECT * FROM cat_reskew_src""".stripMargin)
      s.range(101, 501).select(($"id" * 8).as("skey"),
        ($"id" % 7).cast("double").as("c_acctbal"))
        .write.format("graft").mode("append").save(path)
      s.sql("OPTIMIZE graft_cat_reskew")
      val sizes = s.table("graft_cat_reskew")
        .groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .count().collect().map(_.getLong(1))
      require(sizes.sum == 500 && sizes.max < 300,
        s"hot bucket not re-split: ${sizes.toSeq}")
      val reopened = s.newSession()
      reopened.sql(
        """SELECT skey, c_acctbal FROM graft_cat_reskew
          |WHERE skey IN (8, 80, 880, 2400, 3992)""".stripMargin)
    },

    "ir_sql_describe_detail" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // DESCRIBE DETAIL (Delta's one-row metadata verb): the
      // deterministic columns — key columns, live row count, version
      // window, sidecar inventory — oracle against the fixture; the
      // row count reads O(partitions) off the index headers
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_desc")
      s.sql("DROP TABLE IF EXISTS graft_cat_desc")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_desc_src")
      s.sql(s"""CREATE TABLE graft_cat_desc USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_desc_src""".stripMargin)
      s.sql("ALTER TABLE graft_cat_desc ADD CONSTRAINT ck CHECK (c_custkey >= 0)")
      s.sql("DELETE FROM graft_cat_desc WHERE c_custkey % 10 = 9")
      s.sql("DESCRIBE DETAIL graft_cat_desc")
        .select($"name", $"format", $"key_columns", $"num_rows",
          $"first_version", $"current_version", $"constraints")
    },

    "ir_sql_catalog_clone" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // CLONE: version 1 of the source (UPDATE applied, DELETE not)
      // materializes as an INDEPENDENT table with its own log; DML on
      // the clone never touches the source (required in-lane), and the
      // final read happens in a REOPENED session replaying the CLONE's
      // base + its one delta
      graft.sql.IndexedJoin.enable(s)
      val srcPath = graft.LaneDirs.path("graft_cat_lane_clone_src")
      val dstPath = graft.LaneDirs.path("graft_cat_lane_clone_dst")
      s.sql("DROP TABLE IF EXISTS graft_cat_clone_src")
      s.sql("DROP TABLE IF EXISTS graft_cat_clone_dst")
      new scala.reflect.io.Directory(new java.io.File(srcPath)).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(dstPath)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_clone_src_v")
      s.sql(s"""CREATE TABLE graft_cat_clone_src USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$srcPath'
        |AS SELECT * FROM cat_clone_src_v""".stripMargin)
      s.sql("""UPDATE graft_cat_clone_src SET c_acctbal = c_acctbal * 3
        |WHERE c_custkey <= 25""".stripMargin)
      s.sql("DELETE FROM graft_cat_clone_src WHERE c_custkey <= 200")
      s.sql(s"""CREATE TABLE graft_cat_clone_dst CLONE graft_cat_clone_src
        |VERSION AS OF 1 LOCATION '$dstPath'""".stripMargin)
      s.sql("""UPDATE graft_cat_clone_dst SET c_nationkey = -1
        |WHERE c_custkey <= 10""".stripMargin)
      // independence: the source must NOT see the clone's update
      require(s.sql(
        "SELECT count(*) FROM graft_cat_clone_src WHERE c_nationkey = -1")
        .collect()(0).getLong(0) == 0, "clone DML leaked into the source")
      val reopened = s.newSession()
      reopened.sql(
        """SELECT c_custkey, c_nationkey, c_acctbal
          |FROM graft_cat_clone_dst""".stripMargin)
    },

    "ir_sql_catalog_constraint" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // CHECK CONSTRAINTS on the durable table: ADD validates the
      // corpus, every later statement gates its upsert rows at delta
      // cost and a violating statement aborts BEFORE committing (the
      // rejected UPDATE below must leave no version and no change);
      // the sidecar is durable, so the final read in a REOPENED
      // session reflects exactly the statements that passed
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_check")
      s.sql("DROP TABLE IF EXISTS graft_cat_check")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Tables.customer(s, dir).createOrReplaceTempView("cat_check_src")
      s.sql(s"""CREATE TABLE graft_cat_check USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_check_src""".stripMargin)
      s.sql("""ALTER TABLE graft_cat_check
        |ADD CONSTRAINT sane_bal CHECK (c_acctbal >= -100000)""".stripMargin)
      s.sql("""UPDATE graft_cat_check SET c_acctbal = c_acctbal + 50
        |WHERE c_custkey <= 40""".stripMargin)
      val rejected =
        try { s.sql(
          "UPDATE graft_cat_check SET c_acctbal = -9999999 WHERE c_custkey <= 5")
          false }
        catch { case e: Exception => e.getMessage.contains("sane_bal") }
      require(rejected, "violating UPDATE must abort with the constraint name")
      val reopened = s.newSession()
      reopened.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM graft_cat_check")
    },

    "ir_stream_catalog" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // STREAMING INTO THE DURABLE CATALOG: foreachBatch commits each
      // micro-batch as ONE delta version of a graft table
      // (GraftCatalogSink) — the same log SQL DML writes, so the
      // stream's output is time-travelable, CDC-readable, and
      // OPTIMIZE-able. The query is KILLED between batches and
      // restarted; a manual duplicate delivery of the last batch id
      // proves the _txn marker's exactly-once skip; the final read
      // happens in a REOPENED session replaying base + deltas.
      graft.sql.IndexedJoin.enable(s)
      val path = graft.LaneDirs.path("graft_cat_lane_stream")
      val engineCkpt = graft.LaneDirs.path("graft_cat_lane_stream_q")
      s.sql("DROP TABLE IF EXISTS graft_cat_stream")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(engineCkpt)).deleteRecursively()
      Tables.customer(s, dir).select($"c_custkey", $"c_acctbal".as("val"))
        .createOrReplaceTempView("cat_stream_src")
      s.sql(s"""CREATE TABLE graft_cat_stream USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM cat_stream_src""".stripMargin)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val sinkFn = graft.sql.GraftCatalogSink.upsertBatch(path, "cat_lane_stream") _
      def start() = input.toDS().writeStream
        .queryName(s"ir_stream_catalog_${System.nanoTime()}")
        .option("checkpointLocation", engineCkpt)
        .outputMode("update")
        .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Double)], id: Long) =>
          sinkFn(b.toDF("c_custkey", "val"), id))
        .start()
      def batchFor(y: Int) = Tables.orders(s, dir)
        .filter(year($"o_orderdate") === y)
        .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
        .as[(Long, Double)].collect().toSeq
      val q1 = start()
      try {
        Seq(1995, 1996).foreach { y =>
          input.addData(batchFor(y)); q1.processAllAvailable()
        }
      } finally q1.stop()
      // kill/restart: the engine checkpoint resumes the stream; the
      // table log already holds batches 0..1
      val q2 = start()
      try { input.addData(batchFor(1997)); q2.processAllAvailable() }
      finally q2.stop()
      // at-least-once redelivery of a committed batch id: the txn
      // marker skips it (no extra version, same content)
      val vBefore = s.sql("SELECT count(*) FROM graft_history('graft_cat_stream')")
        .collect()(0).getLong(0)
      sinkFn(batchFor(1997).toDF("c_custkey", "val"), 2L)
      val vAfter = s.sql("SELECT count(*) FROM graft_history('graft_cat_stream')")
        .collect()(0).getLong(0)
      require(vAfter == vBefore, s"redelivered batch committed: $vBefore -> $vAfter")
      val reopened = s.newSession()
      reopened.sql(
        "SELECT c_custkey, round(val, 2) AS val FROM graft_cat_stream")
    },

    "ir_stream_merge" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.functions.col
      // streaming CDC MERGE: each micro-batch of (custkey, that-year
      // max price) changes MERGEs into the live handle — matched
      // low-value keys DELETE, the rest UPDATE in place — the
      // "apply the changelog, deletes included" warehouse sink at
      // delta cost per batch (each merge is one lookup join + COW
      // delete/upsert passes; the corpus never rescans). Batches are
      // applied in order; the oracle replays the same three merges as
      // nested CTE states.
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      @volatile var cur = graft.sql.IndexedFrame.index(init, "c_custkey")
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = input.toDS().toDF("k", "v").writeStream
        .queryName(s"ir_stream_merge_${System.nanoTime()}")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          cur = cur.mergeFrame(b, "k",
            deleteWhen = Some(col("s.v") < 2000.0),
            updateSet = Map("c_acctbal" -> col("s.v")))
          ()
        }
        .start()
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
            .as[(Long, Double)].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      cur.toDF.select($"c_custkey", $"c_name", $"c_acctbal")
    },

    "ir_stream_merge_sqltext" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // the SAME streaming CDC merge issued as LITERAL SQL inside
      // foreachBatch: each micro-batch registers as a temp view and
      // `spark.sql("MERGE INTO ...")` routes through the extension
      // into the delta-cost mergeFrame; the statement rebinds the
      // corpus view, so the NEXT batch's merge sees this batch's
      // writes — exactly the Delta-style streaming upsert idiom,
      // against an in-memory graft index
      graft.sql.IndexedJoin.enable(s)
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      graft.sql.IndexedFrame.index(init, "c_custkey")
        .toDF.createOrReplaceTempView("stream_mrg_corpus")
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = input.toDS().toDF("k", "v").writeStream
        .queryName(s"ir_stream_merge_sqltext_${System.nanoTime()}")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // the batch df belongs to the micro-batch's CLONED session,
          // whose temp-view catalog is a copy — materialize the (small,
          // CDC-sized) batch into the OUTER session so the SQL-text
          // merge and the corpus-view rebind happen where the final
          // read resolves
          val rows = b.collect().toIndexedSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), b.schema)
            .createOrReplaceTempView("stream_mrg_batch")
          s.sql(
            """MERGE INTO stream_mrg_corpus t USING stream_mrg_batch s
              |ON t.c_custkey = s.k
              |WHEN MATCHED AND s.v < 2000.0 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET c_acctbal = s.v""".stripMargin)
          ()
        }
        .start()
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
            .as[(Long, Double)].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM stream_mrg_corpus")
    },

    "ir_stream_time_travel" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // time travel on the COW version chain: after all three yearly
      // batches land, query the state AS OF batch 1 (init + 1995 +
      // 1996) — batch 2's writes must be invisible. The oracle rebuilds
      // that exact snapshot with last-write-wins over batches <= 1.
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd
        .partitionBy(new org.apache.spark.HashPartitioner(16))
      val sink = new graft.streaming.Streaming.VersionedUpsertSink[Long, Double](
        IndexedRDD(init), keep = 8)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = graft.streaming.Streaming.versionedStream(
        input.toDS(), sink, s"ir_stream_time_travel_${System.nanoTime()}")
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
            .as[(Long, Double)].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      Bridge.RichIndexedRDD(sink.asOf(1L)).toDS
        .select($"_1".as("c_custkey"), round($"_2", 2).as("val"))
    },

    "ir_stream_changelog" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // CDC: the same per-year upsert batches as ir_stream_sink flow
      // through a changelog sink; the output is the full change
      // HISTORY — (key, batch) -> (old, new) — probed from the live
      // state with O(batch) point reads per batch, never a state scan.
      // The oracle replays it as a lag window over the batch sequence
      // seeded with the initial balances.
      val init = Tables.customer(s, dir)
        .select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd
        .partitionBy(new org.apache.spark.HashPartitioner(16))
      val sink = new graft.streaming.Streaming.IndexedChangelogSink[Long, Double](
        IndexedRDD(init))
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val q = graft.streaming.Streaming.changelogStream(
        input.toDS(), sink, s"ir_stream_changelog_${System.nanoTime()}")
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .groupBy($"o_custkey").agg(max($"o_totalprice").as("v"))
            .as[(Long, Double)].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      Bridge.RichIndexedRDD(sink.changelog).toDS
        .select($"_1._1".as("c_custkey"), $"_1._2".as("batch_id"),
          round($"_2._1", 2).as("old_val"), round($"_2._2", 2).as("new_val"))
    },

    "ir_stream_lookup" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // streaming lookup join: per-year order batches stream through a
      // foreachBatch that probes the STATIC indexed customer dimension
      // (innerJoinStream: one one-sided shuffle of the batch; the
      // dimension never moves) and lands the enriched rows
      // copy-on-write in an output index keyed by order. Catalyst's
      // stream-static join would re-scan the static side per batch.
      val dim = graft.IndexedRDD(
        Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
          .as[(Long, Double)].rdd
          .partitionBy(new org.apache.spark.HashPartitioner(16)))
      val out = new graft.streaming.Streaming.IndexedUpsertSink[Long, Double](
        graft.IndexedRDD(s.sparkContext
          .emptyRDD[(Long, Double)]
          .partitionBy(new org.apache.spark.HashPartitioner(16))))
      val sink = new graft.streaming.Streaming.IndexedLookupSink[
        Long, Double, (Long, Double), Long, Double](dim, out,
        (custkey, acctbal, o) => (o._1, o._2 + acctbal))
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, (Long, Double))]
      val q = graft.streaming.Streaming.lookupStream(
        input.toDS(), sink, s"ir_stream_lookup_${System.nanoTime()}")
      try {
        Seq(1995, 1996, 1997).foreach { y =>
          val batch = Tables.orders(s, dir)
            .filter(year($"o_orderdate") === y)
            .select($"o_custkey", struct($"o_orderkey", $"o_totalprice"))
            .as[(Long, (Long, Double))].collect().toSeq
          input.addData(batch)
          q.processAllAvailable()
        }
      } finally q.stop()
      Bridge.RichIndexedRDD(sink.current).toDS
        .select($"_1".as("o_orderkey"), round($"_2", 2).as("val"))
    },

    "ir_sql_distinct_key" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SELECT DISTINCT key: primary keys are unique by construction,
      // so the distinct set is a plain per-partition key enumeration —
      // NO aggregate operator and NO exchange anywhere in the plan
      // (Catalyst's default is scan → partial hash agg → shuffle →
      // final hash agg). At 100 TB: zero data rows deserialized, zero
      // bytes shuffled.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      h.toDF.select($"o_orderkey").distinct()
    },

    "ir_sql_count_distinct" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // count(DISTINCT sec) IS the inverted index's size — exact even
      // with NULLs, since count(DISTINCT) excludes them just as the
      // inverted index does; count(*) rides the same claim from the
      // primary index's size. No scan, no expand, no shuffle, and both
      // sizes memoize on the immutable snapshot (repeats = zero jobs).
      // ONE distinct group only: two distinct aggregates on different
      // columns are rewritten (Expand) before strategies run and fall
      // through to the default planner — by design, not claimable.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      h.toDF.agg(count(lit(1)).as("cnt"),
        count_distinct($"c_nationkey").as("nn"))
    },

    "ir_sql_count_distinct_key" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // count(DISTINCT key) == count(*) (keys unique, never null): the
      // O(partitions) index-size sum — no distinct machinery at all
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      h.toDF.agg(count_distinct($"o_orderkey").as("n"))
    },

    "ir_sql_time_rollup" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // daily event counts inside a time window on the (ts, id)
      // time-series layout: `GROUP BY date_trunc('day', ts)` is
      // answered from the tuple-key stream — data rows are never read
      // and never exchanged; only (day, count) pairs shuffle. The
      // bucket fn is CATALYST'S OWN date_trunc bound to the key slot,
      // so timezone semantics match the scan plan exactly. The
      // leading-ts window prunes per key before bucketing.
      graft.sql.IndexedAgg.enable(s)
      val ev = Tables.events(s, dir).select($"ts", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), 16)
      // the grouped fold keys on CATALYST'S date_trunc (timestamp);
      // the post-agg DATE cast only normalizes the output type, so the
      // oracle compares identically across DuckDB versions (date_trunc
      // returns TIMESTAMP before 0.10, DATE after)
      h.toDF.filter($"ts" >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          $"ts" < lit("2024-01-25 00:00:00").cast("timestamp"))
        .groupBy(date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).as("n"))
        .select($"d".cast("date").as("d"), $"n")
    },

    "ir_sql_time_rollup_stats" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // daily count + first/last event time: the per-bucket KEY
      // extrema ride the same key-stream fold as the counts — still
      // zero data rows read, one (day, stats)-pair exchange
      graft.sql.IndexedAgg.enable(s)
      val ev = Tables.events(s, dir).select($"ts", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("ts", "event_id"), 16)
      h.toDF.groupBy(date_trunc("day", $"ts").as("d"))
        .agg(count(lit(1)).as("n"), min($"ts").as("first_ts"),
          max($"ts").as("last_ts"))
        .select($"d".cast("date").as("d"), $"n", $"first_ts", $"last_ts")
    },

    "ir_sql_expr_group" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // GROUP BY f(key) for an arbitrary deterministic key expression
      // (here a modulo histogram): bucket counts off the key stream,
      // zero data rows read — correctness doesn't depend on f's
      // monotonicity, an ordered layout just folds runs
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      h.toDF.groupBy(expr("o_orderkey % 97").as("b"))
        .agg(count(lit(1)).as("n"))
    },

    "ir_sql_percentile_key" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // EXACT median/percentile OF THE KEY by rank selection on the
      // range-partitioned layout: one O(partitions) sizes job locates
      // each rank's owning partition, one pruned job walks only those
      // partitions' tries in key order — no global sort, no shuffle,
      // and (unlike Catalyst's exact-percentile plan) no shipping of
      // every value into a single aggregator. Dyadic fractions keep
      // the interpolation arithmetic exactly representable in double,
      // so DuckDB's quantile_cont is bit-identical.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", numPartitions = 16)
      h.toDF.agg(
        expr("percentile(o_orderkey, 0.5D)").as("med"),
        expr("percentile(o_orderkey, 0.25D)").as("p25"),
        expr("percentile(o_orderkey, 0.75D)").as("p75"),
        count(lit(1)).as("n"))
    },

    "ir_sql_lookup_join" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // LOOKUP JOIN: equi-join the keyed corpus with an arbitrary
      // derived batch — the batch alone shuffles (to the index's
      // partitioning) and each row costs one O(depth) point probe;
      // the corpus is never scanned and never moves. THE 100 TB
      // "enrich a delta against the corpus" shape: Catalyst's default
      // is a full corpus scan into a broadcast/shuffle hash join.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      val hd = h.toDF
      val p = s.range(0, 300).select(($"id" * 7).as("k"), ($"id" % 5).as("tag"))
      hd.join(p, hd("o_orderkey") === p("k"))
        .select($"o_orderkey", $"o_totalprice".as("price"), $"tag")
    },

    "ir_sql_lookup_outer" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // LEFT-OUTER enrichment: every batch row kept, corpus columns
      // null-extend on miss — same probe-side-only cost. Null probe
      // keys are kept too, as guaranteed misses routed through the
      // nullable stream (IndexedJoinSpec covers nullable keys); no
      // nullability restriction exists.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      val hd = h.toDF
      val p = s.range(0, 300).select(($"id" * 7).as("k"), ($"id" % 5).as("tag"))
      p.join(hd, p("k") === hd("o_orderkey"), "left")
        .select($"k", $"tag", $"o_totalprice".as("price"))
    },

    "ir_sql_lookup_semi" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // corpus-kept SEMI: keys shuffle to their owners, each DISTINCT
      // key probes once — "which corpus rows does this batch touch"
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      val hd = h.toDF
      val p = s.range(0, 300).select(($"id" * 7).as("k"))
      hd.join(p, hd("o_orderkey") === p("k"), "left_semi")
        .select($"o_orderkey", $"o_custkey")
    },

    "ir_sql_lookup_anti" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // corpus-kept ANTI: the local trie streams once against the
      // locally-delivered key set — the corpus never shuffles
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      val hd = h.toDF
      val p = s.range(0, 300).select(($"id" * 7).as("k"))
      hd.join(p, hd("o_orderkey") === p("k"), "left_anti")
        .select($"o_orderkey", $"o_custkey")
    },

    "ir_sql_lookup_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // SECONDARY lookup join: equi-join on a NON-key corpus column —
      // the dimension values expand through the inverted index's
      // posting arrays into primary keys, which point-fetch corpus
      // rows. Two one-sided shuffles of dimension-derived data, zero
      // corpus scans, no driver round-trip and no routing budget.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      val hd = h.toDF
      val nation = Tables.nation(s, dir)
      hd.join(nation, hd("c_nationkey") === nation("n_nationkey"))
        .select($"c_custkey", $"c_acctbal", $"n_name")
    },

    "ir_sql_prefix_lookup_join" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // PREFIX (entity) lookup join: equality on only the LEADING
      // composite column fetches each probed user's whole event run —
      // one interval-routed pruned trie range scan per delivery. The
      // "timelines for this user batch" query; the corpus never scans.
      graft.sql.IndexedJoin.enable(s)
      val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("user_id", "event_id"), 16)
      val hd = h.toDF
      val p = s.range(0, 40).select(($"id" % 30 + 1).as("pu"), $"id".as("tag"))
      hd.join(p, hd("user_id") === p("pu"))
        .select($"user_id", $"event_id", $"value", $"tag")
    },

    "ir_stream_asof" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // STREAMING point-in-time enrichment: probe micro-batches flow
      // through foreachBatch, each running the BATCH as-of join
      // against the STATIC versions index — per batch only the batch
      // shuffles (interval-routed floor descents); the versions corpus
      // is never rescanned. The online feature-join shape.
      val versions = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        versions, Seq("user_id", "ts"), 16)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val acc = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      val q = input.toDS().writeStream
        .queryName(s"ir_stream_asof_${System.nanoTime()}")
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
          val p = batch.toDF("pu0", "ptm")
            .select($"pu0".as("pu"), expr("timestamp_micros(ptm)").as("pt"))
          val res = h.asOfJoinFrame(p, Seq("pu"), "pt")
          acc.synchronized { acc ++= res.collect() }
          ()
        }.start()
      try {
        // the 200 probes of the batch lane, streamed in 3 micro-batches
        val probes = (0L until 200L).map(id =>
          (id % 25 + 1, (1704153600L + id * 9137L) * 1000000L))
        probes.grouped(70).foreach { g =>
          input.addData(g); q.processAllAvailable()
        }
      } finally q.stop()
      val schema = h.asOfJoinFrame(
        s.range(0).select(lit(1L).as("pu"),
          expr("timestamp_micros(0)").as("pt")), Seq("pu"), "pt").schema
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .BufferHasAsJava(acc).asJava), schema)
    },

    "ir_sql_asof_lookup_outer" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // LEFT-OUTER point-in-time join: every probe kept, version
      // columns null-extend for probes before their entity's first
      // version or for unknown entities — the feature-store default
      val versions = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        versions, Seq("user_id", "ts"), 16)
      val p = s.range(0, 200).select(($"id" % 40 + 1).as("pu"),
        expr("timestamp_micros((1704153600 + id * 9137) * 1000000)").as("pt"))
      h.asOfJoinFrame(p, Seq("pu"), "pt", keepMisses = true)
    },

    "ir_sql_asof_lookup" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // BATCH point-in-time join (the feature-store primitive): for
      // each probe (entity, t), the latest version row with ts <= t.
      // Each probe routes to the partitions overlapping its entity's
      // tuple interval — one, unless the entity's versions straddle a
      // boundary — and runs one O(depth) bounded floor descent; the
      // versions corpus never moves and is never scanned. Catalyst's
      // equivalent shuffles the corpus into an entity join plus a
      // per-entity window max.
      val versions = Tables.events(s, dir).groupBy($"user_id", $"ts")
        .agg(round(max($"value"), 2).as("mv"))
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        versions, Seq("user_id", "ts"), 16)
      val p = s.range(0, 200).select(($"id" % 25 + 1).as("pu"),
        expr("timestamp_micros((1704153600 + id * 9137) * 1000000)").as("pt"))
      h.asOfJoinFrame(p, Seq("pu"), "pt")
    },

    "ir_sql_range_lookup_join" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // RANGE (band) lookup join: each probe row's interval routes to
      // only the partitions it overlaps and runs one pruned trie range
      // scan there — O(deliveries + matches), the corpus never scans
      // and never moves. Spark's default for this non-equi shape is a
      // broadcast NESTED LOOP over the whole corpus per probe.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.orders(s, dir), "o_orderkey", 16)
      val hd = h.toDF
      val p = s.range(0, 100).select(($"id" * 140).as("lo"),
        ($"id" * 140 + 30).as("hi"), $"id".as("tag"))
      hd.join(p, hd("o_orderkey") >= p("lo") && hd("o_orderkey") <= p("hi"))
        .select($"o_orderkey", $"o_custkey", $"tag")
    },

    "ir_sql_in_subquery" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // SQL-text `WHERE key IN (SELECT …)`: Catalyst rewrites it to a
      // LEFT SEMI join, which the lookup-join claim serves — the
      // subquery's keys shuffle to their owners and probe O(depth)
      // each; the corpus is never scanned. EXISTS compiles the same.
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.orders(s, dir), "o_orderkey")
      h.toDF.createOrReplaceTempView("orders_idx")
      s.range(0, 300).selectExpr("id * 7 AS k")
        .createOrReplaceTempView("probe_keys")
      s.sql("""SELECT o_orderkey, o_custkey FROM orders_idx
              |WHERE o_orderkey IN (SELECT k FROM probe_keys)""".stripMargin)
    },

    "ir_sql_lookup_secondary_outer" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // probe-kept LEFT OUTER on a secondary column: every probe row
      // kept, matches expand through posting arrays into point
      // fetches, misses (unknown or null values) null-extend — same
      // two probe-derived shuffles, zero corpus scans
      graft.sql.IndexedJoin.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      val hd = h.toDF
      val p = s.range(0, 40).select(($"id" - 5).cast("int").as("pn"), $"id".as("tag"))
      p.join(hd, p("pn") === hd("c_nationkey"), "left")
        .select($"pn", $"tag", $"c_custkey", $"c_acctbal")
    },

    "ir_sql_col_stats" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // count(col) = Σ posting lengths (the non-null row count, exact
      // with NULLs), min/max(col) = one O(depth) descent each on the
      // ordered inverted index — the full column-profile row with zero
      // data rows read, memoized on the snapshot
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey", ordered = true)
      h.toDF.agg(count($"c_nationkey").as("nn"),
        min($"c_nationkey").as("mn"), max($"c_nationkey").as("mx"),
        count(lit(1)).as("cnt"))
    },

    "ir_sql_sum_avg" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // sum/avg from index structure: the key's one memoized
      // key-stream job (values never read), the ordered secondary's
      // Σ value·weight over its histogram (zero jobs once warm) —
      // checked arithmetic, so ANSI overflow errors like Spark's own
      // plan. The whole dashboard row costs no data-row scan.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey", ordered = true)
      h.toDF.agg(
        sum($"c_custkey").as("sum_key"), avg($"c_custkey").as("avg_key"),
        sum($"c_nationkey").as("sum_nat"), avg($"c_nationkey").as("avg_nat"),
        count(lit(1)).as("n"))
    },

    "ir_sql_percentile_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // EXACT percentile of a NON-key column from its ordered
      // inverted index: the (value, posting-length) pairs ARE the
      // column's full histogram — O(distinct) driver state under the
      // same cardinality budget as probe routing, memoized on the
      // snapshot — so exact weighted selection never reads a data row.
      // The categorical-column shape: a country/language/segment
      // histogram is tiny no matter how many rows the corpus has.
      // Rides one claim with the KEY percentile (rank selection).
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.indexRangePartitioned(
        Tables.customer(s, dir), "c_custkey", numPartitions = 16)
        .addSecondaryIndex("c_nationkey", ordered = true)
      h.toDF.agg(
        expr("percentile(c_nationkey, 0.5D)").as("med_nat"),
        expr("percentile(c_nationkey, 0.25D)").as("p25_nat"),
        expr("percentile(c_custkey, 0.5D)").as("med_key"),
        count(lit(1)).as("n"))
    },

    "ir_sql_distinct_leading" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // DISTINCT leading column of a range-partitioned composite:
      // partitions hold disjoint contiguous (user, event) ranges and
      // tries stream in key order, so each partition emits its run
      // heads and only partition-BOUNDARY runs need dedup (one
      // O(partitions) driver pass) — zero shuffle, zero rows read.
      // The "which entities exist" query at corpus scale.
      graft.sql.IndexedAgg.enable(s)
      val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("user_id", "event_id"), numPartitions = 16)
      h.toDF.select($"user_id").distinct()
    },

    "ir_sql_group_stats" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // per-entity timeline summary — GROUP BY user → count(*),
      // min/max(event_id) — answered from the composite key tuples
      // alone: per-partition (count, min, max) partials over the key
      // stream (values NEVER deserialized), one reduce of O(groups)
      // triples. Catalyst's default reads and exchanges every row.
      graft.sql.IndexedAgg.enable(s)
      val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("user_id", "event_id"), numPartitions = 16)
      h.toDF.groupBy($"user_id").agg(count(lit(1)).as("n"),
        min($"event_id").as("mn"), max($"event_id").as("mx"))
    },

    "ir_sql_group_stats_secondary" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // GROUP BY a secondary-indexed column → count/min/max of the
      // PRIMARY key, straight from posting arrays: zero primary rows
      // read, zero shuffle (each distinct value lives in exactly one
      // inverted partition). Gated on a null-excluding bound — the
      // inverted index drops NULLs, so an unfiltered GROUP BY (which
      // owes SQL a NULL group) never claims.
      graft.sql.IndexedAgg.enable(s)
      val h = graft.sql.IndexedFrame.index(Tables.customer(s, dir), "c_custkey")
        .addSecondaryIndex("c_nationkey")
      h.toDF.filter($"c_nationkey".isNotNull).groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n"), min($"c_custkey").as("mn"),
          max($"c_custkey").as("mx"))
    },

    "ir_sql_window_topn" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // grouped top-n via window pushdown: row_number() OVER
      // (PARTITION BY user ORDER BY event) <= 5 — the layout already
      // IS the window's work product (each user a contiguous run,
      // sorted by event), so the plan is one streaming pass per trie
      // plus an O(partitions) boundary pass: NO exchange, NO sort, NO
      // window state, at most n rows per user materialized. The
      // "first/latest n events per user, all users at once" query —
      // Catalyst's default exchanges and sorts every row.
      graft.sql.IndexedWindow.enable(s)
      val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"value")
      val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
        ev, Seq("user_id", "event_id"), numPartitions = 16)
      h.toDF.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id").orderBy($"event_id")))
        .filter($"rn" <= 5)
        .select($"user_id", $"event_id", round($"value", 2).as("value"), $"rn")
    }
  )

  /** Shared by the programmatic (`ir_sql_merge*`) and SQL-text
    * (`ir_sql_merge_sqltext*`) lanes — identical merge scenarios, so
    * one DuckDB replication serves both. */
  private val mergeOracleSql =
    """WITH src AS (
      |  SELECT id*3 AS k, CAST(id % 7 AS DOUBLE) AS delta FROM range(1, 41) t(id)
      |  UNION ALL
      |  SELECT id + 10000000 AS k, CAST(id % 7 AS DOUBLE) AS delta FROM range(1, 11) t(id)
      |)
      |SELECT c.c_custkey, c.c_name, c.c_acctbal
      |FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
      |WHERE s.k IS NULL
      |UNION ALL
      |SELECT c.c_custkey, c.c_name, c.c_acctbal + s.delta
      |FROM customer c JOIN src s ON c.c_custkey = s.k
      |WHERE s.delta <> 0
      |UNION ALL
      |SELECT s.k, 'Merged#' || CAST(s.k AS VARCHAR), s.delta
      |FROM src s LEFT JOIN customer c ON c.c_custkey = s.k
      |WHERE c.c_custkey IS NULL""".stripMargin

  private val mergeCompositeOracleSql =
    """WITH t AS (
      |  SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
      |), src AS (
      |  SELECT id % 100 AS sb, id AS sk, CAST(id % 5 AS DOUBLE) AS delta
      |  FROM range(1, 31) r(id)
      |  UNION ALL
      |  SELECT 77, id + 20000000, CAST(id % 5 AS DOUBLE) FROM range(1, 6) r(id)
      |)
      |SELECT t.c_bucket, t.c_custkey, t.c_acctbal
      |FROM t LEFT JOIN src s ON t.c_bucket = s.sb AND t.c_custkey = s.sk
      |WHERE s.sk IS NULL
      |UNION ALL
      |SELECT t.c_bucket, t.c_custkey, t.c_acctbal + s.delta
      |FROM t JOIN src s ON t.c_bucket = s.sb AND t.c_custkey = s.sk
      |WHERE s.delta <> 0
      |UNION ALL
      |SELECT s.sb, s.sk, s.delta
      |FROM src s LEFT JOIN t ON t.c_bucket = s.sb AND t.c_custkey = s.sk
      |WHERE t.c_custkey IS NULL""".stripMargin

  /** Shared by the programmatic and SQL-text streaming CDC merge
    * lanes — identical three-batch replay. */
  private val streamMergeOracleSql =
    """WITH src95 AS (
      |  SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1
      |), s1 AS (
      |  SELECT c.c_custkey, c.c_name, c.c_acctbal
      |  FROM customer c LEFT JOIN src95 s ON c.c_custkey = s.k WHERE s.k IS NULL
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, s.v
      |  FROM customer c JOIN src95 s ON c.c_custkey = s.k WHERE s.v >= 2000
      |), src96 AS (
      |  SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1
      |), s2 AS (
      |  SELECT c.c_custkey, c.c_name, c.c_acctbal
      |  FROM s1 c LEFT JOIN src96 s ON c.c_custkey = s.k WHERE s.k IS NULL
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, s.v
      |  FROM s1 c JOIN src96 s ON c.c_custkey = s.k WHERE s.v >= 2000
      |), src97 AS (
      |  SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1997 GROUP BY 1
      |), s3 AS (
      |  SELECT c.c_custkey, c.c_name, c.c_acctbal
      |  FROM s2 c LEFT JOIN src97 s ON c.c_custkey = s.k WHERE s.k IS NULL
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, s.v
      |  FROM s2 c JOIN src97 s ON c.c_custkey = s.k WHERE s.v >= 2000
      |)
      |SELECT c_custkey, c_name, c_acctbal FROM s3""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ir_sql_secondary_filtered_agg" ->
      """SELECT round(sum(c_acctbal), 2) AS sum_bal,
        |  CAST(count(c_acctbal) AS BIGINT) AS cnt_bal,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  CAST(count(*) AS BIGINT) AS cnt_rows
        |FROM customer WHERE c_nationkey IN (3, 7, 11)""".stripMargin,

    "ir_sql_sum_decimal" ->
      """SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal,
        |  round(median(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)), 4) AS med_bal,
        |  CAST(count(c_acctbal) AS BIGINT) AS cnt_bal
        |FROM customer""".stripMargin,

    "ir_sql_merge_sqltext" -> mergeOracleSql,

    "ir_skew_build" ->
      """SELECT c_custkey * 32 AS skey, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_custkey % 7 = 0 AND c_custkey BETWEEN 7 AND 350""".stripMargin,

    // the catalog-table lane: CTAS + UPDATE + DELETE + MERGE, final
    // state read from a reopened session replaying the on-disk log
    "ir_sql_catalog_table" ->
      """WITH u1 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey <= 50 THEN c_acctbal + 100 ELSE c_acctbal END
        |      AS c_acctbal
        |  FROM customer
        |), d1 AS (
        |  SELECT * FROM u1 WHERE NOT (c_custkey % 10 = 7 AND c_custkey <= 100)
        |), src AS (
        |  SELECT id*5 AS k, CAST(id % 3 AS DOUBLE) AS d FROM range(1, 21) t(id)
        |  UNION ALL
        |  SELECT id + 20000000, CAST(id % 3 AS DOUBLE) FROM range(1, 4) t(id)
        |)
        |SELECT t.c_custkey, t.c_name, t.c_acctbal + s.d AS c_acctbal
        |FROM d1 t JOIN src s ON t.c_custkey = s.k
        |UNION ALL
        |SELECT t.c_custkey, t.c_name, t.c_acctbal
        |FROM d1 t LEFT JOIN src s ON t.c_custkey = s.k WHERE s.k IS NULL
        |UNION ALL
        |SELECT s.k, 'Cat#' || CAST(s.k AS VARCHAR), s.d
        |FROM src s LEFT JOIN d1 t ON t.c_custkey = s.k
        |WHERE t.c_custkey IS NULL""".stripMargin,

    "ir_sql_catalog_index_ddl" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_nationkey IN (3, 7, 11)""".stripMargin,

    // additive schema evolution: pre-evolution rows read NULL in the
    // appended columns, post-evolution DML fills them, plus one insert
    "ir_sql_catalog_evolve" ->
      """SELECT c_custkey, c_name, c_acctbal,
        |  CASE WHEN c_custkey <= 30 THEN 'gold' END AS c_tier,
        |  CAST(NULL AS DOUBLE) AS c_bonus
        |FROM customer
        |UNION ALL
        |SELECT 30000001, 'Evo#1', 10.0, 'new', 1.5""".stripMargin,

    // two concurrent committers on disjoint key ranges — the merged
    // final state is order-independent, and BOTH must have landed
    "ir_sql_catalog_concurrent" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey <= 60 THEN c_acctbal + 100
        |       WHEN c_custkey <= 120 THEN c_acctbal - 40
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin,

    // version 1 of the log = after the UPDATE, before the DELETE
    "ir_sql_catalog_timetravel" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey <= 40 THEN -5.0 ELSE c_acctbal END AS c_acctbal
        |FROM customer WHERE c_custkey <= 300""".stripMargin,

    // RESTORE TO VERSION AS OF 1 = the UPDATE applied, the DELETE undone
    "ir_sql_restore_sqltext" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey <= 60 THEN c_acctbal * 2 ELSE c_acctbal END
        |    AS c_acctbal
        |FROM customer""".stripMargin,

    // view restore to version 1 (zeroed balances <= 80, DELETE undone),
    // then +7 on keys <= 10 applied on top of the restored state
    "ir_sql_restore_view" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey <= 10 THEN 7.0
        |       WHEN c_custkey <= 80 THEN 0.0
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin,

    // the mirror merge with WHEN NOT MATCHED BY SOURCE: matched rows
    // take the source value, missing source rows insert, unmatched
    // target rows delete (<=150) or flag (-1, <=300) or survive
    "ir_sql_merge_sqltext_full" ->
      """WITH src AS (
        |  SELECT id*4 AS k, CAST(id*100 AS DOUBLE) AS v FROM range(1, 26) t(id)
        |  UNION ALL
        |  SELECT id + 30000000 AS k, CAST(id*11 AS DOUBLE) AS v FROM range(1, 6) t(id)
        |)
        |SELECT c.c_custkey, c.c_name, s.v AS c_acctbal
        |FROM customer c JOIN src s ON c.c_custkey = s.k
        |UNION ALL
        |SELECT s.k, 'Mirror#' || CAST(s.k AS VARCHAR), s.v
        |FROM src s LEFT JOIN customer c ON c.c_custkey = s.k
        |WHERE c.c_custkey IS NULL
        |UNION ALL
        |SELECT c.c_custkey, c.c_name, -1.0
        |FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
        |WHERE s.k IS NULL AND c.c_custkey > 150 AND c.c_custkey <= 300
        |UNION ALL
        |SELECT c.c_custkey, c.c_name, c.c_acctbal
        |FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
        |WHERE s.k IS NULL AND c.c_custkey > 300""".stripMargin,

    "ir_sql_merge_sqltext_composite" -> mergeCompositeOracleSql,

    "ir_sql_sum_avg_double" ->
      """SELECT round(sum(c_acctbal), 2) AS sum_bal,
        |  round(avg(c_acctbal), 4) AS avg_bal,
        |  round(median(c_acctbal), 4) AS med_bal,
        |  CAST(count(c_acctbal) AS BIGINT) AS cnt_bal
        |FROM customer""".stripMargin,

    "ir_sql_merge_sqltext_composite3" ->
      """WITH t AS (
        |  SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |  FROM customer
        |), src AS (
        |  SELECT id % 10 AS s1, id % 100 AS s2, id AS sk,
        |         CAST(id % 5 AS DOUBLE) AS delta
        |  FROM range(1, 31) r(id)
        |  UNION ALL
        |  SELECT 7, 77, id + 30000000, CAST(id % 5 AS DOUBLE)
        |  FROM range(1, 6) r(id)
        |)
        |SELECT t.b1, t.b2, t.c_custkey, t.c_acctbal
        |FROM t LEFT JOIN src s
        |  ON t.b1 = s.s1 AND t.b2 = s.s2 AND t.c_custkey = s.sk
        |WHERE s.sk IS NULL
        |UNION ALL
        |SELECT t.b1, t.b2, t.c_custkey, t.c_acctbal + s.delta
        |FROM t JOIN src s
        |  ON t.b1 = s.s1 AND t.b2 = s.s2 AND t.c_custkey = s.sk
        |WHERE s.delta <> 0
        |UNION ALL
        |SELECT s.s1, s.s2, s.sk, s.delta
        |FROM src s LEFT JOIN t
        |  ON t.b1 = s.s1 AND t.b2 = s.s2 AND t.c_custkey = s.sk
        |WHERE t.c_custkey IS NULL""".stripMargin,

    "ir_sql_time_travel_sqltext" ->
      """WITH v1 AS (SELECT * FROM customer WHERE c_custkey % 10 <> 3),
        |v2 AS (SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 4 THEN 0 ELSE c_nationkey END AS c_nationkey
        |       FROM v1)
        |SELECT CAST(0 AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
        |  CAST(sum(c_nationkey) AS BIGINT) AS nat_sum
        |FROM customer
        |UNION ALL
        |SELECT 1, count(*), CAST(sum(c_custkey) AS BIGINT),
        |  CAST(sum(c_nationkey) AS BIGINT) FROM v1
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(c_custkey) AS BIGINT),
        |  CAST(sum(c_nationkey) AS BIGINT) FROM v2""".stripMargin,

    "ir_sql_index_ddl_sqltext" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_nationkey = 7 AND c_acctbal >= 0""".stripMargin,

    // the UPDATE branches guard c_acctbal IS NOT NULL: a null balance
    // updates to null (no value change), so the diff correctly omits it
    "ir_sql_table_changes_sqltext" ->
      """SELECT 'delete' AS _change_type, c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT 'update_preimage', c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 10 = 4 AND c_acctbal IS NOT NULL
        |UNION ALL
        |SELECT 'update_postimage', c_custkey, c_name, c_acctbal + 1
        |FROM customer WHERE c_custkey % 10 = 4 AND c_acctbal IS NOT NULL
        |UNION ALL
        |SELECT 'insert', id + 60000000, 'cdc', CAST(NULL AS DOUBLE)
        |FROM range(1, 6) t(id)""".stripMargin,

    // v2 == v3: OPTIMIZE is content-neutral by construction, so both
    // rows replicate the post-UPDATE state; v4 applies the second
    // DELETE on top
    "ir_sql_optimize_sqltext" ->
      """WITH v2 AS (SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 4 THEN 9 ELSE c_nationkey END AS c_nationkey
        |       FROM customer WHERE c_custkey % 10 <> 3),
        |v4 AS (SELECT * FROM v2 WHERE c_custkey % 10 <> 5)
        |SELECT CAST(2 AS INT) AS v, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
        |  CAST(sum(c_nationkey) AS BIGINT) AS nat_sum
        |FROM v2
        |UNION ALL
        |SELECT 3, count(*), CAST(sum(c_custkey) AS BIGINT),
        |  CAST(sum(c_nationkey) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT 4, count(*), CAST(sum(c_custkey) AS BIGINT),
        |  CAST(sum(c_nationkey) AS BIGINT) FROM v4""".stripMargin,

    "ir_sql_vacuum_sqltext" ->
      """WITH v3 AS (SELECT c_custkey FROM customer
        |            WHERE c_custkey % 10 NOT IN (3, 6))
        |SELECT CAST(2 AS BIGINT) AS version, false AS is_current,
        |       CAST(NULL AS BIGINT) AS cnt
        |UNION ALL
        |SELECT 3, true, NULL
        |UNION ALL
        |SELECT -1, true, (SELECT count(*) FROM v3)
        |UNION ALL
        |SELECT -2, false, (SELECT count(*) FROM v3)""".stripMargin,

    // RETAIN 0 HOURS folds all history: one retained version (the
    // current, number intact = 2 after two DML statements)
    "ir_sql_vacuum_hours" ->
      """SELECT CAST(2 AS BIGINT) AS version, true AS is_current,
        |       t.cnt, t.nat_sum
        |FROM (SELECT count(*) AS cnt,
        |        CAST(sum(CASE WHEN c_custkey % 10 = 4 THEN 0
        |                      ELSE c_nationkey END) AS BIGINT) AS nat_sum
        |      FROM customer WHERE c_custkey % 10 <> 3) t""".stripMargin,

    "ir_sql_delete_sqltext" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT (c_acctbal < 0 AND c_custkey % 10 = 3)""".stripMargin,

    "ir_sql_update_sqltext" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 3 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin,

    "ir_sql_insert_sqltext" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |UNION ALL
        |SELECT id + 50000000, 'New#' || CAST(id AS VARCHAR),
        |       CAST(id % 9 AS DOUBLE) + 0.5
        |FROM range(1, 21) t(id)""".stripMargin,

    "ir_build_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer",

    "ir_multiget" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey IN (1, 5, 42, 999999)",

    "ir_multiput" ->
      """SELECT c_custkey, c_acctbal FROM (
        |  SELECT c_custkey, CASE WHEN c_custkey = 1 THEN 0.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey IN (1, 2)
        |  UNION ALL SELECT CAST(-1 AS BIGINT), 111.11
        |) t""".stripMargin,

    "ir_delete" ->
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer WHERE c_custkey NOT BETWEEN 1 AND 10",

    "ir_filter" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING'""".stripMargin,

    "ir_mapvalues" ->
      "SELECT c_custkey, round(c_acctbal * 2.0 + 1.0, 2) AS interest FROM customer",

    "ir_innerjoin" ->
      """SELECT c.c_custkey, c.c_acctbal, round(o.total, 2) AS total
        |FROM customer c
        |JOIN (SELECT o_custkey, CAST(sum(o_totalprice) AS DOUBLE) AS total
        |      FROM orders GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "ir_leftjoin" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |       round(COALESCE(o.total, 0.0), 2) AS big_total
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, CAST(sum(o_totalprice) AS DOUBLE) AS total
        |           FROM orders GROUP BY o_custkey
        |           HAVING CAST(sum(o_totalprice) AS DOUBLE) > 1500000.0) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "ir_join_update" ->
      """SELECT c.c_custkey,
        |       floor((c.c_acctbal + COALESCE(o.total, 0.0) / 1000.0) * 100) / 100 AS adj_bal
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, CAST(sum(o_totalprice) AS DOUBLE) AS total
        |           FROM orders GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "ir_fulljoin" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS c_custkey,
        |       COALESCE(c.c_acctbal, -1.0) AS c_acctbal,
        |       round(COALESCE(o.total, -1.0), 2) AS total
        |FROM customer c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, CAST(sum(o_totalprice) AS DOUBLE) AS total
        |  FROM orders GROUP BY o_custkey
        |  UNION ALL SELECT CAST(-7 AS BIGINT), 77.0
        |) o ON c.c_custkey = o.o_custkey""".stripMargin,

    "ir_unionwith" ->
      """SELECT c.c_custkey,
        |       round(c.c_acctbal + COALESCE(o.total, 0.0), 2) AS combined
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, CAST(sum(o_totalprice) AS DOUBLE) AS total
        |           FROM orders GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "ir_diff" ->
      """SELECT c_custkey, round(c_acctbal + 1.0, 2) AS c_acctbal
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "ir_aggregate" ->
      """SELECT o_custkey, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "ir_incremental_agg" ->
      // from-scratch recompute over base ∪ delta (= all orders): the
      // gate certifies the incrementally maintained view equals it
      """SELECT o_custkey, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "ir_sql_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer",

    "ir_sql_minmax" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer""".stripMargin,

    "ir_range" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey >= 100 AND c_custkey < 300""".stripMargin,

    "ir_range_partitioned" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey >= 500 AND c_custkey < 800""".stripMargin,

    "ir_save_load" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 = 7""".stripMargin,

    "ir_sql_semijoin_idx" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 450000)""".stripMargin,

    "ir_sql_antijoin_idx" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 450000)""".stripMargin,

    "ir_sql_join_idx" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |  round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_acctbal""".stripMargin,

    // bucket equality is implied by custkey equality, so the SQL twin
    // is the single-key join
    "ir_sql_join_composite_idx" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |  round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_acctbal""".stripMargin,

    "ir_sql_join_composite3_idx" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |  round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_acctbal""".stripMargin,

    "ir_sql_pointget" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (2, 17, 123, 999999)""".stripMargin,

    "ir_sql_range" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey BETWEEN 200 AND 399""".stripMargin,

    "ir_sql_pointget_composite" ->
      """SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 = 17 AND c_custkey IN (17, 117, 999917)""".stripMargin,

    "ir_sql_range_composite" ->
      """SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 BETWEEN 10 AND 12""".stripMargin,

    "ir_sql_merge" -> mergeOracleSql,

    "ir_sql_merge_composite" -> mergeCompositeOracleSql,

    "ir_sql_pointget_composite3" ->
      """SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_custkey % 10 = 3 AND c_custkey % 100 = 53
        |  AND c_custkey IN (53, 153, 999953)""".stripMargin,

    "ir_sql_prefix_range_composite3" ->
      """SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_custkey % 10 = 3 AND c_custkey % 100 BETWEEN 20 AND 40""".stripMargin,

    "ir_sql_topk_composite3" ->
      """SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |FROM customer
        |ORDER BY 1, 2, 3 LIMIT 50""".stripMargin,

    "ir_sql_agg_composite3" ->
      """SELECT c_custkey % 10 AS b1, count(*) AS n FROM customer
        |GROUP BY 1""".stripMargin,

    "ir_sql_secondary_composite3" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_nationkey = 7""".stripMargin,

    "ir_sql_group_stats_composite3" ->
      """SELECT c_custkey % 10 AS b1, count(*) AS n,
        |  min(c_custkey % 100) AS mn, max(c_custkey % 100) AS mx
        |FROM customer GROUP BY 1""".stripMargin,

    "ir_sql_pointget_str" ->
      """SELECT c_name, c_custkey, c_acctbal FROM customer
        |WHERE c_name IN ('Customer#000000002', 'Customer#000000017',
        |                 'Customer#000000123', 'Customer#999999999')""".stripMargin,

    "ir_sql_frame_load" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey BETWEEN 100 AND 149""".stripMargin,

    "ir_sql_frame_load_secondary" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_nationkey = 7""".stripMargin,

    "ir_sql_range_str" ->
      """SELECT c_name, c_custkey, c_acctbal FROM customer
        |WHERE c_name BETWEEN 'Customer#000000050' AND 'Customer#000000120'""".stripMargin,

    "ir_sql_range_str_rp" ->
      """SELECT c_name, c_acctbal FROM customer
        |WHERE c_name BETWEEN 'Customer#000000020' AND 'Customer#000000080'""".stripMargin,

    "ir_sql_prefix_scan" ->
      """SELECT c_name, c_custkey, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#00000007%'""".stripMargin,

    "ir_sql_prefix_rp" ->
      """SELECT c_name, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#0000001%'""".stripMargin,

    "ir_sql_prefix_secondary" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#00000012%'""".stripMargin,

    "ir_sql_minmax_str" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  min(c_name) AS min_name, max(c_name) AS max_name
        |FROM customer""".stripMargin,

    "ir_sql_pointget_uuid" ->
      """SELECT printf('00000000-0000-4000-8000-%012d', c_custkey) AS c_uuid,
        |       c_custkey, c_acctbal
        |FROM customer WHERE c_custkey IN (2, 17)""".stripMargin,

    "ir_sql_range_composite2" ->
      """SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 IN (10, 11) AND c_custkey BETWEEN 40 AND 130""".stripMargin,

    "ir_sql_frame_load_composite" ->
      """SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 BETWEEN 10 AND 12
        |UNION ALL
        |SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 = 17 AND c_custkey IN (17, 117, 999917)""".stripMargin,

    "ir_sql_frame_load_composite3" ->
      """SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_custkey % 10 = 3 AND c_custkey % 100 BETWEEN 20 AND 40
        |UNION ALL
        |SELECT c_custkey % 10 AS b1, c_custkey % 100 AS b2, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_custkey % 10 = 3 AND c_custkey % 100 = 53
        |  AND c_custkey IN (53, 153, 999953)""".stripMargin,

    "ir_sql_range_composite_rp" ->
      """SELECT c_custkey % 100 AS c_bucket, c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 100 BETWEEN 20 AND 24""".stripMargin,

    "ir_sql_minmax_composite" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  min(c_custkey % 100) AS min_bucket, max(c_custkey % 100) AS max_bucket
        |FROM customer""".stripMargin,

    "ir_sql_minmax_uuid" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  min(printf('00000000-0000-4000-8000-%012d', c_custkey)) AS min_uuid,
        |  max(printf('00000000-0000-4000-8000-%012d', c_custkey)) AS max_uuid
        |FROM customer""".stripMargin,

    "ir_sql_range_partitioned" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey BETWEEN 300 AND 499""".stripMargin,

    "ir_sql_zone_prune" ->
      """SELECT event_id, user_id, round(value, 2) AS value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-23 00:00:00'""".stripMargin,

    "ir_sql_range_ts" ->
      """SELECT epoch_ms(ts) AS ts_ms, event_id, user_id,
        |  round(value, 2) AS value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-23 00:00:00'""".stripMargin,

    "ir_sql_topk_ts" ->
      """SELECT epoch_ms(ts) AS ts_ms, event_id, round(value, 2) AS value
        |FROM events ORDER BY ts, event_id LIMIT 50""".stripMargin,

    "ir_sql_asof_ts" ->
      """WITH g AS (SELECT ts, CAST(count(*) AS BIGINT) AS n,
        |                  round(max(value), 2) AS mv
        |           FROM events GROUP BY ts)
        |SELECT epoch_ms(ts) AS ts_ms, n, mv FROM g
        |WHERE ts = (SELECT max(ts) FROM g
        |            WHERE ts <= TIMESTAMP '2024-01-15 12:00:00')""".stripMargin,

    "ir_sql_asof_user" ->
      """WITH g AS (SELECT user_id, ts, round(max(value), 2) AS mv
        |           FROM events GROUP BY user_id, ts)
        |SELECT user_id, epoch_ms(ts) AS ts_ms, mv FROM g
        |WHERE user_id = 5
        |  AND ts = (SELECT max(ts) FROM g WHERE user_id = 5
        |            AND ts <= TIMESTAMP '2024-01-20 00:00:00')""".stripMargin,

    "ir_sql_asof_composite3" ->
      """WITH g AS (SELECT user_id % 5 AS tenant, user_id, ts,
        |                  round(max(value), 2) AS mv
        |           FROM events GROUP BY user_id, ts)
        |SELECT tenant, user_id, epoch_ms(ts) AS ts_ms, mv FROM g
        |WHERE tenant = 2 AND user_id = 7
        |  AND ts = (SELECT max(ts) FROM g WHERE tenant = 2 AND user_id = 7
        |            AND ts <= TIMESTAMP '2024-01-20 00:00:00')""".stripMargin,

    "ir_sql_range_date" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od,
        |  o_orderkey, o_totalprice FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'""".stripMargin,

    "ir_sql_secondary_eq" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_nationkey = 5""".stripMargin,

    "ir_sql_secondary_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 110""".stripMargin,

    "ir_sql_secondary_composite" ->
      """SELECT c_mktsegment, c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_nationkey = 7""".stripMargin,

    "ir_sql_range_stats" ->
      """SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx,
        |       count(*) AS cnt FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 1200""".stripMargin,

    "ir_sql_range_stats_ts" ->
      """SELECT count(*) AS cnt, min(ts) AS mn, max(ts) AS mx FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "ir_sql_zone_prune_composite" ->
      """SELECT event_id, user_id, round(value, 2) AS value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-14 00:00:00'""".stripMargin,

    "ir_sql_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50""".stripMargin,

    // (o_bucket, o_orderkey) is unique, so the pair sort is total and
    // both engines pick the identical 50 rows
    "ir_sql_topk_composite" ->
      """SELECT CAST(o_orderkey % 97 AS BIGINT) AS o_bucket, o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_bucket, o_orderkey LIMIT 50""".stripMargin,

    "ir_sql_topk_desc" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 50""".stripMargin,

    "ir_sql_topk_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey > 1000
        |ORDER BY o_orderkey LIMIT 50""".stripMargin,

    "ir_sql_topk_page_desc" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 500 AND 1400
        |ORDER BY o_orderkey DESC LIMIT 40""".stripMargin,

    "ir_sql_topk_page_prefix" ->
      """SELECT c_name, c_acctbal FROM customer
        |WHERE c_name LIKE 'Customer#000000%' AND c_name > 'Customer#000000050'
        |ORDER BY c_name LIMIT 20""".stripMargin,

    "ir_sql_topk_page_ts" ->
      """SELECT ts, event_id, round(value, 2) AS value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY ts, event_id LIMIT 50""".stripMargin,

    "ir_sql_topk_page_entity" ->
      """WITH g AS (SELECT user_id, ts, round(max(value), 2) AS mv
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id, ts, mv FROM g
        |WHERE user_id = 7 AND ts > TIMESTAMP '2024-01-05 00:00:00'
        |ORDER BY ts LIMIT 20""".stripMargin,

    "ir_sql_topk_page_secondary" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_name > 'Customer#000000100'
        |ORDER BY c_name LIMIT 30""".stripMargin,

    "ir_sql_group_count_user" ->
      """WITH g AS (SELECT user_id, ts FROM events GROUP BY user_id, ts)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS cnt, 'all' AS scope
        |FROM g GROUP BY 1
        |UNION ALL
        |SELECT user_id, CAST(count(*) AS BIGINT), 'window'
        |FROM g WHERE user_id BETWEEN 5 AND 15 GROUP BY 1""".stripMargin,

    "ir_sql_group_count_segment" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer
        |WHERE c_mktsegment IS NOT NULL GROUP BY 1""".stripMargin,

    "ir_sql_secondary_in" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE c_nationkey IN (3, 9, 14) AND c_mktsegment = 'BUILDING'""".stripMargin,

    "ir_tuple2_multiget" ->
      """WITH d AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |                  o_totalprice FROM orders),
        |k AS (SELECT o_custkey, o_orderdate FROM d
        |      GROUP BY o_custkey, o_orderdate
        |      ORDER BY o_custkey, o_orderdate LIMIT 3)
        |SELECT o.o_custkey, o.o_orderdate,
        |       CAST(max(o.o_totalprice) AS DOUBLE) AS max_price
        |FROM d o JOIN k ON o.o_custkey = k.o_custkey AND o.o_orderdate = k.o_orderdate
        |GROUP BY o.o_custkey, o.o_orderdate""".stripMargin,

    "ir_sql_upsert_frame" ->
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal * 2 AS c_acctbal FROM base
        |  WHERE c_custkey % 10 = 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE) FROM base
        |  WHERE c_custkey % 100 = 7)
        |SELECT c_custkey, c_acctbal FROM upd
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)""".stripMargin,

    "ir_sql_delete_frame" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey % 7 <> 0""".stripMargin,

    "ir_sql_count_range" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT) FROM orders
        |WHERE o_orderkey > 2000 AND o_orderkey < 2500
        |UNION ALL
        |SELECT CAST(count(*) AS BIGINT) FROM orders
        |WHERE o_orderkey > 10 AND o_orderkey < 5""".stripMargin,

    "ir_sql_mutate_composite" ->
      """SELECT c_mktsegment, c_custkey,
        |  CASE WHEN c_custkey % 10 = 4 THEN c_acctbal + 100
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer WHERE c_custkey % 10 <> 9
        |UNION ALL
        |SELECT 'NEWSEG', 42424242, CAST(1.5 AS DOUBLE)""".stripMargin,

    "ir_sql_scan" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |WHERE c_acctbal > 9000.0 AND c_mktsegment <> 'BUILDING'""".stripMargin,

    "ir_create_using_index" ->
      """SELECT o_custkey, round(CAST(max(o_totalprice) AS DOUBLE), 2) AS max_price
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "ir_sql_pointget_composite_str" ->
      """SELECT c_name, c_custkey, c_acctbal FROM customer
        |WHERE c_name IN ('Customer#000000002', 'Customer#000000017',
        |                 'Customer#000000123')
        |  AND c_custkey IN (2, 17, 123, 999999)""".stripMargin,

    "ir_sql_range_composite_str" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |  AND c_custkey BETWEEN 1 AND 500""".stripMargin,

    "ir_sql_range_uuid_rp" ->
      """SELECT printf('00000000-0000-4000-8000-%012d', c_custkey) AS c_uuid,
        |       c_acctbal
        |FROM customer WHERE c_custkey BETWEEN 100 AND 299""".stripMargin,

    "ir_sql_pointget_bigint" ->
      """SELECT c_custkey AS c_key, c_acctbal FROM customer
        |WHERE c_custkey IN (2, 17, 123, 999999)""".stripMargin,

    "ir_sql_frame_load_uuid" ->
      """SELECT printf('00000000-0000-4000-8000-%012d', c_custkey) AS c_uuid,
        |       c_acctbal
        |FROM customer WHERE c_custkey BETWEEN 200 AND 399
        |UNION ALL
        |SELECT printf('00000000-0000-4000-8000-%012d', c_custkey) AS c_uuid,
        |       c_acctbal
        |FROM customer WHERE c_custkey IN (2, 17)""".stripMargin,

    "ir_sql_join_composite_str_idx" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, c_name
        |FROM customer""".stripMargin,

    // last-write-wins replay of the three ordered upsert batches the
    // sink applied (per-year per-customer max order price, batch id =
    // year), over the initial customer-balance state
    "ir_stream_merge" -> streamMergeOracleSql,

    "ir_stream_merge_sqltext" -> streamMergeOracleSql,

    "ir_stream_sink" ->
      """WITH ups AS (
        |  SELECT o_custkey AS k, max(o_totalprice) AS v,
        |         year(CAST(o_orderdate AS DATE)) AS b
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
        |  GROUP BY o_custkey, year(CAST(o_orderdate AS DATE))
        |), last AS (
        |  SELECT k, v FROM (
        |    SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY b DESC) AS rn
        |    FROM ups) t
        |  WHERE rn = 1
        |)
        |SELECT coalesce(c.c_custkey, l.k) AS c_custkey,
        |       round(coalesce(l.v, c.c_acctbal), 2) AS val
        |FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.k""".stripMargin,

    // the killed-and-restarted run must land exactly where the
    // never-killed ir_stream_sink run lands — same oracle
    "ir_stream_restart" ->
      """WITH ups AS (
        |  SELECT o_custkey AS k, max(o_totalprice) AS v,
        |         year(CAST(o_orderdate AS DATE)) AS b
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
        |  GROUP BY o_custkey, year(CAST(o_orderdate AS DATE))
        |), last AS (
        |  SELECT k, v FROM (
        |    SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY b DESC) AS rn
        |    FROM ups) t
        |  WHERE rn = 1
        |)
        |SELECT coalesce(c.c_custkey, l.k) AS c_custkey,
        |       round(coalesce(l.v, c.c_acctbal), 2) AS val
        |FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.k""".stripMargin,

    // the backfill snapshot (version-0 corpus as inserts) plus the two
    // statements: v1's upsert rows (the doubled balances), v2's delete
    // keys (null value columns)
    "ir_stream_table_feed" ->
      """SELECT c_custkey, c_name, c_acctbal,
        |  'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal * 2, 'upsert', 1
        |FROM customer WHERE c_custkey <= 30
        |UNION ALL
        |SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
        |  'delete', 2
        |FROM customer WHERE c_custkey % 10 = 1 AND c_custkey <= 100""".stripMargin,

    // the z-ordered catalog table's 2-D box — identical semantics to
    // the unlayouted rollup box (the lane differs only in HOW it
    // reads: zone-pruned partitions of the Morton-clustered base)
    "ir_sql_catalog_zorder" ->
      """WITH agg AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, n_events, sum_value FROM agg
        |WHERE user_id BETWEEN 2 AND 11 AND day BETWEEN 19728 AND 19737""".stripMargin,

    // the rank-space 3-D box — identical semantics to the plain
    // grouped filter (the lane differs only in HOW it reads:
    // zone-pruned partitions of the rank-z-clustered base)
    "ir_sql_catalog_zorder3" ->
      """WITH agg AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, day, hr, n_events, sum_value FROM agg
        |WHERE user_id BETWEEN 2 AND 11 AND day BETWEEN 19728 AND 19737
        |AND hr BETWEEN 0 AND 11""".stripMargin,

    // the value-column z-order box AFTER the post-OPTIMIZE DML —
    // identical semantics to a plain filter over the mutated corpus
    // (the lane differs only in HOW it reads: zb-pruned projection
    // directories anti-joined with the delta overlay)
    "ir_sql_catalog_zorder_values" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 97 = 0 THEN value + 1000
        |         ELSE value END AS value
        |  FROM events WHERE event_id % 89 <> 0)
        |WHERE user_id BETWEEN 2 AND 6
        |AND value BETWEEN 50 AND 150""".stripMargin,

    "ir_sql_catalog_indexes" ->
      """SELECT * FROM (VALUES
        |  ('by_user', 'btree', 'user_id'),
        |  ('zones', 'zonemap', 'value')) AS t(name, kind, columns)""".stripMargin,

    // the staleness contract's three observable phases: DML leaves the
    // point-in-time mirror one version behind (stale), a refresh
    // closes the lag, and the AUTO REFRESH registration keeps it
    // closed through later DML with no further GENERATE calls
    "ir_sql_manifest_stale" ->
      """SELECT * FROM (VALUES
        |  ('p1_after_dml', true, CAST(1 AS BIGINT)),
        |  ('p2_after_refresh', false, CAST(0 AS BIGINT)),
        |  ('p3_after_auto_dml', false, CAST(0 AS BIGINT)))
        |AS t(phase, stale, lag)""".stripMargin,

    "ir_sql_catalog_zorder_values3" ->
      """SELECT event_id, user_id, value, amount FROM (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 97 = 0 THEN value + 1000
        |         ELSE value END AS value,
        |    CAST(event_id % 1000 AS DOUBLE) / 10.0 AS amount
        |  FROM events WHERE event_id % 89 <> 0)
        |WHERE user_id BETWEEN 2 AND 6
        |AND value BETWEEN 50 AND 150
        |AND amount BETWEEN 5 AND 80""".stripMargin,

    // the post-evolution state: renamed balance carries v1's +1 then
    // v3's zero, widened nat carries the bigint-only value, c_name is
    // projected away
    "ir_sql_catalog_evolve2" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey = 7 THEN 3000000000
        |       ELSE CAST(CAST(c_nationkey AS INT) AS BIGINT) END AS nat,
        |  CASE WHEN c_custkey = 5 THEN CAST(0.0 AS DOUBLE)
        |       WHEN c_custkey <= 10 THEN c_acctbal + 1
        |       ELSE c_acctbal END AS balance
        |FROM customer WHERE c_custkey BETWEEN 1 AND 200""".stripMargin,

    // the folded log's replayed state: residues 5 and 10 lost their
    // only writer to the delete statements, residue 0's writer is
    // statement 12, every other residue r's is statement r; keys 205
    // and 210 deleted where the fixture holds them
    "ir_sql_catalog_fold" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey <= 100 AND c_custkey % 12 NOT IN (5, 10)
        |    THEN 1000.0 * (CASE WHEN c_custkey % 12 = 0 THEN 12
        |                        ELSE c_custkey % 12 END) + c_custkey
        |  ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE c_custkey BETWEEN 1 AND 300
        |AND c_custkey NOT IN (205, 210)""".stripMargin,

    // the joint post-transaction state: batch 0 (keys 1-5 at 100+k) +
    // batch 1 (keys 6-8 at 200+k) over the corpus, the stats seed and
    // one row per batch (redelivery contributed NOTHING)
    "ir_sql_catalog_txn" ->
      """SELECT c_custkey AS id,
        |  CASE WHEN c_custkey BETWEEN 1 AND 5 THEN 100.0 + c_custkey
        |       WHEN c_custkey BETWEEN 6 AND 8 THEN 200.0 + c_custkey
        |       ELSE c_acctbal END AS val
        |FROM customer WHERE c_custkey BETWEEN 1 AND 150
        |UNION ALL SELECT 999, 0.0
        |UNION ALL SELECT 1000, 5.0
        |UNION ALL SELECT 1001, 3.0""".stripMargin,

    // the auto-evolved table: keys 50-150 carry the appended values
    // and their new segment; 1-49 keep the base values with segment
    // NULL (the pre-evolution rows read NULL in the added column)
    "ir_sql_catalog_automerge" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey BETWEEN 50 AND 150 THEN c_acctbal + 1000
        |       ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey BETWEEN 50 AND 150 THEN c_custkey % 5
        |       END AS segment
        |FROM customer WHERE c_custkey <= 150""".stripMargin,

    // the timestamp-addressed tail: versions 4..6 only (the stamp of
    // v4 floors the start), each one single-key upsert
    "ir_stream_table_feed_ts" ->
      """SELECT c_custkey, CAST(1000 + c_custkey AS DOUBLE) AS c_acctbal,
        |  'upsert' AS _change_type,
        |  CAST(c_custkey AS BIGINT) AS _commit_version
        |FROM customer WHERE c_custkey BETWEEN 4 AND 6""".stripMargin,

    // rate-limited catch-up accumulates the identical feed: snapshot
    // inserts + one upsert per single-key statement
    "ir_stream_table_feed_limit" ->
      """SELECT c_custkey, c_acctbal,
        |  'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
        |FROM customer WHERE c_custkey <= 120
        |UNION ALL
        |SELECT c_custkey, CAST(1000 + c_custkey AS DOUBLE), 'upsert',
        |  c_custkey
        |FROM customer WHERE c_custkey BETWEEN 1 AND 6""".stripMargin,

    // keys 8/80 are original customer rows, 880/2400/3992 appended
    // (ids 110/300/499); routing must survive the re-split partitioner
    "ir_sql_catalog_reskew" ->
      """SELECT c_custkey * 8 AS skey, c_acctbal FROM customer
        |WHERE c_custkey IN (1, 10)
        |UNION ALL
        |SELECT id * 8, CAST(id % 7 AS DOUBLE) FROM range(101, 501) t(id)
        |WHERE id IN (110, 300, 499)""".stripMargin,

    // the one-row metadata verb: deterministic columns only
    "ir_sql_describe_detail" ->
      """SELECT 'graft_cat_desc' AS name, 'graft' AS format,
        |  'c_custkey' AS key_columns,
        |  (SELECT count(*) FROM customer WHERE c_custkey % 10 <> 9)
        |    AS num_rows,
        |  CAST(0 AS BIGINT) AS first_version,
        |  CAST(1 AS BIGINT) AS current_version,
        |  'ck: CHECK (c_custkey >= 0)' AS constraints""".stripMargin,

    // the clone at v1: tripled balances <= 25 (the source's later
    // DELETE never applied), plus the clone's own nationkey update
    "ir_sql_catalog_clone" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey <= 10 THEN -1 ELSE c_nationkey END
        |    AS c_nationkey,
        |  CASE WHEN c_custkey <= 25 THEN c_acctbal * 3 ELSE c_acctbal END
        |    AS c_acctbal
        |FROM customer""".stripMargin,

    // only the PASSING update applied; the rejected one left no trace
    "ir_sql_catalog_constraint" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey <= 40 THEN c_acctbal + 50 ELSE c_acctbal END
        |    AS c_acctbal
        |FROM customer""".stripMargin,

    // same replay as ir_stream_restart — the durable-catalog sink
    // applies identical per-year upsert batches, last write wins
    "ir_stream_catalog" ->
      """WITH ups AS (
        |  SELECT o_custkey AS k, max(o_totalprice) AS v,
        |         year(CAST(o_orderdate AS DATE)) AS b
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996, 1997)
        |  GROUP BY o_custkey, year(CAST(o_orderdate AS DATE))
        |), last AS (
        |  SELECT k, v FROM (
        |    SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY b DESC) AS rn
        |    FROM ups) t
        |  WHERE rn = 1
        |)
        |SELECT coalesce(c.c_custkey, l.k) AS c_custkey,
        |       round(coalesce(l.v, c.c_acctbal), 2) AS val
        |FROM customer c FULL OUTER JOIN last l ON c.c_custkey = l.k""".stripMargin,

    // the as-of-batch-1 snapshot: last write among {init, 1995, 1996}
    // per key — 1997 never applied to this version
    "ir_stream_time_travel" ->
      """WITH b0 AS (SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders
        |            WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
        |b1 AS (SELECT o_custkey AS k, max(o_totalprice) AS v FROM orders
        |       WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1)
        |SELECT c.c_custkey,
        |       round(coalesce(b1.v, b0.v, c.c_acctbal), 2) AS val
        |FROM customer c
        |LEFT JOIN b0 ON b0.k = c.c_custkey
        |LEFT JOIN b1 ON b1.k = c.c_custkey""".stripMargin,

    // the change history replayed as a lag window over the per-year
    // batch sequence, seeded with the initial balances at batch -1
    "ir_stream_changelog" ->
      """WITH yr AS (SELECT o_custkey AS k,
        |             CAST(year(CAST(o_orderdate AS DATE)) - 1995 AS BIGINT) AS b,
        |             max(o_totalprice) AS v
        |           FROM orders
        |           WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1995 AND 1997
        |           GROUP BY 1, 2),
        |seed AS (SELECT c_custkey AS k, CAST(-1 AS BIGINT) AS b, c_acctbal AS v
        |         FROM customer),
        |u AS (SELECT * FROM seed UNION ALL SELECT * FROM yr),
        |w AS (SELECT k, b, v, lag(v) OVER (PARTITION BY k ORDER BY b) AS old FROM u)
        |SELECT k AS c_custkey, b AS batch_id,
        |       round(old, 2) AS old_val, round(v, 2) AS new_val
        |FROM w WHERE b >= 0""".stripMargin,

    // every order lands once (o_orderkey is unique, so last-write-wins
    // across batches is just the union), enriched with its customer's
    // balance via the indexed dimension probe
    "ir_stream_lookup" ->
      """SELECT o.o_orderkey, round(o.o_totalprice + c.c_acctbal, 2) AS val
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE year(CAST(o.o_orderdate AS DATE)) IN (1995, 1996, 1997)""".stripMargin,

    "ir_sql_distinct_key" ->
      "SELECT DISTINCT o_orderkey FROM orders",

    "ir_sql_count_distinct" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nn
        |FROM customer""".stripMargin,

    "ir_sql_count_distinct_key" ->
      "SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n FROM orders",

    "ir_sql_time_rollup" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY 1""".stripMargin,

    "ir_sql_time_rollup_stats" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(count(*) AS BIGINT) AS n,
        |       min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY 1""".stripMargin,

    "ir_sql_expr_group" ->
      """SELECT o_orderkey % 97 AS b, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    "ir_sql_lookup_join" ->
      """SELECT o.o_orderkey, o.o_totalprice AS price, p.tag
        |FROM orders o
        |JOIN (SELECT range*7 AS k, range%5 AS tag FROM range(0, 300)) p
        |  ON o.o_orderkey = p.k""".stripMargin,

    "ir_sql_lookup_outer" ->
      """SELECT p.k, p.tag, o.o_totalprice AS price
        |FROM (SELECT range*7 AS k, range%5 AS tag FROM range(0, 300)) p
        |LEFT JOIN orders o ON p.k = o.o_orderkey""".stripMargin,

    "ir_sql_lookup_semi" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |SEMI JOIN (SELECT range*7 AS k FROM range(0, 300)) p
        |  ON o.o_orderkey = p.k""".stripMargin,

    "ir_sql_lookup_anti" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |ANTI JOIN (SELECT range*7 AS k FROM range(0, 300)) p
        |  ON o.o_orderkey = p.k""".stripMargin,

    "ir_sql_lookup_secondary" ->
      """SELECT c.c_custkey, c.c_acctbal, n.n_name
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,

    "ir_sql_prefix_lookup_join" ->
      """SELECT e.user_id, e.event_id, e.value, p.tag
        |FROM events e
        |JOIN (SELECT range % 30 + 1 AS pu, range AS tag FROM range(0, 40)) p
        |  ON e.user_id = p.pu""".stripMargin,

    "ir_stream_asof" ->
      """WITH versions AS (
        |  SELECT user_id, ts, round(max(value), 2) AS mv
        |  FROM events GROUP BY 1, 2),
        |probe AS (
        |  SELECT range % 25 + 1 AS pu,
        |         make_timestamp((1704153600 + range * 9137) * 1000000) AS pt
        |  FROM range(0, 200))
        |SELECT p.pu, p.pt, v.user_id, v.ts, v.mv
        |FROM probe p JOIN versions v
        |  ON v.user_id = p.pu AND v.ts = (
        |    SELECT max(v2.ts) FROM versions v2
        |    WHERE v2.user_id = p.pu AND v2.ts <= p.pt)""".stripMargin,

    "ir_sql_asof_lookup_outer" ->
      """WITH versions AS (
        |  SELECT user_id, ts, round(max(value), 2) AS mv
        |  FROM events GROUP BY 1, 2),
        |probe AS (
        |  SELECT range % 40 + 1 AS pu,
        |         make_timestamp((1704153600 + range * 9137) * 1000000) AS pt
        |  FROM range(0, 200))
        |SELECT p.pu, p.pt, v.user_id, v.ts, v.mv
        |FROM probe p LEFT JOIN versions v
        |  ON v.user_id = p.pu AND v.ts = (
        |    SELECT max(v2.ts) FROM versions v2
        |    WHERE v2.user_id = p.pu AND v2.ts <= p.pt)""".stripMargin,

    "ir_sql_asof_lookup" ->
      """WITH versions AS (
        |  SELECT user_id, ts, round(max(value), 2) AS mv
        |  FROM events GROUP BY 1, 2),
        |probe AS (
        |  SELECT range % 25 + 1 AS pu,
        |         make_timestamp((1704153600 + range * 9137) * 1000000) AS pt
        |  FROM range(0, 200))
        |SELECT p.pu, p.pt, v.user_id, v.ts, v.mv
        |FROM probe p JOIN versions v
        |  ON v.user_id = p.pu AND v.ts = (
        |    SELECT max(v2.ts) FROM versions v2
        |    WHERE v2.user_id = p.pu AND v2.ts <= p.pt)""".stripMargin,

    "ir_sql_range_lookup_join" ->
      """SELECT o.o_orderkey, o.o_custkey, p.tag
        |FROM orders o
        |JOIN (SELECT range*140 AS lo, range*140+30 AS hi, range AS tag
        |      FROM range(0, 100)) p
        |  ON o.o_orderkey >= p.lo AND o.o_orderkey <= p.hi""".stripMargin,

    "ir_sql_in_subquery" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderkey IN (SELECT range*7 FROM range(0, 300))""".stripMargin,

    "ir_sql_lookup_secondary_outer" ->
      """SELECT p.pn, p.tag, c.c_custkey, c.c_acctbal
        |FROM (SELECT CAST(range - 5 AS INT) AS pn, range AS tag
        |      FROM range(0, 40)) p
        |LEFT JOIN customer c ON p.pn = c.c_nationkey""".stripMargin,

    "ir_sql_col_stats" ->
      """SELECT CAST(count(c_nationkey) AS BIGINT) AS nn,
        |       min(c_nationkey) AS mn, max(c_nationkey) AS mx,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM customer""".stripMargin,

    "ir_sql_sum_avg" ->
      """SELECT CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        |       avg(c_custkey) AS avg_key,
        |       CAST(sum(c_nationkey) AS BIGINT) AS sum_nat,
        |       avg(c_nationkey) AS avg_nat,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM customer""".stripMargin,

    "ir_sql_percentile_secondary" ->
      """SELECT quantile_cont(c_nationkey, 0.5) AS med_nat,
        |       quantile_cont(c_nationkey, 0.25) AS p25_nat,
        |       quantile_cont(c_custkey, 0.5) AS med_key,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM customer""".stripMargin,

    "ir_sql_percentile_key" ->
      """SELECT quantile_cont(o_orderkey, 0.5) AS med,
        |       quantile_cont(o_orderkey, 0.25) AS p25,
        |       quantile_cont(o_orderkey, 0.75) AS p75,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders""".stripMargin,

    "ir_sql_distinct_leading" ->
      "SELECT DISTINCT user_id FROM events",

    "ir_sql_group_stats" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       min(event_id) AS mn, max(event_id) AS mx
        |FROM events GROUP BY user_id""".stripMargin,

    "ir_sql_group_stats_secondary" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |       min(c_custkey) AS mn, max(c_custkey) AS mx
        |FROM customer WHERE c_nationkey IS NOT NULL
        |GROUP BY c_nationkey""".stripMargin,

    "ir_sql_window_topn" ->
      """SELECT user_id, event_id, round(value, 2) AS value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id) AS INT) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin
  )
}

package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through a `noop` sink — `count()` would let
  * Catalyst collapse the plan to an aggregate and skip projections, so
  * noop is the honest "execute everything, write nothing" measurement.
  */
object Bench {
  // ----------------------------------------------------- sweep budget
  // r19's driver sweep hit its harness timeout (rc 124): the
  // SparkContext was killed mid-micros and the round shipped with ZERO
  // parsed lanes — an unverifiable artifact is worse than a partial
  // one. The sweep now carries a WALL-CLOCK budget: once exceeded,
  // remaining micro FAMILIES are skipped (each skip named in the
  // artifact — no silent caps) and the final JSON always ships. The
  // registry lanes are never skipped (they are the per-operator perf
  // gate); families checked at their boundary can overrun by at most
  // one family, which the default leaves headroom for (r18's FULL
  // sweep finished in 47 min inside the driver's window).
  private val benchStart = System.nanoTime()
  private val budgetSec: Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
  private def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
  private def overBudget: Boolean = elapsedSec > budgetSec
  private val skippedFamilies =
    scala.collection.mutable.ArrayBuffer.empty[String]

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // two bounded invocations beat one unbounded one: the driver (or a
    // local iteration) can run `registry` and `micro` as separate
    // processes, each inside its own timeout
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "all")
    // isolation re-times: run ONLY the named registry lanes (comma
    // list) — the protocol that closed mm_features_real in r19
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", sys.env.getOrElse(
        "SPARK_GRAFT_SERIALIZER",
        "org.apache.spark.serializer.KryoSerializer"))
      .config("spark.kryoserializer.buffer.max", "256m")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtension")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // session warmup: parquet reader init, codegen infra, and JIT land
    // here instead of on the alphabetically-first query
    spark.read.parquet(s"$sfDir/region.parquet")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()

    // best-of-3 per query: a single GC/cache-lock burst during one run
    // cannot masquerade as a regression. Best-of-2 was not enough —
    // round 7's driver artifact showed a 21-lane cluster 2-6x slower
    // with no code change on those paths (r4 showed the inverse), so
    // the odd JIT/GC-storm run evidently spans both of two back-to-back
    // attempts; a third, separated by the other two's cache sweeps,
    // keeps round-over-round comparisons from crying wolf
    var lanesSinceGc = 0
    val laneList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        mode != "micro" && only.forall(_.contains(name)) }
    val results = laneList.map { case (name, fn) =>
      val gc0 = gcMillis()
      def oneRun(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // isolate queries AND runs: no cache reuse, RDD or SQL level
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        sec
      }
      val runs = adaptiveRuns(oneRun())(oneRun())
      diag(name) = (runs, gcMillis() - gc0)
      // r11 diag showed dedup_containment/[dedup_]ngram GROWING across
      // in-lane reps (1.6 -> 6.0 -> 4.9s, gc_ms 0). Investigated in
      // r12: NOT reproducible — the lane in isolation IMPROVES
      // monotonically across 6 reps (4.9 -> 1.1s, plain JIT warmup),
      // and an exact sweep-prefix reproduction (all 19 alphabetical
      // predecessors x3 reps with this very cleanup, then both lanes
      // x3) holds max/min < 1.5 for both. No temp-view, pin, or
      // shuffle accumulation exists in the lane; verdict: transient
      // host contention during the r11 driver sweep (this box swings
      // +-50% per run). The per-lane runs recorded here keep any
      // recurrence attributable.
      // r10's driver sweep showed point lanes 2-15x slower in-sweep
      // than in isolation, while the same plans re-timed fast — the
      // accumulated garbage of ~250 lanes (broadcasts, cached
      // plans, weak refs the ContextCleaner only reaps after a GC)
      // degrades the long-lived JVM. A full GC every 16 lanes gives
      // the cleaner its reference queue back and bounds the drift;
      // the per-lane GC-ms in bench_diag.json makes any residual
      // inflation attributable instead of mysterious.
      lanesSinceGc += 1
      if (lanesSinceGc >= 16) { lanesSinceGc = 0; gcQuiesce() }
      name -> runs.min
    } ++ (if (mode == "registry") Seq.empty
      else microBench(spark, sfDir, only))
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    gauges("bench_budget_skipped_families") = skippedFamilies.length.toDouble
    val gj = gauges.map { case (k, v) => "\"" + k + f"\":$v%.1f" }
      .mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
        f""""wall_sec":$elapsedSec%.1f,"budget_sec":$budgetSec%.0f,""" +
        s""""skipped_families":"${skippedFamilies.mkString(",")}",""" +
        s""""gauges":$gj,"sf":"$sfDir"}"""
    // the COMPLETE per-lane record goes to files (committed to the
    // repo): bench_out.json = the full one-line artifact,
    // bench_diag.json = per-lane raw best-of-3 runs + GC-time deltas
    // for diagnosing in-sweep environment drift
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    writeFile(outPath, fullLine + "\n")
    // diagnostics land BESIDE the main artifact, honoring the same
    // override (a redirected run must not silently drop its GC data)
    val diagPath = {
      val p = java.nio.file.Paths.get(outPath).toAbsolutePath
      val parent = Option(p.getParent).map(_.toString).getOrElse(".")
      s"$parent/bench_diag.json"
    }
    writeFile(diagPath, diagJson())
    // stdout gets ONLY a COMPACT line, printed LAST: the driver keeps
    // just the tail of sbt output and parses the bench JSON from it —
    // r10's full 8 KB line was beheaded by the tail buffer and
    // `parsed` came back null. Headline lanes + totals fit in well
    // under the buffer; the full registry lives in bench_out.json.
    val micros = results.filter(_._1.startsWith("micro_"))
    val registry = results.filterNot(_._1.startsWith("micro_"))
    val headline = results.filter { case (k, _) =>
      k.startsWith("q") || k.startsWith("micro_scale") }
    val hq = headline.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val skipped = skippedFamilies.mkString(",")
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$hq,""" +
        f""""registry_lanes":${registry.length},"registry_sec":${registry.map(_._2).sum}%.3f,""" +
        f""""micro_lanes":${micros.length},"micro_sec":${micros.map(_._2).sum}%.3f,""" +
        f""""wall_sec":$elapsedSec%.1f,"budget_sec":$budgetSec%.0f,""" +
        s""""skipped_families":"$skipped",""" +
        s""""gauges":$gj,"full":"bench_out.json","sf":"$sfDir"}"""
    // the compact line must be the UNCONDITIONAL last stdout line: r20's
    // driver artifact lost it because it printed BEFORE spark.stop() and
    // thousands of shutdown `BlockManager: Block rdd_* could not be
    // removed` WARNs beheaded the captured tail (PERF_r21 then had no
    // round-over-round table at all). Unpersist every live handle first
    // (kills the WARN flood at its source), stop the session, THEN print.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.stop()
    println(compact)
  }

  /** Per-lane diagnostics: (raw best-of-3 run seconds, GC ms during
    * the lane). Written to bench_diag.json beside the artifact. */
  private val diag =
    scala.collection.mutable.LinkedHashMap[String, (Seq[Double], Long)]()

  /** NON-TIME metrics (lineage depths, counts): emitted under their own
    * `gauges` JSON field, NEVER into the summed `queries` map — r13's
    * headline "total" summed two stage-count gauges as seconds and
    * read 75% heavier than real wall time. */
  private[graft] val gauges =
    scala.collection.mutable.LinkedHashMap[String, Double]()
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** Full GC + a beat for the ContextCleaner to drain its queue. */
  private def gcQuiesce(): Unit = { System.gc(); Thread.sleep(150) }
  private def diagJson(): String =
    diag.map { case (name, (runs, gcMs)) =>
      "\"" + name + "\":{\"runs\":[" +
        runs.map(r => f"$r%.3f").mkString(",") + s"],\"gc_ms\":$gcMs}"
    }.mkString("{", ",", "}\n")
  private def writeFile(path: String, content: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), content)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $path: ${e.getMessage}")
    }

  /** BASELINE.md engine micro-benchmarks: indexed point lookups vs the
    * equivalent full scan, on a cached index (10 batches of 100 keys).
    *
    * Each micro family runs inside its own try — round 9's bench artifact
    * was lost entirely because ONE broken fixture loader (events) threw
    * during micro setup and killed the whole run. A failed family now
    * logs, emits nothing, and the artifact still ships. */
  private def microBench(spark: SparkSession, sfDir: String,
      only: Option[Set[String]] = None): Seq[(String, Double)] = {
    def family(label: String)(body: => Seq[(String, Double)]): Seq[(String, Double)] = {
      // ONLY filter (micro families go by label); budget check at the
      // family boundary — a family past the budget is SKIPPED BY NAME
      // (recorded in the artifact), never silently truncated
      if (!only.forall(_.contains(label))) return Seq.empty
      if (overBudget) {
        skippedFamilies += label
        System.err.println(f"[bench] budget ($budgetSec%.0fs) exceeded at " +
          f"$elapsedSec%.0fs — skipping micro family '$label'")
        return Seq.empty
      }
      try {
        gcQuiesce() // each family starts from a quiesced heap
        val gc0 = gcMillis()
        val out = body
        // lanes that recorded their own per-run diags (timed3) keep
        // them; the rest record their single best-of value
        out.foreach { case (k, v) =>
          if (!diag.contains(k)) diag(k) = (Seq(v), -1L) }
        diag(s"family_$label") = (Seq.empty, gcMillis() - gc0)
        out
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] micro family '$label' failed, skipping: ${e.getMessage}")
          Seq.empty
      }
    }
    family("core")(microCore(spark, sfDir)) ++
      family("sqlRange")(microSqlRange(spark, sfDir)) ++
      family("stats")(microStats(spark, sfDir)) ++
      family("distinct")(microDistinct(spark, sfDir)) ++
      family("bloom")(microBloom(spark, sfDir)) ++
      family("zone")(microZone(spark, sfDir)) ++
      family("tskey")(microTsKey(spark, sfDir)) ++
      family("asof")(microAsOf(spark, sfDir)) ++
      family("lookupJoin")(microLookupJoin(spark, sfDir)) ++
      family("secondary")(microSecondary(spark, sfDir)) ++
      family("secondaryDisk")(microSecondaryDisk(spark, sfDir)) ++
      family("topk")(microTopk(spark, sfDir)) ++
      family("scale")(microScale(spark, sfDir)) ++
      family("maintenance")(microMaintenance(spark, sfDir)) ++
      family("skew")(microSkew(spark, sfDir)) ++
      family("zorder")(microZOrder(spark, sfDir)) ++
      family("zorder3")(microZOrder3(spark, sfDir)) ++
      family("zproj")(microZProj(spark, sfDir)) ++
      family("annCatalog")(microAnnCatalog(spark, sfDir)) ++
      family("annBatch")(microAnnBatch(spark, sfDir)) ++
      family("exportManifest")(microExportManifest(spark, sfDir)) ++
      family("catalogDml")(microCatalogDml(spark, sfDir))
  }

  /** BATCH ANN payoff measured: top-5 neighbors for 30 query vectors
    * over a 10x corpus — the naive shape loops the driver (one exact
    * scan per query, N round-trips, the notebook anti-pattern); the
    * batch shape runs ONE [[graft.pipeline.Similarity.ivfTopKJoin]]
    * (corpus assigned once, queries explode into nprobe lists, one
    * equi-join, per-query window). At cluster scale the loop costs
    * N full scans; the join costs one assignment pass plus
    * |Q|·(nprobe/nlist)·|C| pair work. */
  private[graft] def microAnnBatch(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val shift = 10000000L
    val corpus = (0 until 10).map(i =>
      emb.select((col("vec_id") + lit(i * shift)).as("vec_id"),
        col("embedding"))).reduce(_ union _).persist()
    corpus.count()
    val queries = emb.where(col("vec_id") % 101 === 7)
      .limit(30).select(col("vec_id").as("qid"), col("embedding"))
      .persist()
    val qVecs = queries.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val tLoop = timed3("micro_ann_query_loop_30") {
      qVecs.foreach { case (_, q) =>
        graft.pipeline.Similarity.bruteTopK(
          corpus, "vec_id", "embedding", q, 5).collect()
        ()
      }
    }
    val tBatch = timed3("micro_ann_batch_join_30") {
      graft.pipeline.Similarity.ivfTopKJoin(corpus, "vec_id",
        queries, "qid", "embedding", k = 5, nlist = 16, nprobe = 4)
        .collect()
      ()
    }
    gauges("micro_ann_batch_queries") = qVecs.length.toDouble
    corpus.unpersist(false)
    queries.unpersist(false)
    Seq("micro_ann_query_loop_30" -> tLoop,
      "micro_ann_batch_join_30" -> tBatch)
  }

  /** RANK-SPACE N-DIM ZORDER payoff measured: the same 3-D box count
    * over a (user_id, day, hr) N-ary composite handle, hash layout vs
    * the rank-z-clustered rebuild ([[graft.sql.IndexedFrame
    * .CompositeNHandle.zOrderedN]]) with zone maps on all three key
    * columns — the 3-dim twin of micro_zorder_box_*. */
  private[graft] def microZOrder3(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, count => fCount, hour,
      lit => fLit, round => fRound, sum => fSum, to_date, unix_date}
    val agg = graft.queries.Tables.events(spark, sfDir)
      .select(col("user_id"),
        unix_date(to_date(col("ts"))).cast("long").as("day"),
        hour(col("ts")).cast("long").as("hr"), col("value"))
      .groupBy(col("user_id"), col("day"), col("hr"))
      .agg(fCount(fLit(1)).as("n_events"),
        fRound(fSum(col("value")), 2).as("sum_value"))
    val dims = Seq("user_id", "day", "hr")
    val hHash = graft.sql.IndexedFrame.indexCompositeN(
      agg, dims, ordered = false, numPartitions = 16)
    hHash.idx.cached; hHash.idx.count()
    val builds = scala.collection.mutable.ArrayBuffer
      .empty[graft.sql.IndexedFrame.CompositeNHandle]
    val tRewrite = timed3("micro_zorder3_rewrite_once") {
      builds.lastOption.foreach(_.idx.unpersist())
      val h = hHash.zOrderedN(dims).analyzeZones(dims: _*)
      h.idx.cached; h.idx.count()
      builds += h
      ()
    }
    val hZ = builds.last
    def box(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("user_id").between(2, 11) &&
          col("day").between(19728, 19737) && col("hr").between(0, 11))
        .agg(fCount(fLit(1))).collect()
    val tHash = timed3("micro_zorder3_box_hash_20")(
      (0 until 20).foreach(_ => box(hHash.toDF)))
    val tZ = timed3("micro_zorder3_box_z_20")(
      (0 until 20).foreach(_ => box(hZ.toDF)))
    gauges("micro_zorder3_box_parts_all") = 16.0
    gauges("micro_zorder3_box_parts_kept") = hZ.lastZoneKept.toDouble
    hHash.idx.unpersist(); hZ.idx.unpersist()
    Seq("micro_zorder3_box_hash_20" -> tHash,
      "micro_zorder3_box_z_20" -> tZ,
      "micro_zorder3_rewrite_once" -> tRewrite)
  }

  /** DURABLE VECTOR INDEX payoff measured: top-20 cosine over a 50x
    * embeddings corpus — brute force scans every vector per query; the
    * catalog IVF index (CREATE INDEX ... USING IVF, probed through
    * graft_ann) reads only nprobe/nlist of the list partitions. The
    * one-off build cost is reported like every *_once lane; the probe
    * keeps DML-maintained correctness (the 100 TB shape: assign once,
    * probe directories, append deltas). */
  private[graft] def microAnnCatalog(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val path = graft.LaneDirs.path("graft_bench_ann")
    spark.sql("DROP TABLE IF EXISTS bench_ann")
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val shift = 10000000L
    (0 until 50).map(i =>
      emb.select((col("vec_id") + lit(i * shift)).as("vec_id"),
        col("embedding"))).reduce(_ union _)
      .createOrReplaceTempView("bench_ann_src")
    spark.sql(s"""CREATE TABLE bench_ann USING graft
      |OPTIONS (key 'vec_id', partitions '32') LOCATION '$path'
      |AS SELECT * FROM bench_ann_src""".stripMargin)
    val q = emb.where(col("vec_id") === 7).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val tBuild = timed3("micro_ann_ivf_build_once") {
      spark.sql("DROP INDEX IF EXISTS e ON bench_ann")
      spark.sql("CREATE INDEX e ON bench_ann USING IVF (embedding)")
      ()
    }
    graft.sql.GraftBenchBridge.pinDiskOnly(spark, path)
    val tBrute = timed3("micro_ann_brute_5") {
      (0 until 5).foreach { _ =>
        graft.pipeline.Similarity.bruteTopK(
          spark.sql("SELECT vec_id, embedding FROM bench_ann"),
          "vec_id", "embedding", q, 20).collect()
        ()
      }
    }
    val lit20 = q.map(_.toString).mkString("array(", ", ", ")")
    val tProbe = timed3("micro_ann_ivf_probe_5") {
      (0 until 5).foreach { _ =>
        spark.sql(s"SELECT * FROM graft_ann('bench_ann', 'e', $lit20, " +
          "20, 4)").collect()
        ()
      }
    }
    gauges("micro_ann_lists_probed") = 4.0
    gauges("micro_ann_lists_all") = 16.0
    // IVFPQ twin: same corpus, the lists hold m=8 one-byte codes
    // instead of d=64 doubles — the probe scans ~9 bytes/row, then
    // re-ranks a 16·k shortlist exactly against the live primary.
    // The list-bytes gauges show the storage/bandwidth ratio directly.
    val tPqBuild = timed3("micro_ann_ivfpq_build_once") {
      spark.sql("DROP INDEX IF EXISTS epq ON bench_ann")
      spark.sql("CREATE INDEX epq ON bench_ann USING IVFPQ (embedding)")
      ()
    }
    val tPqProbe = timed3("micro_ann_ivfpq_probe_5") {
      (0 until 5).foreach { _ =>
        spark.sql(s"SELECT * FROM graft_ann('bench_ann', 'epq', $lit20, " +
          "20, 4)").collect()
        ()
      }
    }
    // honest approximation accounting: recall@20 of the partial probe
    // (nprobe 4 of 16) against exact brute force, per index kind
    val bruteIds = graft.pipeline.Similarity.bruteTopK(
      spark.sql("SELECT vec_id, embedding FROM bench_ann"),
      "vec_id", "embedding", q, 20).collect().map(_.getLong(0)).toSet
    def recallOf(idx: String): Double = {
      val ids = spark.sql(s"SELECT * FROM graft_ann('bench_ann', " +
        s"'$idx', $lit20, 20, 4)").collect().map(_.getLong(0)).toSet
      ids.intersect(bruteIds).size.toDouble / 20.0
    }
    gauges("micro_ann_ivf_recall_at20_np4") = recallOf("e")
    gauges("micro_ann_ivfpq_recall_at20_np4") = recallOf("epq")
    def listBytes(name: String): Double = {
      val d = new java.io.File(s"$path/_tivf_$name/lists")
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(d).toDouble
    }
    gauges("micro_ann_ivf_list_bytes") = listBytes("e")
    gauges("micro_ann_ivfpq_list_bytes") = listBytes("epq")
    // BATCH PQ retrieval: 30 queries in ONE graft_ann_batch job (each
    // query row computes its own codegen'd ADC LUT over the broadcast
    // codebooks) vs the notebook loop of 30 single probes — the
    // retrieval-pipeline shape; at cluster scale the loop pays 30
    // scheduling round-trips and 30 shortlist re-rank joins
    val qRows = emb.where(col("vec_id") % 101 === 7).limit(30)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    qRows.createOrReplaceTempView("bench_ann_queries")
    val qVecs30 = qRows.collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val tPqLoop = timed3("micro_ann_pq_query_loop_30") {
      qVecs30.foreach { qv =>
        val l = qv.map(_.toString).mkString("array(", ", ", ")")
        spark.sql(s"SELECT * FROM graft_ann('bench_ann', 'epq', $l, " +
          "5, 4)").collect()
        ()
      }
    }
    val tPqBatch = timed3("micro_ann_pq_batch_30") {
      spark.sql("SELECT * FROM graft_ann_batch('bench_ann', 'epq', " +
        "'bench_ann_queries', 'qid', 'qv', 5, 4)").collect()
      ()
    }
    // index-bloat lifecycle: churn forces the probe off its zero-join
    // fast path (dedup window + liveness join over appended entries);
    // OPTIMIZE compacts the lists and re-arms it. The pair of probe
    // timings is the payoff the compaction exists for. The PQ index is
    // done with its micros — drop it so the DML statements and the
    // timed compactions maintain ONE index, not two.
    spark.sql("DROP INDEX epq ON bench_ann")
    (1 to 5).foreach { i =>
      spark.sql(s"DELETE FROM bench_ann WHERE vec_id % 1009 = $i")
      spark.sql("INSERT INTO bench_ann SELECT vec_id + " +
        s"${(100 + i) * shift}, embedding FROM bench_ann_src WHERE vec_id < 40")
    }
    val tChurned = timed3("micro_ann_ivf_probe_churned_5") {
      (0 until 5).foreach { _ =>
        spark.sql(s"SELECT * FROM graft_ann('bench_ann', 'e', $lit20, " +
          "20, 4)").collect()
        ()
      }
    }
    // churned-table BATCH probe: the dedup window is bounded to the
    // batch's distinct probed lists (r18 windowed over the ENTIRE
    // layout whenever any upsert had committed — O(index) per batch);
    // the gauge records how many of the 16 lists the scan touched
    val tBatchChurned = timed3("micro_ann_batch_churned_30") {
      spark.sql("SELECT * FROM graft_ann_batch('bench_ann', 'e', " +
        "'bench_ann_queries', 'qid', 'qv', 5, 4)").collect()
      ()
    }
    // boundedness gauge on a NARROW batch (3 queries, nprobe 2): the
    // 30-query batch legitimately probes every list, so it cannot
    // show that the churned-table scan is bounded by the batch's
    // probed ids — the narrow one can (≤ 6 of 16, window included)
    qRows.limit(3).createOrReplaceTempView("bench_ann_queries_narrow")
    spark.sql("SELECT * FROM graft_ann_batch('bench_ann', 'e', " +
      "'bench_ann_queries_narrow', 'qid', 'qv', 5, 2)").collect()
    gauges("micro_ann_batch_churned_lists_probed") =
      graft.sql.GraftBenchBridge.lastBatchProbedLists.toDouble
    val tCompact = timed3("micro_ann_optimize_compact_once") {
      // advance a version first (3-row upsert): a no-delta OPTIMIZE
      // early-returns, so best-of-3 would otherwise report the no-op,
      // not the compaction
      spark.sql("INSERT INTO bench_ann SELECT vec_id + " +
        s"${999 * shift}, embedding FROM bench_ann_src WHERE vec_id < 3")
      spark.sql("OPTIMIZE bench_ann"); ()
    }
    val tCompacted = timed3("micro_ann_ivf_probe_compacted_5") {
      (0 until 5).foreach { _ =>
        spark.sql(s"SELECT * FROM graft_ann('bench_ann', 'e', $lit20, " +
          "20, 4)").collect()
        ()
      }
    }
    spark.sql("DROP TABLE IF EXISTS bench_ann")
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    Seq("micro_ann_ivf_build_once" -> tBuild,
      "micro_ann_brute_5" -> tBrute,
      "micro_ann_ivf_probe_5" -> tProbe,
      "micro_ann_ivfpq_build_once" -> tPqBuild,
      "micro_ann_ivfpq_probe_5" -> tPqProbe,
      "micro_ann_pq_query_loop_30" -> tPqLoop,
      "micro_ann_pq_batch_30" -> tPqBatch,
      "micro_ann_ivf_probe_churned_5" -> tChurned,
      "micro_ann_batch_churned_30" -> tBatchChurned,
      "micro_ann_optimize_compact_once" -> tCompact,
      "micro_ann_ivf_probe_compacted_5" -> tCompacted)
  }

  /** INCREMENTAL-EXPORT payoff measured: GENERATE MANIFEST's first
    * call writes the full plain-parquet mirror; after a small DML the
    * refresh rewrites ONLY the touched mirror partitions (delta-cost
    * change detection off the delta parquet) — vs plain EXPORT, which
    * rewrites the whole corpus on every call. The
    * partitions-rewritten gauge is the scale story: at 100 TB the
    * refresh cost tracks the DML, not the table. */
  private[graft] def microExportManifest(spark: SparkSession,
      sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val path = graft.LaneDirs.path("bench_manifest_tbl")
    val out = graft.LaneDirs.path("bench_manifest_out")
    val outFull = graft.LaneDirs.path("bench_manifest_outf")
    spark.sql("DROP TABLE IF EXISTS bench_man")
    Seq(path, out, outFull).foreach(p => new scala.reflect.io.Directory(
      new java.io.File(p)).deleteRecursively())
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val shift = 10000000L
    (0 until 3).map(i =>
      emb.select((col("vec_id") + lit(i * shift)).as("vec_id"),
        col("embedding"))).reduce(_ union _)
      .createOrReplaceTempView("bench_man_src")
    spark.sql(s"""CREATE TABLE bench_man USING graft
      |OPTIONS (key 'vec_id', partitions '32') LOCATION '$path'
      |AS SELECT * FROM bench_man_src""".stripMargin)
    // plain EXPORT: O(corpus) rewrite every call, by design
    val tExport = timed3("micro_export_full_once") {
      spark.sql(s"EXPORT TABLE bench_man TO '$outFull'"); ()
    }
    // GENERATE MANIFEST: full mirror once...
    val tManFull = timed3("micro_export_manifest_full_once") {
      new scala.reflect.io.Directory(new java.io.File(out))
        .deleteRecursively()
      spark.sql(s"GENERATE MANIFEST FOR TABLE bench_man TO '$out'"); ()
    }
    // ... then each refresh after a 3-row MERGE rewrites only the
    // touched mirror partitions (the INSERT rides inside the timed
    // body so every run has a fresh delta to answer)
    var lastRewritten = 0
    val tManIncr = timed3("micro_export_manifest_incr_once") {
      spark.sql("INSERT INTO bench_man SELECT vec_id + " +
        s"${999 * shift}, embedding FROM bench_man_src WHERE vec_id < 3")
      lastRewritten = spark.sql(
        s"GENERATE MANIFEST FOR TABLE bench_man TO '$out'")
        .collect().head.getInt(4)
      ()
    }
    gauges("micro_export_manifest_incr_parts") = lastRewritten.toDouble
    gauges("micro_export_manifest_full_parts") = 32.0
    // the pure verb overhead: no change since the last refresh — the
    // incr lane's time is dominated by its in-body 3-row INSERT (a
    // full DML commit); noop isolates what GENERATE itself costs
    val tManNoop = timed3("micro_export_manifest_noop_once") {
      spark.sql(s"GENERATE MANIFEST FOR TABLE bench_man TO '$out'"); ()
    }
    // the AUTO REFRESH tax in numbers: the same 3-row INSERT, plain vs
    // with a registered mirror (the post-commit tail then refreshes the
    // touched mirror partitions synchronously). The delta-cost claim is
    // that the registered statement pays the noop-verb overhead plus a
    // few-partition rewrite — never O(corpus) — so the pair should sit
    // within a small constant of each other at any table size.
    var tag = 0
    val tDmlPlain = timed3("micro_catalog_dml_plain_once") {
      tag += 1
      spark.sql("INSERT INTO bench_man SELECT vec_id + " +
        s"${(700 + tag) * shift}, embedding FROM bench_man_src WHERE vec_id < 3")
      ()
    }
    spark.sql(
      s"GENERATE MANIFEST FOR TABLE bench_man TO '$out' WITH AUTO REFRESH")
    val tDmlAuto = timed3("micro_catalog_dml_automirror_once") {
      tag += 1
      spark.sql("INSERT INTO bench_man SELECT vec_id + " +
        s"${(800 + tag) * shift}, embedding FROM bench_man_src WHERE vec_id < 3")
      ()
    }
    spark.sql("DROP TABLE IF EXISTS bench_man")
    Seq(path, out, outFull).foreach(p => new scala.reflect.io.Directory(
      new java.io.File(p)).deleteRecursively())
    Seq("micro_export_full_once" -> tExport,
      "micro_export_manifest_full_once" -> tManFull,
      "micro_export_manifest_incr_once" -> tManIncr,
      "micro_export_manifest_noop_once" -> tManNoop,
      "micro_catalog_dml_plain_once" -> tDmlPlain,
      "micro_catalog_dml_automirror_once" -> tDmlAuto)
  }

  /** OPTIMIZE ZORDER payoff measured: the same 2-D box count over a
    * (user_id, day) composite handle, on the hash layout (every
    * partition spans the whole plane — a box visits all of them) vs
    * the Morton-clustered layout with zone maps on both key columns
    * (each partition is a tight 2-D box — the zone path keeps only the
    * overlapping ones). The kept-partition counts go to gauges; the
    * one-off z rewrite cost is reported alongside, like
    * micro_sql_optimize_once. */
  private[graft] def microZOrder(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, count => fCount, lit => fLit,
      round => fRound, sum => fSum, to_date, unix_date}
    val agg = graft.queries.Tables.events(spark, sfDir)
      .select(col("user_id"),
        unix_date(to_date(col("ts"))).cast("long").as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(fCount(fLit(1)).as("n_events"),
        fRound(fSum(col("value")), 2).as("sum_value"))
    val hHash = graft.sql.IndexedFrame.indexCompositeN(
      agg, Seq("user_id", "day"), ordered = false, numPartitions = 16)
    hHash.idx.cached; hHash.idx.count()
    // the "once" rewrite repeats 3x like every lane (full diag runs);
    // each run rebuilds the clustered layout, the last stays for the
    // read micros
    val builds = scala.collection.mutable.ArrayBuffer
      .empty[graft.sql.IndexedFrame.CompositeNHandle]
    val tRewrite = timed3("micro_zorder_rewrite_once") {
      builds.lastOption.foreach(_.idx.unpersist())
      val h = hHash.zOrderedN(Seq("user_id", "day")).analyzeZones("user_id", "day")
      h.idx.cached; h.idx.count()
      builds += h
      ()
    }
    val hZ = builds.last
    def box(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("user_id").between(2, 11) &&
          col("day").between(19728, 19737))
        .agg(fCount(fLit(1))).collect()
    val tHash = timed3("micro_zorder_box_hash_20")(
      (0 until 20).foreach(_ => box(hHash.toDF)))
    val tZ = timed3("micro_zorder_box_z_20")(
      (0 until 20).foreach(_ => box(hZ.toDF)))
    gauges("micro_zorder_box_parts_all") = 16.0
    gauges("micro_zorder_box_parts_kept") = hZ.lastZoneKept.toDouble
    hHash.idx.unpersist(); hZ.idx.unpersist()
    Seq("micro_zorder_box_hash_20" -> tHash,
      "micro_zorder_box_z_20" -> tZ,
      "micro_zorder_rewrite_once" -> tRewrite)
  }

  /** VALUE-COLUMN ZORDER (sort projection) measured in the 100 TB
    * shape: the same 2-D box over non-key columns of a single-key
    * catalog table at 10x corpus rows — on the COLD (DISK_ONLY)
    * key-hash primary, where value columns are uncorrelated with the
    * key layout so zones cannot prune and every partition
    * re-deserializes per query, vs the z-order SORT PROJECTION, which
    * reads only the parquet cells whose Morton rank-box intersects
    * the query box; then the STALE-projection overlay serve right
    * after a DML statement (anti join + delta union — still pruned).
    * An in-memory primary at bench SF would measure nothing: codegen
    * scans the corpus in milliseconds, so cold storage is where the
    * pruning asymmetry is visible (the same reasoning as every *_disk
    * micro). Cells kept go to gauges. */
  private[graft] def microZProj(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val path = graft.LaneDirs.path("graft_bench_zproj")
    spark.sql("DROP TABLE IF EXISTS bench_zproj")
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val shift = 10000000L
    (0 until 10).map(i =>
      base.select((col("o_orderkey") + lit(i * shift)).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))).reduce(_ union _)
      .createOrReplaceTempView("bench_zproj_src")
    spark.sql(s"""CREATE TABLE bench_zproj USING graft
      |OPTIONS (key 'o_orderkey', partitions '64') LOCATION '$path'
      |AS SELECT * FROM bench_zproj_src""".stripMargin)
    graft.sql.GraftBenchBridge.pinDiskOnly(spark, path)
    def box() = spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM bench_zproj
        |WHERE o_custkey BETWEEN 100 AND 400
        |AND o_totalprice BETWEEN 50000 AND 100000""".stripMargin).collect()
    val tPrimary = timed3("micro_zproj_box_cold_primary_20")(
      (0 until 20).foreach(_ => box()))
    spark.sql("OPTIMIZE bench_zproj ZORDER BY (o_custkey, o_totalprice)")
    val tProj = timed3("micro_zproj_box_proj_20")(
      (0 until 20).foreach(_ => box()))
    val (kind, kept) = graft.sql.GraftBenchBridge.h1ScanInfo(spark, path)
    gauges("micro_zproj_box_kind_is_zproj") =
      if (kind == "full_zproj") 1.0 else 0.0
    gauges("micro_zproj_box_cells_kept") = kept.toDouble
    gauges("micro_zproj_box_cells_all") = 256.0
    // one delta, then the overlay-served boxed scan
    spark.sql(
      "UPDATE bench_zproj SET o_totalprice = o_totalprice + 1 WHERE o_orderkey <= 500")
    val tOverlay = timed3("micro_zproj_box_overlay_20")(
      (0 until 20).foreach(_ => box()))
    gauges("micro_zproj_overlay_kind_is_zproj") =
      if (graft.sql.GraftBenchBridge.h1ScanInfo(spark, path)._1 == "full_zproj")
        1.0 else 0.0
    // AUTO-REBUILD under steady DML: with the background policy active
    // (threshold 8 versions) a 30-statement stream must leave the
    // overlay depth BOUNDED — the worker re-materializes the
    // projection with zero OPTIMIZE calls — and the boxed scan returns
    // to ~proj time. The depth gauge is the policy's proof.
    val oldThresh = graft.sql.GraftBenchBridge.setZprojRebuildAfter(8)
    (1 to 30).foreach(i => spark.sql(
      s"UPDATE bench_zproj SET o_totalprice = o_totalprice + 1 " +
        s"WHERE o_orderkey = ${600 + i}"))
    graft.sql.GraftBenchBridge.awaitFolds()
    graft.sql.GraftBenchBridge.setZprojRebuildAfter(oldThresh)
    val depth = graft.sql.GraftBenchBridge.currentVersion(spark, path) -
      graft.sql.GraftBenchBridge.zprojVersion(spark, path).getOrElse(0L)
    gauges("micro_zproj_overlay_depth_after_stream") = depth.toDouble
    val tRebuilt = timed3("micro_zproj_box_rebuilt_20")(
      (0 until 20).foreach(_ => box()))
    gauges("micro_zproj_rebuilt_kind_is_zproj") =
      if (graft.sql.GraftBenchBridge.h1ScanInfo(spark, path)._1 == "full_zproj")
        1.0 else 0.0
    spark.sql("DROP TABLE IF EXISTS bench_zproj")
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    Seq("micro_zproj_box_cold_primary_20" -> tPrimary,
      "micro_zproj_box_proj_20" -> tProj,
      "micro_zproj_box_overlay_20" -> tOverlay,
      "micro_zproj_box_rebuilt_20" -> tRebuilt)
  }

  /** INCREMENTAL INDEX MAINTENANCE measured: the same fixed-size
    * UPDATE against a SECONDARY-INDEXED durable catalog table at 1x
    * and 10x corpus rows. DML maintenance applies the statement's own
    * change sets to the previous snapshot's postings (one-sided
    * shuffles of the delta — [[graft.sql.IndexedFrame]]'s
    * maintainSecondariesFrom), so statement latency must stay ~FLAT
    * while the corpus grows 10x; the pre-r14 shape (full
    * reapplyIndexes rebuild per statement) grew linearly and turned a
    * delta-cost MERGE into an O(corpus) statement on any indexed
    * 100 TB table. Timed: the whole statement, delta write included. */
  private[graft] def microCatalogDml(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val shift = 10000000L // beyond any fixture key; copies stay disjoint
    def lane(tag: String, mult: Int): (String, Double) = {
      val df = (0 until mult).map(i =>
        base.select((col("o_orderkey") + lit(i * shift)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))).reduce(_ union _)
      val path = graft.LaneDirs.path(s"graft_bench_dml_$tag")
      spark.sql(s"DROP TABLE IF EXISTS bench_dml_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      df.createOrReplaceTempView(s"bench_dml_src_$tag")
      spark.sql(s"""CREATE TABLE bench_dml_$tag USING graft
        |OPTIONS (key 'o_orderkey') LOCATION '$path'
        |AS SELECT * FROM bench_dml_src_$tag""".stripMargin)
      spark.sql(s"CREATE INDEX cust_ix_$tag ON bench_dml_$tag (o_custkey)")
      // fixed 2000-key delta regardless of corpus size — the honest
      // "does statement cost scale with the delta or the corpus" probe
      val t = timed3(s"micro_catalog_dml_idx_${tag}")(spark.sql(
        s"""UPDATE bench_dml_$tag SET o_totalprice = o_totalprice + 1
           |WHERE o_orderkey <= 2000""".stripMargin).collect())
      spark.sql(s"DROP TABLE IF EXISTS bench_dml_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      (s"micro_catalog_dml_idx_${tag}", t)
    }
    Seq(lane("1x", 1), lane("10x", 10)) ++ microCatalogReopen(spark, sfDir)
  }

  /** BATCHED REPLAY measured: a reopened session rebuilding a
    * 30-statement table pays ~3 delta-sized shuffles (one merged
    * last-op-per-key application), not 60 — the cost that used to make
    * "reopen after a week of DML" scale with statement count. The
    * timed body is a FRESH session's first aggregate over the table
    * (base load + replay + read). */
  private[graft] def microCatalogReopen(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    def reopenLane(tag: String, statements: Int): Seq[(String, Double)] = {
      val path = graft.LaneDirs.path(s"graft_bench_reopen_$tag")
      spark.sql(s"DROP TABLE IF EXISTS bench_reopen_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal"))
        .createOrReplaceTempView(s"bench_reopen_src_$tag")
      spark.sql(s"""CREATE TABLE bench_reopen_$tag USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM bench_reopen_src_$tag""".stripMargin)
      (1 to statements).foreach(i => spark.sql(
        s"""UPDATE bench_reopen_$tag SET c_acctbal = c_acctbal + 1
           |WHERE c_custkey % $statements = ${i % statements}""".stripMargin))
      // the timed reopen measures the FOLDED log — drain the async
      // fold worker so the cover is complete before timing
      graft.sql.GraftBenchBridge.awaitFolds()
      def reopen(name: String): Double = timed3(name) {
        val fresh = spark.newSession()
        fresh.sql(s"SELECT sum(c_acctbal) FROM bench_reopen_$tag").collect()
        ()
      }
      val t = reopen(s"micro_catalog_reopen_$tag")
      // the reopen-metadata-cost gauges (the checkpoint-manifest
      // claim in numbers): per-version meta reads paid by the LAST
      // timed reopen, and whether the manifest served it (1/0)
      gauges(s"micro_catalog_reopen_${tag}_meta_reads") =
        graft.sql.GraftBenchBridge.coverMetaReads.toDouble
      gauges(s"micro_catalog_reopen_${tag}_manifest") =
        if (graft.sql.GraftBenchBridge.coverUsedManifest) 1.0 else 0.0
      // retention proof: with fold-covered versions pruned the blob
      // must stay ~flat across 30 -> 200 -> 1000 commits
      gauges(s"micro_catalog_reopen_${tag}_manifest_bytes") =
        graft.sql.GraftBenchBridge.manifestBytes(spark, path).toDouble
      // the A/B twin for the 200-statement log: strip the fold
      // sidecars AND the manifest (replay falls back to the listing
      // walk over every raw delta — exactly the pre-fold engine) and
      // pay the same cold reopen again
      val tNoFold = if (tag != "200") -1.0 else {
        new java.io.File(path).listFiles().toSeq
          .filter(f => f.getName.startsWith("_tfold_") ||
            f.getName == "_tmanifest")
          .foreach { f =>
            if (f.isDirectory)
              new scala.reflect.io.Directory(f).deleteRecursively()
            else f.delete()
            ()
          }
        reopen(s"micro_catalog_reopen_${tag}_nofold")
      }
      spark.sql(s"DROP TABLE IF EXISTS bench_reopen_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Seq(s"micro_catalog_reopen_$tag" -> t) ++
        (if (tNoFold >= 0) Seq(s"micro_catalog_reopen_${tag}_nofold" -> tNoFold)
         else Nil)
    }
    // a 1000-COMMIT log, built through the raw commit path (1000 SQL
    // statements would dominate the sweep): the checkpoint-manifest +
    // tiered-folding claim is that reopen cost and metadata reads stay
    // ~FLAT from 200 to 1000 commits — O(K log_K n) segment reads off
    // ONE manifest read, zero directory listings
    def reopenLane1000(): Seq[(String, Double)] = {
      import org.apache.spark.sql.functions.{col, lit}
      val tag = "1000"
      val path = graft.LaneDirs.path(s"graft_bench_reopen_$tag")
      spark.sql(s"DROP TABLE IF EXISTS bench_reopen_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal"))
        .createOrReplaceTempView(s"bench_reopen_src_$tag")
      spark.sql(s"""CREATE TABLE bench_reopen_$tag USING graft
        |OPTIONS (key 'c_custkey') LOCATION '$path'
        |AS SELECT * FROM bench_reopen_src_$tag""".stripMargin)
      (1 to 1000).foreach { i =>
        graft.sql.GraftBenchBridge.commitUpsert(spark, path,
          spark.range((i % 500) * 2L + 1L, (i % 500) * 2L + 3L)
            .select(col("id").as("c_custkey"),
              lit(i * 1.0).as("c_acctbal")))
      }
      graft.sql.GraftBenchBridge.awaitFolds()
      val t = timed3(s"micro_catalog_reopen_$tag") {
        val fresh = spark.newSession()
        fresh.sql(s"SELECT sum(c_acctbal) FROM bench_reopen_$tag").collect()
        ()
      }
      gauges(s"micro_catalog_reopen_${tag}_meta_reads") =
        graft.sql.GraftBenchBridge.coverMetaReads.toDouble
      gauges(s"micro_catalog_reopen_${tag}_manifest") =
        if (graft.sql.GraftBenchBridge.coverUsedManifest) 1.0 else 0.0
      // retention proof: with fold-covered versions pruned the blob
      // must stay ~flat across 30 -> 200 -> 1000 commits
      gauges(s"micro_catalog_reopen_${tag}_manifest_bytes") =
        graft.sql.GraftBenchBridge.manifestBytes(spark, path).toDouble
      spark.sql(s"DROP TABLE IF EXISTS bench_reopen_$tag")
      new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      Seq(s"micro_catalog_reopen_$tag" -> t)
    }
    // the AUTO-BOUNDED-REOPEN claim in numbers: tiered delta folding
    // (every 10 commits, zero user OPTIMIZE calls) covers the
    // 200-statement log with ~2 tier-2 folds, so its reopen must stay
    // ~FLAT vs the 30-statement one instead of paying 6.7x the delta
    // scan — the "reopen after a week of DML" cost at 100 TB; the
    // `_nofold` twin reopens the SAME table with the sidecars stripped
    // (the pre-fold engine) so the win is one A/B inside one sweep
    reopenLane("30", 30) ++ reopenLane("200", 200) ++ reopenLane1000()
  }

  /** SKEW GUARD measured: the same 200k-row probe batch through the
    * lookup join, once with UNIFORM keys (200k distinct) and once
    * ZIPF-shaped (every probe hits one of 20 hot keys — the worst
    * case: all duplicates land in a handful of owning partitions).
    * The bounded per-task probe memo makes each duplicate beyond the
    * first cost a hash lookup instead of an O(depth) descent, so the
    * hot tasks stay emit-bound and the zipfian batch must land within
    * ~1.5x of the uniform one (historically it was the straggler
    * shape). */
  private[graft] def microSkew(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.col
    graft.sql.IndexedJoin.enable(spark)
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val h = graft.sql.IndexedFrame.index(base, "o_orderkey", numPartitions = 32)
    h.idx.cached; h.idx.count()
    val hd = h.toDF
    val n = 200000L
    import spark.implicits._
    // both probe sets materialize OUTSIDE the timed body — the micro
    // measures the join, not probe generation
    val uniform = spark.range(0, n)
      .select((($"id" * 2971L) % 1400000L + 1L).as("k")).cache()
    val zipf = spark.range(0, n)
      .select((($"id" % 20L) * 131L + 1L).as("k")).cache()
    uniform.count(); zipf.count()
    val tUniform = timed3("micro_skew_lookupjoin_uniform")(
      hd.join(uniform, hd("o_orderkey") === uniform("k")).write
        .format("noop").mode("overwrite").save())
    val tZipf = timed3("micro_skew_lookupjoin_zipf")(
      hd.join(zipf, hd("o_orderkey") === zipf("k")).write
        .format("noop").mode("overwrite").save())
    uniform.unpersist(); zipf.unpersist(); h.idx.unpersist()
    Seq("micro_skew_lookupjoin_uniform" -> tUniform,
      "micro_skew_lookupjoin_zipf" -> tZipf)
  }

  /** OPTIMIZE payoff measured: reads of a 150-statement copy-on-write
    * DML chain before vs after compaction. The chain is NARROW (each
    * statement zips against the previous snapshot — no shuffle
    * boundary), so the un-compacted tax is the per-task iterator
    * layering: every read walks 150 stacked copy-on-write merge
    * layers per partition, and the tax grows with every further
    * statement (the streaming-CDC accumulation shape). `compacted`
    * rebuilds the partitions and checkpoint-cuts the lineage, so the
    * same read touches one materialized snapshot. The one-off
    * compaction cost is reported alongside — the break-even is
    * (opt cost / per-read saving) reads — and the lineage depths
    * before/after (plan-replay stages a cold read pays) are emitted
    * as *_depth pseudo-lanes so the compaction's effect is visible in
    * the JSON, not just argued. */
  private[graft] def microMaintenance(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, lit, sum => fSum}
    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    // 8 partitions, not 32: the compacted read is the micro's floor,
    // and at this SF a 32-way agg measures task launches, not the
    // chain-replay asymmetry the micro exists to show
    var h = graft.sql.IndexedFrame.index(custDF, "c_custkey", numPartitions = 8)
    h.idx.cached; h.idx.count()
    // the same 20%-of-keys correction batch applied 150 times — the
    // bulk-backfill shape; the delta frame is cached so every
    // statement pays only its own zip, as the SQL-text path does
    val delta = custDF.filter(col("c_custkey") % 5 === 2)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1.0)).cache()
    delta.count()
    (0 until 150).foreach(_ => h = h.upsertFrame(delta))
    val depthRaw = h.idx.lineageDepth.toDouble
    // sum a VALUE column: the index stats services answer key-column
    // aggregates from memoized descents (zero jobs on repeat — which
    // is what this micro measured by accident in r13's first run), so
    // only a value read honestly streams every row through the chain
    val read = (hh: graft.sql.IndexedFrame.Handle[Long]) =>
      hh.toDF.agg(fSum(col("c_acctbal"))).collect()
    val tRaw = timed3("micro_sql_chain_read_raw_10")((0 until 10).foreach(_ => read(h)))
    // the "once" compaction also runs 3x for a real diag — each run
    // recompacts the same 150-layer chain; the last result stays for
    // the read micro
    val compacts = scala.collection.mutable.ArrayBuffer
      .empty[graft.sql.IndexedFrame.Handle[Long]]
    val tOptimize = timed3("micro_sql_optimize_once") {
      compacts.lastOption.foreach(_.idx.unpersist())
      val c = h.compacted
      c.idx.count()
      compacts += c
      ()
    }
    val hc = compacts.last
    val tOpt = timed3("micro_sql_chain_read_opt_10")((0 until 10).foreach(_ => read(hc)))
    val depthOpt = hc.idx.lineageDepth.toDouble
    h.idx.unpersist(); hc.idx.unpersist(); delta.unpersist()
    // the depths are LINEAGE STAGE COUNTS, not seconds — they go to the
    // non-summed gauges field so the "total" stays a wall-time sum
    gauges("micro_sql_chain_depth_raw") = depthRaw
    gauges("micro_sql_chain_depth_opt") = depthOpt
    Seq("micro_sql_chain_read_raw_10" -> tRaw,
      "micro_sql_chain_read_opt_10" -> tOpt,
      "micro_sql_optimize_once" -> tOptimize)
  }

  /** SCALE VALIDATION: the same point-read and top-k micros at 1x and
    * 10x rows, converting the "index lanes stay flat while scans grow
    * with the corpus" design argument into a measurement — in the
    * 100 TB-honest shape. At a real cluster scale the corpus is COLD
    * and per-partition size is held constant while the PARTITION COUNT
    * grows with the data (32 at 1x → 320 at 10x here), so both
    * corpora persist DISK_ONLY: every scan-twin query re-deserializes
    * EVERY partition (O(corpus), grows 10x), while the indexed query
    * touches only the probe-owning / prefix-covering partitions —
    * whose individual size did not change — and stays flat. (An
    * in-memory variant at this SF is scheduling-bound on 32 cores:
    * codegen scans 1.5M cached rows in single-digit ms, so both twins
    * measure the same task-launch floor and the comparison says
    * nothing; disk is where the asymptotics are visible at benchable
    * size.) The 10x corpus derives from the driver's own orders
    * fixture — 10 disjoint key-shifted copies, no synthetic
    * distribution. Probe keys are CLUSTERED (consecutive — the
    * "today's delta" shape), so the range-partitioned index reads 1-2
    * partitions per query at either scale. */
  private[graft] def microScale(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, lit}
    graft.sql.IndexedTopK.enable(spark)
    val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val shift = 10000000L // beyond any fixture key; copies stay disjoint
    val big = (0 until 10).map(i =>
      base.select((col("o_orderkey") + lit(i * shift)).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))).reduce(_ union _)
    def lanes(tag: String, df: org.apache.spark.sql.DataFrame,
        parts: Int, reps: Int = 10, lkReps: Int = 5): Seq[(String, Double)] = {
      val h = graft.sql.IndexedFrame.indexRangePartitioned(df, "o_orderkey", parts)
      h.idx.unpersist(); h.idx.persist(disk); h.idx.count()
      val cold = df.repartition(parts).persist(disk)
      cold.count()
      val hd = h.toDF
      // 50 consecutive keys per query, base varying per q — clustered
      // probes land in 1-2 range partitions
      def keys(q: Int) = {
        val base0 = (q * 2971L) % 140000L + 1L
        (0 until 50).map(base0 + _)
      }
      val tPointIdx = timed3(s"micro_scale${tag}_pointget_idx_$reps")((0 until reps).foreach { q =>
        hd.filter(col("o_orderkey").isin(keys(q).map(Long.box): _*)).collect()
      })
      val tPointScan = timed3(s"micro_scale${tag}_pointget_scan_$reps")((0 until reps).foreach { q =>
        cold.filter(col("o_orderkey").isin(keys(q).map(Long.box): _*)).collect()
      })
      val tTopkIdx = timed3(s"micro_scale${tag}_topk_idx_$reps")((0 until reps).foreach { _ =>
        hd.orderBy(col("o_orderkey")).limit(100).collect()
      })
      val tTopkScan = timed3(s"micro_scale${tag}_topk_scan_$reps")((0 until reps).foreach { _ =>
        cold.orderBy(col("o_orderkey")).limit(100).collect()
      })
      // lookup join at scale: 200 clustered probe keys per query — the
      // probe shuffles ONCE to the index partitioning and each key is
      // an O(depth) point fetch from the probe-owning cold partitions
      // (flat across corpus scale); the scan twin broadcasts the probe
      // and re-deserializes the WHOLE cold corpus per query (grows
      // with the data)
      graft.sql.IndexedJoin.enable(spark)
      def probeDF(q: Int) = {
        val b = (q * 3313L) % 140000L + 1L
        spark.range(b, b + 200).select(col("id").as("k"))
      }
      // joins prebuilt OUTSIDE the timed body: the micro measures the
      // per-query EXECUTION asymmetry (probe-owning partitions vs the
      // whole corpus), not Catalyst's fixed per-join planning cost,
      // which would otherwise swamp the scale-1 scan and flatten the
      // growth curve
      val idxJoins = (0 until lkReps).map { q =>
        val p = probeDF(q); hd.join(p, hd("o_orderkey") === p("k"))
      }
      val scanJoins = (0 until lkReps).map { q =>
        val p = probeDF(q); cold.join(p, cold("o_orderkey") === p("k"))
      }
      val tLkIdx = timed3(s"micro_scale${tag}_lookupjoin_idx_$lkReps")(idxJoins.foreach(_.collect()))
      val tLkScan = timed3(s"micro_scale${tag}_lookupjoin_scan_$lkReps")(scanJoins.foreach(_.collect()))
      // secondary filtered agg at scale: WHERE o_custkey = v +
      // sum(o_totalprice) — the grouped filtered-agg memo pays ONE
      // fold pass per snapshot, then every probe answers driver-side
      // (flat; the warm-dashboard shape); the scan twin scans the
      // whole cold corpus per query
      graft.sql.IndexedAgg.enable(spark)
      h.addSecondaryIndex("o_custkey")
      import org.apache.spark.sql.functions.{sum => fSum}
      // built fresh per query (NOT prebuilt like the joins): an
      // aggregate re-collected from the same Dataset instance would
      // reuse its materialized AQE shuffle stage and stop scanning —
      // the scan twin must honestly re-scan per query
      def custVal(q: Int): Long = (q * 37L) % 1000L + 1L
      // the COLD first probe, NAMED (r20 driver artifact: budget-mode
      // single-run recorded the 60s cold fold for a lane whose
      // committed best-of-N said 0.02s — cold and warm were conflated).
      // Deliberately SINGLE-run: the memo makes any second run warm,
      // so best-of-N would just re-record the warm number. With the
      // cold fold paid here, the _idx_ lane below measures the warm
      // memo by construction at ANY rep count. Break-even note: at the
      // 100x tier the cold fold (one pass over the DISK_ONLY primary's
      // serialized tries) costs ~2x its scan twin's single query — the
      // memo pays off from the second probe per snapshot onward.
      import org.apache.spark.sql.functions.{sum => fSum2}
      val coldName = s"micro_scale${tag}_secondary_cold_1"
      val gcC = gcMillis()
      val tC0 = System.nanoTime()
      hd.filter(col("o_custkey") === custVal(0))
        .agg(fSum2(col("o_totalprice"))).collect()
      val tSecCold = (System.nanoTime() - tC0) / 1e9
      diag(coldName) = (Seq(tSecCold), gcMillis() - gcC)
      val tSecIdx = timed3(s"micro_scale${tag}_secondary_idx_$reps")((0 until reps).foreach { q =>
        hd.filter(col("o_custkey") === custVal(q))
          .agg(fSum(col("o_totalprice"))).collect()
      })
      val tSecScan = timed3(s"micro_scale${tag}_secondary_scan_$reps")((0 until reps).foreach { q =>
        cold.filter(col("o_custkey") === custVal(q))
          .agg(fSum(col("o_totalprice"))).collect()
      })
      cold.unpersist(); h.idx.unpersist()
      // the per-scale secondary inverted index (and any stragglers)
      // must not survive into the next scale's timings
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Seq(s"micro_scale${tag}_pointget_idx_$reps" -> tPointIdx,
        s"micro_scale${tag}_pointget_scan_$reps" -> tPointScan,
        s"micro_scale${tag}_topk_idx_$reps" -> tTopkIdx,
        s"micro_scale${tag}_topk_scan_$reps" -> tTopkScan,
        s"micro_scale${tag}_lookupjoin_idx_$lkReps" -> tLkIdx,
        s"micro_scale${tag}_lookupjoin_scan_$lkReps" -> tLkScan,
        coldName -> tSecCold,
        s"micro_scale${tag}_secondary_idx_$reps" -> tSecIdx,
        s"micro_scale${tag}_secondary_scan_$reps" -> tSecScan)
    }
    // the 100x tier proves the flat-idx curves hold ANOTHER decade:
    // 100 disjoint key-shifted copies of the fixture, DISK_ONLY, with
    // rep counts trimmed (3 point/topk/secondary queries, 2 joins) so
    // the O(corpus) scan twins do not dominate the whole sweep; the
    // per-partition row count grows ~2.4x from the 10x tier (1280
    // partitions, not 3200 — at local[32], 3200-task scans would
    // measure scheduling, not data)
    val huge = (0 until 100).map(i =>
      base.select((col("o_orderkey") + lit(i * shift)).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))).reduce(_ union _)
    lanes("1", base, 32) ++ lanes("10", big, 320) ++
      lanes("100", huge, 1280, reps = 3, lkReps = 2)
  }

  /** Point reads, updates, joins, range pruning (memory + DISK_ONLY). */
  private def microCore(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    val cust = custDF.select($"c_custkey", $"c_acctbal").as[(Long, Double)].rdd
    val idx = IndexedRDD(cust).cached
    idx.count() // build + pin before timing
    val nCust = custDF.count()
    val keyBatches = (0 until 10).map(b =>
      Array.tabulate(100)(i => ((b * 131L + i * 7L) % nCust) + 1L))
    val tMultiget = timed3("micro_multiget_10x100")(
      keyBatches.foreach(ks => idx.multiget(ks)))
    val tScan = timed3("micro_isin_scan_10x100")(keyBatches.foreach { ks =>
      custDF.filter($"c_custkey".isin(ks.map(Long.box): _*)).collect()
    })

    // multiput throughput vs full index rebuild (BASELINE.md); both
    // rebuild fresh copies per run, so the 3 diag runs are honest
    val updates = spark.sparkContext.parallelize(
      (1L to 2000L).map(k => (k * 3, k.toDouble)), 8)
    val tMultiput = timed3("micro_multiput_2k")(
      idx.multiputRDD(updates).count())
    val tRebuild = timed3("micro_rebuild")(
      IndexedRDD(cust.union(updates)).count()) // rebuild from scratch

    // co-partitioned indexed innerJoin vs Catalyst join at the same keys
    val ordersDF = spark.read.parquet(s"$sfDir/orders.parquet")
    val totals = idx.aggregateUsingIndex(
      ordersDF.select($"o_custkey", $"o_totalprice").as[(Long, Double)].rdd, (a: Double, b: Double) => a + b)
      .cached
    totals.count()
    val tIdxJoin = timed3("micro_idx_innerjoin")(
      idx.innerJoin(totals)((_, a, b) => a + b).count())
    val custBal = custDF.select($"c_custkey", $"c_acctbal")
    val agg = ordersDF.groupBy($"o_custkey").agg(org.apache.spark.sql.functions.sum($"o_totalprice").as("t"))
    val tSqlJoin = timed3("micro_sql_join")(
      custBal.join(agg, $"c_custkey" === $"o_custkey").count())

    // range scans: range-partitioned layout prunes to the overlapping
    // partitions; the hash layout must visit every partition. Both are
    // built at 32 partitions so the comparison isolates layout, not
    // parallelism.
    val hashIdx = IndexedRDD.build(cust, 32).cached
    hashIdx.count()
    val ranged = IndexedRDD.rangePartitioned(cust, 32).cached
    ranged.count()
    val tRangePruned = timed3("micro_range_pruned_10")(
      (0 until 10).foreach(i => ranged.range(i * 100L, i * 100L + 200L).count()))
    val tRangeHash = timed3("micro_range_allparts_10")(
      (0 until 10).foreach(i => hashIdx.range(i * 100L, i * 100L + 200L).count()))
    ranged.unpersist()
    hashIdx.unpersist()

    totals.unpersist()
    idx.unpersist()

    // spill story: point reads from a DISK_ONLY index — partition
    // pruning means only the owning partitions deserialize from disk
    val diskIdx = IndexedRDD.build(cust, 32)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    diskIdx.count()
    val tMultigetDisk = timed3("micro_multiget_disk_10x100")(
      keyBatches.foreach(ks => diskIdx.multiget(ks)))
    diskIdx.unpersist()

    // range scans where pruning BITES: on memory-resident partitions a
    // non-overlapping partition costs only a task launch, so the
    // in-memory micro above mostly measures scheduling. On DISK_ONLY
    // (the cold-partition shape of a 100 TB table) every visited
    // partition DESERIALIZES — the range-partitioned layout reads the
    // 1-2 overlapping partitions, the hash layout re-reads all 32 per
    // query. Built on orders (10x customer) so the partitions carry
    // real weight.
    val ords = ordersDF.select($"o_orderkey", $"o_totalprice").as[(Long, Double)].rdd
    val rangedDisk = IndexedRDD.rangePartitioned(ords, 32)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    rangedDisk.count()
    val hashDiskIdx = IndexedRDD.build(ords, 32)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    hashDiskIdx.count()
    val tRangePrunedDisk = timed3("micro_range_pruned_disk_10")(
      (0 until 10).foreach(i =>
        rangedDisk.range(i * 1000L, i * 1000L + 2000L).count()))
    val tRangeHashDisk = timed3("micro_range_allparts_disk_10")(
      (0 until 10).foreach(i =>
        hashDiskIdx.range(i * 1000L, i * 1000L + 2000L).count()))
    rangedDisk.unpersist()
    hashDiskIdx.unpersist()

    Seq("micro_multiget_10x100" -> tMultiget, "micro_isin_scan_10x100" -> tScan,
      "micro_multiput_2k" -> tMultiput, "micro_rebuild" -> tRebuild,
      "micro_idx_innerjoin" -> tIdxJoin, "micro_sql_join" -> tSqlJoin,
      "micro_range_pruned_10" -> tRangePruned, "micro_range_allparts_10" -> tRangeHash,
      "micro_multiget_disk_10x100" -> tMultigetDisk,
      "micro_range_pruned_disk_10" -> tRangePrunedDisk,
      "micro_range_allparts_disk_10" -> tRangeHashDisk)
  }

  /** SQL range pushdown: BETWEEN on a range-partitioned handle prunes
    * partitions; the hash-layout ordered handle visits all of them. */
  private def microSqlRange(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    val hRp = graft.sql.IndexedFrame.indexRangePartitioned(custDF, "c_custkey", 32)
    hRp.toDF.count()
    val hHash = graft.sql.IndexedFrame.index(custDF, "c_custkey",
      ordered = true, numPartitions = 32)
    hHash.toDF.count()
    import org.apache.spark.sql.functions.col
    // select+collect, NOT count: a bare count over a pushed interval
    // now short-circuits into the no-value range-count pushdown, and
    // this micro exists to time the row-fetching range SCAN
    val tSqlRangeRp = timed3("micro_sql_range_rangepart_10")(
      (0 until 10).foreach(i => hRp.toDF.filter(
        col("c_custkey").between(i * 100L, i * 100L + 200L))
        .select(col("c_acctbal")).collect()))
    val tSqlRangeHash = timed3("micro_sql_range_hashpart_10")(
      (0 until 10).foreach(i => hHash.toDF.filter(
        col("c_custkey").between(i * 100L, i * 100L + 200L))
        .select(col("c_acctbal")).collect()))
    hRp.idx.unpersist()
    hHash.idx.unpersist()
    Seq("micro_sql_range_rangepart_10" -> tSqlRangeRp,
      "micro_sql_range_hashpart_10" -> tSqlRangeHash)
  }

  /** Adaptive rep count, the sweep-budget lever (r19's full-fat
    * best-of-3 overran the driver's window): given the FIRST run's
    * seconds, decide how many total runs the lane gets.
    *  - sub-second lanes (< 1s): best-of-2 — historically stable, and
    *    a GC burst inflating run 1 still gets its second chance;
    *  - heavy lanes (> 5s): best-of-2 — their time is real work, not
    *    burst noise, and a third rep of a 28s scan twin buys nothing
    *    but wall clock;
    *  - the 1-5s band keeps best-of-3: that is where one-off GC/cache
    *    bursts historically masqueraded as regressions (r7/r10);
    *  - past the budget: stop at the first run — partial beats a
    *    killed sweep.
    * Every run lands in the diag either way, so a stall stays
    * attributable. */
  private def adaptiveRuns(first: Double)(rerun: => Double): Seq[Double] = {
    val more =
      if (overBudget) 0
      else if (first < 1.0 || first > 5.0) 1
      else 2
    first +: (0 until more).map(_ => rerun)
  }

  /** Best-of-N (N adaptive, see [[adaptiveRuns]]) with the per-run
    * seconds AND the lane's GC-time delta recorded in bench_diag.json —
    * EVERY micro lane times through this (r16's diag had 84 single-run
    * gc_ms:-1 lanes, exactly where the round's flatness claims lived),
    * so a one-off GC/scheduler stall in the sweep is attributable
    * instead of reading as a regression. Flatness comparisons quote
    * per-lane minima. */
  private def timed3(name: String)(body: => Unit): Double = {
    val gc0 = gcMillis()
    def oneRun(): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val runs = adaptiveRuns(oneRun())(oneRun())
    diag(name) = (runs, gcMillis() - gc0)
    runs.min
  }

  /** No-scan SQL stats vs the equivalent cached-relation aggregate:
    * count/min/max answered from index metadata vs a full pass over the
    * cached rows (both repeated 100x — metadata-latency micros). */
  private def microStats(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.col
    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    val hStats = graft.sql.IndexedFrame.index(custDF, "c_custkey", ordered = true)
    graft.sql.IndexedAgg.enable(spark)
    hStats.toDF.count() // build + warm
    val cachedCust = custDF.cache()
    cachedCust.count()
    import org.apache.spark.sql.functions.{count => fCount, lit => fLit, min => fMin, max => fMax}
    val tStatsIdx = timed3("micro_sql_stats_idx_100")((0 until 100).foreach { _ =>
      hStats.toDF.agg(fCount(fLit(1)), fMin(col("c_custkey")), fMax(col("c_custkey"))).collect()
    })
    val tStatsScan = timed3("micro_sql_stats_scan_100")((0 until 100).foreach { _ =>
      cachedCust.agg(fCount(fLit(1)), fMin(col("c_custkey")), fMax(col("c_custkey"))).collect()
    })
    // count(*) under a pushed key interval: pruned radix descents
    // (values never read) vs the cached scan's filter + aggregate
    val tCntRangeIdx = timed3("micro_sql_count_range_idx_100")((0 until 100).foreach { _ =>
      hStats.toDF.filter(col("c_custkey").between(100L, 5000L))
        .agg(fCount(fLit(1))).collect()
    })
    val tCntRangeScan = timed3("micro_sql_count_range_scan_100")((0 until 100).foreach { _ =>
      cachedCust.filter(col("c_custkey").between(100L, 5000L))
        .agg(fCount(fLit(1))).collect()
    })
    cachedCust.unpersist()
    hStats.idx.unpersist()
    // exact median/percentile: rank selection on the range-partitioned
    // layout (memoized after the first query — repeats are zero-job)
    // vs Catalyst's exact plan shipping every value to one aggregator
    import org.apache.spark.sql.functions.expr
    val ordDF = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val hPct = graft.sql.IndexedFrame.indexRangePartitioned(ordDF, "o_orderkey", 16)
    hPct.toDF.count()
    val cachedOrd2 = ordDF.cache(); cachedOrd2.count()
    val pctAgg = Seq(expr("percentile(o_orderkey, 0.5)"),
      expr("percentile(o_orderkey, 0.25)"), expr("percentile(o_orderkey, 0.75)"))
    val tPctIdx = timed3("micro_sql_percentile_idx_20")((0 until 20).foreach { _ =>
      hPct.toDF.agg(pctAgg.head, pctAgg.tail: _*).collect()
    })
    val tPctScan = timed3("micro_sql_percentile_scan_20")((0 until 20).foreach { _ =>
      cachedOrd2.agg(pctAgg.head, pctAgg.tail: _*).collect()
    })
    cachedOrd2.unpersist()
    hPct.idx.unpersist()
    Seq("micro_sql_stats_idx_100" -> tStatsIdx,
      "micro_sql_stats_scan_100" -> tStatsScan,
      "micro_sql_count_range_idx_100" -> tCntRangeIdx,
      "micro_sql_count_range_scan_100" -> tCntRangeScan,
      "micro_sql_percentile_idx_20" -> tPctIdx,
      "micro_sql_percentile_scan_20" -> tPctScan)
  }

  /** Distinct-cardinality pushdowns vs their cached-scan twins:
    * `.distinct().count()` on the key (collapsed to the memoized index
    * size — zero jobs after the first — while the scan twin pays a
    * two-level hash distinct plus a count every time);
    * count(DISTINCT key)+count(DISTINCT sec)
    * (index sizes, no job after the memo warms) vs the scan's expand +
    * double aggregate; GROUP BY leading → count/min/max(second) (key
    * runs, values untouched) vs the full row exchange. */
  private def microDistinct(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, count => fCount, lit => fLit,
      min => fMin, max => fMax, count_distinct => fCountDistinct}
    graft.sql.IndexedAgg.enable(spark)
    val ordersDF = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val hOrd = graft.sql.IndexedFrame.index(ordersDF, "o_orderkey")
    hOrd.toDF.count() // build + warm
    val cachedOrd = ordersDF.cache(); cachedOrd.count()
    val tDistIdx = timed3("micro_sql_distinct_idx_20")((0 until 20).foreach { _ =>
      hOrd.toDF.select(col("o_orderkey")).distinct().count()
    })
    val tDistScan = timed3("micro_sql_distinct_scan_20")((0 until 20).foreach { _ =>
      cachedOrd.select(col("o_orderkey")).distinct().count()
    })

    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    val hCd = graft.sql.IndexedFrame.index(custDF, "c_custkey")
      .addSecondaryIndex("c_nationkey")
    hCd.toDF.count()
    val cachedCust = custDF.cache(); cachedCust.count()
    // ONE distinct group (count(*) + count(DISTINCT sec)): a second
    // distinct column triggers the Expand rewrite before strategies
    // run and both sides would fall back — not the claim under test
    val tCdIdx = timed3("micro_sql_count_distinct_idx_100")((0 until 100).foreach { _ =>
      hCd.toDF.agg(fCount(fLit(1)),
        fCountDistinct(col("c_nationkey"))).collect()
    })
    val tCdScan = timed3("micro_sql_count_distinct_scan_100")((0 until 100).foreach { _ =>
      cachedCust.agg(fCount(fLit(1)),
        fCountDistinct(col("c_nationkey"))).collect()
    })

    val evDF = graft.queries.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("value"))
    val hEv = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
      evDF, Seq("user_id", "event_id"), 32)
    hEv.toDF.count()
    val cachedEv = evDF.cache(); cachedEv.count()
    val tGsIdx = timed3("micro_sql_group_stats_idx_20")((0 until 20).foreach { _ =>
      hEv.toDF.groupBy(col("user_id")).agg(fCount(fLit(1)),
        fMin(col("event_id")), fMax(col("event_id"))).collect()
    })
    val tGsScan = timed3("micro_sql_group_stats_scan_20")((0 until 20).foreach { _ =>
      cachedEv.groupBy(col("user_id")).agg(fCount(fLit(1)),
        fMin(col("event_id")), fMax(col("event_id"))).collect()
    })

    // grouped top-n window pushdown vs Catalyst's exchange+sort window
    // (same cached input, same n) — first-5-events-per-user, all users
    graft.sql.IndexedWindow.enable(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    import org.apache.spark.sql.functions.row_number
    val tWinIdx = timed3("micro_sql_window_topn_idx_10")((0 until 10).foreach { _ =>
      hEv.toDF.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).collect()
    })
    val tWinScan = timed3("micro_sql_window_topn_scan_10")((0 until 10).foreach { _ =>
      cachedEv.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).collect()
    })
    cachedOrd.unpersist(); cachedCust.unpersist(); cachedEv.unpersist()
    hOrd.idx.unpersist(); hCd.idx.unpersist(); hEv.idx.unpersist()
    Seq("micro_sql_distinct_idx_20" -> tDistIdx,
      "micro_sql_distinct_scan_20" -> tDistScan,
      "micro_sql_count_distinct_idx_100" -> tCdIdx,
      "micro_sql_count_distinct_scan_100" -> tCdScan,
      "micro_sql_group_stats_idx_20" -> tGsIdx,
      "micro_sql_group_stats_scan_20" -> tGsScan,
      "micro_sql_window_topn_idx_10" -> tWinIdx,
      "micro_sql_window_topn_scan_10" -> tWinScan)
  }

  /** Bloom lanes: the broadcast-backed bitset at production m (2^24 bits
    * x 3 rows = 6 MB) vs the plan-literal lane at the default m (24 KB) —
    * same probe, same build side; the broadcast lane must not pay a
    * per-row penalty for keeping the plan bitset-free. */
  private def microBloom(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    val custDF = spark.read.parquet(s"$sfDir/customer.parquet")
    val ordersDF = spark.read.parquet(s"$sfDir/orders.parquet")
    val ordKeys = ordersDF.select($"o_custkey")
    val tBloomLit = timed3("micro_bloom_literal_m16")(
      graft.pipeline.Sketches.bloomPrune(custDF, "c_custkey", ordKeys, "o_custkey",
        mBits = 65536, depth = 3).write.format("noop").mode("overwrite").save())
    val tBloomBcast = timed3("micro_bloom_bcast_m24")(
      graft.pipeline.Sketches.bloomPrune(custDF, "c_custkey", ordKeys, "o_custkey",
        mBits = 1 << 24, depth = 3).write.format("noop").mode("overwrite").save())
    Seq("micro_bloom_literal_m16" -> tBloomLit,
      "micro_bloom_bcast_m24" -> tBloomBcast)
  }

  /** Zone maps: 20 repeated 3-day time-range scans over an id-keyed
    * events handle — the analyzed handle prunes to the overlapping
    * partitions; the unanalyzed twin reads all of them. Build + the
    * one-off analyze stats job are excluded (they amortize across the
    * repeated queries, the shape zone maps exist for). */
  private def microZone(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, count => fCount, lit => fLit}
    val evDF = graft.queries.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
    val hz = graft.sql.IndexedFrame.indexRangePartitioned(evDF, "event_id", 16)
    hz.idx.cached; hz.idx.count()
    hz.analyzeZones("ts")
    val hzPlain = graft.sql.IndexedFrame.indexRangePartitioned(evDF, "event_id", 16)
    hzPlain.idx.cached; hzPlain.idx.count()
    val zlo = fLit("2024-01-20 00:00:00").cast("timestamp")
    val zhi = fLit("2024-01-23 00:00:00").cast("timestamp")
    val tZonePruned = timed3("micro_sql_zone_pruned_20")((0 until 20).foreach { _ =>
      hz.toDF.filter(col("ts") >= zlo && col("ts") < zhi)
        .agg(fCount(fLit(1))).collect()
    })
    val tZoneFull = timed3("micro_sql_zone_full_20")((0 until 20).foreach { _ =>
      hzPlain.toDF.filter(col("ts") >= zlo && col("ts") < zhi)
        .agg(fCount(fLit(1))).collect()
    })
    hz.idx.unpersist(); hzPlain.idx.unpersist()
    Seq("micro_sql_zone_pruned_20" -> tZonePruned,
      "micro_sql_zone_full_20" -> tZoneFull)
  }

  /** Timestamp-leading composite key vs zone maps, same 20 repeated
    * 3-day time-range counts as the zone micro: the (ts, event_id)
    * layout prunes EXACTLY (the interval is one contiguous tuple-space
    * range), where zone maps only keep partitions whose value summary
    * overlaps. The zone micro's pruned/full pair plus this lane order
    * the three plans a 100 TB time-range query could get. */
  private def microTsKey(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, count => fCount, lit => fLit}
    val evDF = graft.queries.Tables.events(spark, sfDir)
      .select($"ts", $"event_id", $"user_id", $"value")
    val ht = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
      evDF, Seq("ts", "event_id"), 16)
    ht.idx.count()
    val zlo = fLit("2024-01-20 00:00:00").cast("timestamp")
    val zhi = fLit("2024-01-23 00:00:00").cast("timestamp")
    val tTsPruned = timed3("micro_sql_tskey_pruned_20")((0 until 20).foreach { _ =>
      ht.toDF.filter(col("ts") >= zlo && col("ts") < zhi)
        .agg(fCount(fLit(1))).collect()
    })
    // daily rollup + first/last event time: key-stream fold (values
    // never read, only (day, stats) tuples exchange) vs the cached
    // scan's full-row partial aggregate + exchange
    graft.sql.IndexedAgg.enable(spark)
    import org.apache.spark.sql.functions.{date_trunc, min => fMin, max => fMax}
    val cachedEv = evDF.cache(); cachedEv.count()
    val tRollIdx = timed3("micro_sql_rollup_idx_20")((0 until 20).foreach { _ =>
      ht.toDF.groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(fCount(fLit(1)), fMin(col("ts")), fMax(col("ts"))).collect()
    })
    val tRollScan = timed3("micro_sql_rollup_scan_20")((0 until 20).foreach { _ =>
      cachedEv.groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(fCount(fLit(1)), fMin(col("ts")), fMax(col("ts"))).collect()
    })
    cachedEv.unpersist()
    ht.idx.unpersist()
    Seq("micro_sql_tskey_pruned_20" -> tTsPruned,
      "micro_sql_rollup_idx_20" -> tRollIdx,
      "micro_sql_rollup_scan_20" -> tRollScan)
  }

  /** Per-key point-in-time reads: 50 asOf(user, T) lookups on a
    * (user_id, ts) composite — each is one bounded tuple-space floor
    * descent plus a point probe — vs the same answer computed by
    * filter + TakeOrdered over the cached versions table. */
  private def microAsOf(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, max => fMax, round => fRound}
    val g = graft.queries.Tables.events(spark, sfDir)
      .groupBy($"user_id", $"ts").agg(fRound(fMax($"value"), 2).as("mv"))
    val h = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
      g, Seq("user_id", "ts"), 16)
    h.idx.count()
    val cg = g.cache(); cg.count()
    def cutoff(i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-${5 + i % 20}%02d 12:00:00")
    val tAsOfIdx = timed3("micro_sql_asof_idx_50")((0 until 50).foreach { i =>
      h.asOf(Seq((i % 25 + 1).toLong), cutoff(i)).collect()
    })
    val tAsOfScan = timed3("micro_sql_asof_scan_50")((0 until 50).foreach { i =>
      cg.filter(col("user_id") === (i % 25 + 1).toLong &&
          col("ts") <= org.apache.spark.sql.functions.lit(cutoff(i)))
        .orderBy(col("ts").desc).limit(1).collect()
    })
    // per-entity timeline pages: 10 pages of 100 down one user's
    // history — the indexed page is one contiguous tuple range under
    // the pinned user (O(page) from the covering partitions); the scan
    // twin re-filters and re-heaps the cached table every page
    graft.sql.IndexedTopK.enable(spark)
    import org.apache.spark.sql.functions.lit
    val t0page = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val tPageEntIdx = timed3("micro_sql_page_entity_idx_10x100") {
      var cur = t0page
      (0 until 10).foreach { _ =>
        val rows = h.toDF.filter(col("user_id") === 7L && col("ts") > lit(cur))
          .orderBy(col("ts")).limit(100).select(col("ts")).collect()
        if (rows.nonEmpty) cur = rows.last.getTimestamp(0)
      }
    }
    val tPageEntScan = timed3("micro_sql_page_entity_scan_10x100") {
      var cur = t0page
      (0 until 10).foreach { _ =>
        val rows = cg.filter(col("user_id") === 7L && col("ts") > lit(cur))
          .orderBy(col("ts")).limit(100).select(col("ts")).collect()
        if (rows.nonEmpty) cur = rows.last.getTimestamp(0)
      }
    }
    // BATCH as-of join (200 probes at once): interval-routed floor
    // descents vs Catalyst's entity join + per-probe window max over
    // the cached versions table
    val hB = graft.sql.IndexedFrame.indexCompositeNRangePartitioned(
      g, Seq("user_id", "ts"), 16)
    hB.idx.count()
    def asOfProbe() = spark.range(0, 200).select(
      (col("id") % 25 + 1).as("pu"),
      org.apache.spark.sql.functions.expr(
        "timestamp_micros((1704153600 + id * 9137) * 1000000)").as("pt"))
    val tBatchIdx = timed3("micro_sql_asof_batch_idx_5")((0 until 5).foreach { _ =>
      hB.asOfJoinFrame(asOfProbe(), Seq("pu"), "pt").collect()
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pu"), col("pt")).orderBy(col("ts").desc)
    import org.apache.spark.sql.functions.row_number
    val tBatchScan = timed3("micro_sql_asof_batch_scan_5")((0 until 5).foreach { _ =>
      val p = asOfProbe()
      p.join(cg, p("pu") === cg("user_id") && cg("ts") <= p("pt"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .drop("rn").collect()
    })
    hB.idx.unpersist()
    cg.unpersist(); h.idx.unpersist()
    Seq("micro_sql_asof_idx_50" -> tAsOfIdx,
      "micro_sql_asof_scan_50" -> tAsOfScan,
      "micro_sql_asof_batch_idx_5" -> tBatchIdx,
      "micro_sql_asof_batch_scan_5" -> tBatchScan,
      "micro_sql_page_entity_idx_10x100" -> tPageEntIdx,
      "micro_sql_page_entity_scan_10x100" -> tPageEntScan)
  }

  /** Secondary index: 50 repeated equality reads on a non-key column —
    * the inverted index probes + point-reads O(matches); the plain handle
    * scans the corpus each time. Build/invert cost excluded (amortizes
    * across repeated queries). The 25 distinct values cycle twice, so the
    * second half ALSO exercises the snapshot probe memo (repeat probes
    * answer with zero jobs — sound on immutable handles). */
  /** Lookup join (batch point-probes the corpus, corpus never scanned)
    * vs Catalyst's broadcast hash join over the same CACHED corpus —
    * the enrich-a-delta shape. The indexed lane pays one probe-side
    * shuffle + O(probe) trie lookups; the default scans the corpus
    * every query even with the probe broadcast. */
  private def microLookupJoin(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.col
    graft.sql.IndexedJoin.enable(spark)
    val ordersDF = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val h = graft.sql.IndexedFrame.index(ordersDF, "o_orderkey")
    h.idx.count()
    val cached = ordersDF.cache(); cached.count()
    def probe() = spark.range(0, 1000)
      .select((col("id") * 11).as("k"), (col("id") % 7).as("tag"))
    val hd = h.toDF
    val tIdx = timed3("micro_sql_lookup_join_idx_10")((0 until 10).foreach { _ =>
      val p = probe()
      hd.join(p, hd("o_orderkey") === p("k")).collect()
    })
    val tScan = timed3("micro_sql_lookup_join_scan_10")((0 until 10).foreach { _ =>
      val p = probe()
      cached.join(p, cached("o_orderkey") === p("k")).collect()
    })
    cached.unpersist(); h.idx.unpersist()
    // the 100 TB-honest twin: the corpus does NOT fit in memory and
    // the delta is key-CLUSTERED (today's keys are recent). On a
    // DISK_ONLY range-partitioned corpus the lookup deserializes only
    // the probe-owning partitions; the scan lane re-reads the parquet
    // corpus per query (what a real cluster does when the fact table
    // can't be cached)
    val hDisk = graft.sql.IndexedFrame.indexRangePartitioned(ordersDF, "o_orderkey", 32)
    hDisk.idx.unpersist()
    hDisk.idx.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    hDisk.idx.count()
    val hdd = hDisk.toDF
    def probeClustered() = spark.range(0, 500)
      .select((col("id") + 1000L).as("k"), (col("id") % 7).as("tag"))
    val tIdxDisk = timed3("micro_sql_lookup_join_idx_disk_10")((0 until 10).foreach { _ =>
      val p = probeClustered()
      hdd.join(p, hdd("o_orderkey") === p("k")).collect()
    })
    val tScanParquet = timed3("micro_sql_lookup_join_scan_parquet_10")((0 until 10).foreach { _ =>
      val p = probeClustered()
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      o.join(p, o("o_orderkey") === p("k")).collect()
    })
    hDisk.idx.unpersist()
    // band (range) lookup join vs the default broadcast NESTED LOOP:
    // interval-routed pruned trie scans read O(matches); the default
    // evaluates every (corpus row, probe row) pair per query
    val hBand = graft.sql.IndexedFrame.indexRangePartitioned(ordersDF, "o_orderkey", 32)
    hBand.idx.count()
    val cached2 = ordersDF.cache(); cached2.count()
    val hbd = hBand.toDF
    def bandProbe() = spark.range(0, 100).select((col("id") * 140L).as("lo"),
      (col("id") * 140L + 30L).as("hi"))
    // full diags (best-of-3 + GC delta): this pair has flip-flopped
    // across driver sweeps (r16: 2.2x swing with zero code diff on its
    // path) — per-run records make the next swing attributable
    val tBandIdx = timed3("micro_sql_band_join_idx_5")((0 until 5).foreach { _ =>
      val p = bandProbe()
      hbd.join(p, hbd("o_orderkey") >= p("lo") && hbd("o_orderkey") <= p("hi"))
        .collect()
    })
    val tBandScan = timed3("micro_sql_band_join_nestedloop_5")((0 until 5).foreach { _ =>
      val p = bandProbe()
      cached2.join(p, cached2("o_orderkey") >= p("lo") && cached2("o_orderkey") <= p("hi"))
        .collect()
    })
    cached2.unpersist(); hBand.idx.unpersist()
    Seq("micro_sql_lookup_join_idx_10" -> tIdx,
      "micro_sql_lookup_join_scan_10" -> tScan,
      "micro_sql_lookup_join_idx_disk_10" -> tIdxDisk,
      "micro_sql_lookup_join_scan_parquet_10" -> tScanParquet,
      "micro_sql_band_join_idx_5" -> tBandIdx,
      "micro_sql_band_join_nestedloop_5" -> tBandScan)
  }

  private def microSecondary(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, sum => fSum}
    val custSecDF = graft.queries.Tables.customer(spark, sfDir)
    val hs = graft.sql.IndexedFrame.index(custSecDF, "c_custkey")
      .addSecondaryIndex("c_nationkey")
    hs.idx.cached; hs.idx.count()
    val hsPlain = graft.sql.IndexedFrame.index(custSecDF, "c_custkey")
    hsPlain.idx.cached; hsPlain.idx.count()
    val tSecIdx = timed3("micro_sql_secondary_idx_50")((0 until 50).foreach { i =>
      hs.toDF.filter(col("c_nationkey") === (i % 25))
        .agg(fSum(col("c_acctbal"))).collect()
    })
    val tSecScan = timed3("micro_sql_secondary_scan_50")((0 until 50).foreach { i =>
      hsPlain.toDF.filter(col("c_nationkey") === (i % 25))
        .agg(fSum(col("c_acctbal"))).collect()
    })
    hs.idx.unpersist(); hsPlain.idx.unpersist()
    Seq("micro_sql_secondary_idx_50" -> tSecIdx,
      "micro_sql_secondary_scan_50" -> tSecScan)
  }

  /** Secondary index where pruning BITES: same 50-probe shape on the
    * 10x-bigger orders table persisted DISK_ONLY (the cold-partition
    * shape of a 100 TB corpus). The in-memory twin above is
    * scheduling-bound at this SF — both lanes pay ~the same per-query
    * planning + two-stage aggregate, so the index's advantage (data NOT
    * read) is invisible. On disk the plain handle re-deserializes every
    * partition per query while the probe lane point-reads only the
    * owning partitions (and memo-hit repeats read nothing). */
  private def microSecondaryDisk(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.{col, sum => fSum}
    val ordersDF = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val disk = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // handle construction pre-caches MEMORY_ONLY; swap the level before
    // the first materialization so the rows only ever land on disk
    val hs = graft.sql.IndexedFrame.index(ordersDF, "o_orderkey")
      .addSecondaryIndex("o_custkey")
    hs.idx.unpersist(); hs.idx.persist(disk); hs.idx.count()
    val hsPlain = graft.sql.IndexedFrame.index(ordersDF, "o_orderkey")
    hsPlain.idx.unpersist(); hsPlain.idx.persist(disk); hsPlain.idx.count()
    val tSecIdx = timed3("micro_sql_secondary_idx_disk_50")((0 until 50).foreach { i =>
      hs.toDF.filter(col("o_custkey") === (i % 25 + 1).toLong)
        .agg(fSum(col("o_totalprice"))).collect()
    })
    val tSecScan = timed3("micro_sql_secondary_scan_disk_50")((0 until 50).foreach { i =>
      hsPlain.toDF.filter(col("o_custkey") === (i % 25 + 1).toLong)
        .agg(fSum(col("o_totalprice"))).collect()
    })
    hs.idx.unpersist(); hsPlain.idx.unpersist()
    Seq("micro_sql_secondary_idx_disk_50" -> tSecIdx,
      "micro_sql_secondary_scan_disk_50" -> tSecScan)
  }

  /** Ordered top-k: 20 repeated ORDER BY key LIMIT 100 — IndexedTopK
    * reads the covering partition prefix (O(n) rows); Catalyst's
    * TakeOrderedAndProject heap-scans every partition of the cached
    * table each time. */
  private def microTopk(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    implicit val sp: SparkSession = spark
    import org.apache.spark.sql.functions.col
    graft.sql.IndexedTopK.enable(spark)
    val ordersTopkDF = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val hTopk = graft.sql.IndexedFrame.indexRangePartitioned(
      ordersTopkDF, "o_orderkey", 32)
    hTopk.idx.cached; hTopk.idx.count()
    val cachedOrd = ordersTopkDF.cache(); cachedOrd.count()
    val tTopkIdx = timed3("micro_sql_topk_idx_20")((0 until 20).foreach { _ =>
      hTopk.toDF.orderBy(col("o_orderkey")).limit(100).collect()
    })
    val tTopkScan = timed3("micro_sql_topk_scan_20")((0 until 20).foreach { _ =>
      cachedOrd.orderBy(col("o_orderkey")).limit(100).collect()
    })
    // keyset pagination: walk 10 pages of 100 deep into the table —
    // indexed pages narrow the covering-partition pick by the cursor
    // interval (O(page) rows each); the scan twin re-heaps the whole
    // cached table for every page
    val tPageIdx = timed3("micro_sql_page_idx_10x100") {
      var c = -1L
      (0 until 10).foreach { _ =>
        val rows = hTopk.toDF.filter(col("o_orderkey") > c)
          .orderBy(col("o_orderkey")).limit(100)
          .select(col("o_orderkey")).collect()
        if (rows.nonEmpty) c = rows.last.getLong(0)
      }
    }
    val tPageScan = timed3("micro_sql_page_scan_10x100") {
      var c = -1L
      (0 until 10).foreach { _ =>
        val rows = cachedOrd.filter(col("o_orderkey") > c)
          .orderBy(col("o_orderkey")).limit(100)
          .select(col("o_orderkey")).collect()
        if (rows.nonEmpty) c = rows.last.getLong(0)
      }
    }
    // sort by a NON-key column via its ordered secondary: 10 cursor
    // pages of 100 by o_custkey — postings stream in value order from
    // the inverted tries; the scan twin re-heaps the cached table
    val hSec = graft.sql.IndexedFrame.index(ordersTopkDF, "o_orderkey")
      .addSecondaryIndex("o_custkey", ordered = true)
    hSec.idx.cached; hSec.idx.count()
    val tSecSortIdx = timed3("micro_sql_secsort_idx_10x100") {
      var cur = 0L
      (0 until 10).foreach { _ =>
        val rows = hSec.toDF.filter(col("o_custkey") > cur)
          .orderBy(col("o_custkey")).limit(100)
          .select(col("o_custkey")).collect()
        if (rows.nonEmpty) cur = rows.last.getLong(0)
      }
    }
    val tSecSortScan = timed3("micro_sql_secsort_scan_10x100") {
      var cur = 0L
      (0 until 10).foreach { _ =>
        val rows = cachedOrd.filter(col("o_custkey") > cur)
          .orderBy(col("o_custkey")).limit(100)
          .select(col("o_custkey")).collect()
        if (rows.nonEmpty) cur = rows.last.getLong(0)
      }
    }
    hSec.idx.unpersist()
    cachedOrd.unpersist(); hTopk.idx.unpersist()
    Seq("micro_sql_topk_idx_20" -> tTopkIdx,
      "micro_sql_topk_scan_20" -> tTopkScan,
      "micro_sql_page_idx_10x100" -> tPageIdx,
      "micro_sql_page_scan_10x100" -> tPageScan,
      "micro_sql_secsort_idx_10x100" -> tSecSortIdx,
      "micro_sql_secsort_scan_10x100" -> tSecSortScan)
  }
}

package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: one workload per JVM, fixed work, one result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --dir <private run dir> [--out <span dir>] [--smoke]
  * perfbench.Main --selftest
  * }}}
  */
object Main {
  val Workloads = Seq("kv_read", "kv_write", "catalog_dml", "dedup_batch")
  val RddOps = Seq("get", "multiget", "range", "write", "compact")
  val SqlOps = Seq("point", "agg", "merge", "update", "delete")

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.contains("--selftest")) {
      val bad = Checks.selfTest()
      bad.foreach(b => System.err.println(s"perfbench: selftest: $b"))
      println(if (bad.isEmpty) "selftest ok" else s"selftest FAILED: ${bad.size} cases")
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    val smoke = argv.contains("--smoke")
    val a = Args(kv("workload"), kv("seed").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", kv("dir"), smoke)
    val names = if (a.workload == "all" && smoke) Workloads else Seq(a.workload)
    require(names.forall(Workloads.contains), s"unknown workload ${a.workload}")
    val spark = session(a)
    try names.foreach { n =>
      val out = runOne(spark, a.copy(workload = n))
      kv.get("out").filter(_ => a.trace).foreach(dir => writeSpans(dir, a.copy(workload = n), out._2))
      println(out._1)
    } finally spark.stop()
  }

  def session(a: Args): SparkSession = {
    // two task threads leave the other cores of a small box to the JIT,
    // the collector and the listener bus; four made every latency
    // slower and its run-to-run spread wider
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.default.parallelism", "8")
      // adaptive execution re-plans by observed sizes, which vary by
      // seed; the job and task counts must not
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryoserializer.buffer.max", "256m")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtension")
      .config("spark.local.dir", new File(a.dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.dir, "warehouse").getAbsolutePath)
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "kv_read" => new KvRead(ctx)
    case "kv_write" => new KvWrite(ctx, if (ctx.args.smoke) 20000 else 100000)
    case "catalog_dml" => new CatalogDml(ctx)
    case "dedup_batch" => new DedupBatch(ctx, if (ctx.args.smoke) 600 else 2000)
  }

  /** Runs one workload; returns the result line and the spans. */
  def runOne(spark: SparkSession, a: Args): (String, Seq[Span]) = {
    val sessionS = Jvm.sinceStartS()
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val counter = new JobCounter(spark.sparkContext)
    val ctx = new Ctx(spark, a, tracer)
    val w = workload(ctx)
    tracer.span("setup", "setup")(_ => w.setup())
    val setupS = Jvm.sinceStartS()
    System.gc()
    val heapLiveMb = Jvm.heapUsedMb()
    ctx.phase = "warmup"
    w.warmup()
    val (jobs0, tasks0) = counter.snap()
    val gc0 = Jvm.gcMs(); val alloc0 = Jvm.allocBytes()
    ctx.timed(w.run())
    val gcMs = Jvm.gcMs() - gc0; val allocMb = (Jvm.allocBytes() - alloc0) / 1048576.0
    val (jobs1, tasks1) = counter.snap()
    val perOp = 1.0 / math.max(1L, ctx.timedOps)
    w.finish()
    // the pipeline layer, measured in every traced run
    val pipeline = w match {
      case d: DedupBatch => d
      case _ if a.trace => val d = new DedupBatch(ctx, 600); d.setup(); d.probe(); d
      case _ => null
    }
    // the IndexedRDD write path, measured in every traced run
    val writes = w match {
      case k: KvWrite => k
      case _ if a.trace => val k = new KvWrite(ctx, 20000); k.setup(); k.probe(); k.finish(); k
      case _ => null
    }
    tracer.drain()
    tracer.close()

    val head = ctx.samples.get(w.headline).map(_.ms.toSeq).getOrElse(Nil)
    val opsPerS = ctx.timedOps / (ctx.timedNs / 1e9)
    // The op latencies and throughput spread too widely between runs on
    // a shared box to bound (see the README); they are on the detail
    // line. The bounded figures are the work each op costs.
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "jobs_per_op" -> ((jobs1 - jobs0) * perOp, "count"),
      "tasks_per_op" -> ((tasks1 - tasks0) * perOp, "count"),
      "alloc_mb_per_op" -> (allocMb * perOp, "MB"),
      "bytes_per_row" -> (w.bytesPerRow, "B"))
    val times = Map("setup_s" -> setupS, "ops_per_s" -> opsPerS, "op_p50_ms" -> Stats.median(head))
    val half = head.size / 2
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "headline" -> w.headline,
      "headline_first_half_p50_ms" -> Stats.median(head.take(half)),
      "headline_second_half_p50_ms" -> Stats.median(head.drop(half)),
      "session_s" -> sessionS, "timed_s" -> ctx.timedNs / 1e9,
      "ops_per_s" -> opsPerS, "op_p50_ms" -> times("op_p50_ms"), "checks" -> ctx.checker.checks,
      "ops" -> ctx.samples.map { case (k, s) =>
        k -> (Map("n" -> s.n, "p50_ms" -> s.p50) ++
          Stats.tail(s.ms.toSeq).map { case (q, v) => Map(s"${q}_ms" -> v) }.getOrElse(Map.empty))
      }) ++ w.details
    println("perfbench-detail: " + Json(detail))

    val metrics: collection.Map[String, (Double, String)] =
      if (!a.trace) e2e
      else layers(spark, w, pipeline, writes, ctx, times, gcMs.toDouble, allocMb, heapLiveMb)
    val result = Json(mutable.LinkedHashMap(
      "correct" -> ctx.checker.ok, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }))
    (result, tracer.spans.toSeq)
  }

  /** Every per-layer metric. A layer this workload does not call reads
    * 0; the functions and pipeline layers are probed on a small corpus,
    * and the IndexedRDD write path on a 20k-entry hash index, when the
    * workload does not call them. */
  def layers(spark: SparkSession, w: Workload, pipeline: DedupBatch, writes: KvWrite, ctx: Ctx,
      times: Map[String, Double],
      gcMs: Double, allocMb: Double, heapLiveMb: Double): collection.Map[String, (Double, String)] = {
    val spans = ctx.tracer.spans.filter(s => Set("timed", "post", "probe").contains(s.phase))
    def named(n: String*) = spans.filter(s => n.contains(s.name))
    def avg(ss: Seq[Span])(f: Span => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]

    val probeRows = w.partitionRows
    (Probes.partition(probeRows, ctx.args.seed) ++ Probes.keys(ctx.args.seed)).toSeq.sortBy(_._1)
      .foreach { case (k, v) => m(k) = (v, if (k.endsWith("bytes_per_entry")) "B" else "ns") }
    m("functions.signature_ns_per_doc") = (Probes.signatures(spark, spark.table("pb_corpus"),
      pipeline.docs.toLong)("functions.signature_ns_per_doc"), "ns")

    RddOps.foreach { op =>
      // the workload's own calls; a probe's only where it makes none
      val (own, probed) = named(s"rdd.$op").toSeq.partition(_.phase != "probe")
      val ss = if (own.nonEmpty) own else probed
      m(s"rdd.$op.jobs") = (avg(ss)(_.jobs), "count")
      m(s"rdd.$op.stages") = (avg(ss)(_.stages), "count")
      m(s"rdd.$op.tasks") = (avg(ss)(_.tasks.toDouble), "count")
      m(s"rdd.$op.task_run_ms") = (avg(ss)(_.taskRunMs.toDouble), "ms")
      m(s"rdd.$op.task_cpu_ms") = (avg(ss)(_.taskCpuNs / 1e6), "ms")
      m(s"rdd.$op.deser_ms") = (avg(ss)(_.deserMs.toDouble), "ms")
      m(s"rdd.$op.driver_ms") = (avg(ss)(_.driverMs), "ms")
      m(s"rdd.$op.alloc_mb") = (avg(ss)(_.allocBytes / 1048576.0), "MB")
      m(s"rdd.$op.gc_ms") = (avg(ss)(_.gcMs.toDouble), "ms")
    }
    val ws = named("rdd.write").toSeq
    m("rdd.write.shuffle_read_bytes") = (avg(ws)(_.shuffleReadBytes.toDouble), "B")
    m("rdd.write.shuffle_write_bytes") = (avg(ws)(_.shuffleWriteBytes.toDouble), "B")
    val t = w.traced
    m("rdd.write.cached_mb_per_version") = (writes.traced("rdd.write.cached_mb_per_version"), "MB")
    m("rdd.read.lineage_depth") = (t.getOrElse("rdd.read.lineage_depth", 0.0), "count")

    SqlOps.foreach { op =>
      val ss = named(s"sql.$op").toSeq
      m(s"sql.$op.plan_ms") = (avg(ss)(_.planMs), "ms")
      m(s"sql.$op.exec_ms") = (avg(ss)(s => s.wallMs - s.planMs), "ms")
      m(s"sql.$op.jobs") = (avg(ss)(_.jobs), "count")
      m(s"sql.$op.tasks") = (avg(ss)(_.tasks.toDouble), "count")
    }
    // a memo hit answers from the driver: no job reads a persisted RDD
    m("sql.point.memo_hits") = (named("sql.point").count(_.cachedJobs == 0).toDouble, "count")

    val commits = named("sql.merge", "sql.update", "sql.delete").toSeq
    val commitWork = commits ++ named("catalog.commit_fold")
    def perCommit(f: Span => Double): Double =
      if (commits.isEmpty) 0.0 else commitWork.map(f).sum / commits.size
    m("catalog.commit.fs_reads") = (perCommit(_.fs.reads.toDouble), "count")
    m("catalog.commit.fs_writes") = (perCommit(_.fs.writes.toDouble), "count")
    m("catalog.commit.fs_lists") = (perCommit(_.fs.lists.toDouble), "count")
    m("catalog.commit.bytes_written") = (perCommit(_.fs.bytes.toDouble), "B")
    m("catalog.commit.files_created") = (perCommit(_.fs.creates.toDouble), "count")
    m("catalog.commit.jobs") = (perCommit(_.jobs.toDouble), "count")
    m("catalog.optimize_s") = (ctx.p50("catalog.optimize") / 1000 match { case x if x.isNaN => 0.0; case x => x }, "s")
    m("catalog.fold_segments") = (t.getOrElse("catalog.fold_segments", 0.0), "count")
    val reopens = named("catalog.reopen").toSeq
    m("catalog.reopen.fs_reads") = (avg(reopens)(_.fs.reads.toDouble), "count")
    m("catalog.reopen.fs_lists") = (avg(reopens)(_.fs.lists.toDouble), "count")
    m("catalog.reopen.jobs") = (avg(reopens)(_.jobs.toDouble), "count")
    m("catalog.reopen.segments") = (t.getOrElse("catalog.reopen.segments", 0.0), "count")

    val reps = named("pipeline.dedup").toSeq
    val p = pipeline.traced
    m("pipeline.pairs_s") = (p("pipeline.pairs_s"), "s")
    m("pipeline.clusters_s") = (p("pipeline.clusters_s"), "s")
    m("pipeline.pairs_reported") = (p("pipeline.pairs_reported"), "count")
    m("pipeline.pair_precision") = (p("pipeline.pair_precision"), "ratio")
    m("pipeline.jobs") = (avg(reps)(_.jobs.toDouble), "count")
    m("pipeline.shuffle_write_bytes") = (avg(reps)(_.shuffleWriteBytes.toDouble), "B")

    m("jvm.gc_ms") = (gcMs, "ms")
    m("jvm.alloc_mb_per_op") = (allocMb / math.max(1L, ctx.timedOps), "MB")
    m("jvm.heap_live_mb") = (heapLiveMb, "MB")

    m("traced.setup_s") = (times("setup_s"), "s")
    m("traced.ops_per_s") = (times("ops_per_s"), "1/s")
    m("traced.op_p50_ms") = (times("op_p50_ms"), "ms")
    val head = ctx.samples.get(w.headline).map(_.ms.toSeq).getOrElse(Nil)
    m("tail.op_p90_ms") = (Stats.quantile(head, 0.9), "ms")
    m("tail.op_samples") = (head.size.toDouble, "count")
    m
  }

  private def writeSpans(dir: String, a: Args, spans: Seq[Span]): Unit = {
    new File(dir).mkdirs()
    val pw = new PrintWriter(new File(dir, s"${a.workload}-seed${a.seed}-spans.jsonl"))
    try spans.foreach { s =>
      pw.println(Json(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "phase" -> s.phase, "start_ms" -> s.t0Ms,
        "wall_ms" -> s.wallMs, "self_ms" -> s.driverMs, "plan_ms" -> s.planMs,
        "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "task_run_ms" -> s.taskRunMs, "task_cpu_ms" -> s.taskCpuNs / 1e6,
        "alloc_mb" -> s.allocBytes / 1048576.0, "gc_ms" -> s.gcMs,
        "fs_reads" -> s.fs.reads, "fs_writes" -> s.fs.writes, "fs_lists" -> s.fs.lists)))
    } finally pw.close()
  }
}

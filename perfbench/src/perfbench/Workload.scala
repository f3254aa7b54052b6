package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dir: String, smoke: Boolean)

/** Shared state of one run: session, tracer, checker, op samples. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val sc = spark.sparkContext
  val checker = new Checker
  val samples = mutable.LinkedHashMap.empty[String, Samples]
  var attempted = 0L
  var failed = 0L
  /** "warmup" ops are excluded from every metric; "timed" ops make
    * the end-to-end numbers; "post" ops (reopens) have their own. */
  var phase = "setup"
  var timedNs = 0L
  var timedOps = 0L

  /** Run one op: counted, timed, traced. A failed op is counted and
    * yields None. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    tracer.span(kind, phase) { _ =>
      val t0 = System.nanoTime()
      try {
        val r = body
        val ms = (System.nanoTime() - t0) / 1e6
        if (phase != "warmup") samples.getOrElseUpdate(kind, new Samples).add(ms)
        if (phase == "timed") timedOps += 1
        Some(r)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: op $kind failed: $e")
          None
      }
    }
  }

  /** SQL text through the session; returns the rows and the planning
    * time (parse, analysis, optimization, planning phases). */
  def sql(text: String): (Array[Row], Double) = {
    val df = spark.sql(text)
    val rows = df.collect()
    val ms = planMs(df)
    Option(tracer.current).foreach(_.planMs += ms)
    (rows, ms)
  }

  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum

  /** Times the whole timed phase. */
  def timed(body: => Unit): Unit = {
    phase = "timed"
    val t0 = System.nanoTime()
    body
    timedNs = System.nanoTime() - t0
    phase = "post"
  }

  def check(ok: Boolean, what: => String): Unit = checker.check(ok, what)

  def p50(kind: String): Double = samples.get(kind).map(_.p50).getOrElse(Double.NaN)
}

/** A fixed-work workload. The amount of work depends only on the
  * seed, the run length argument and the smoke flag. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def args: Args = ctx.args
  def seed: Long = args.seed

  /** Rows per partition, which sizes the standalone partition probes. */
  def partitionRows: Int
  /** The op kind whose median is the end-to-end `op_p50_ms`. */
  def headline: String

  /** Started session to queryable index, table or cached corpus. */
  def setup(): Unit
  /** Every op type, excluded from the metrics. */
  def warmup(): Unit
  /** The fixed-work timed phase. */
  def run(): Unit
  /** Checks that need the final state; may run post ops. */
  def finish(): Unit
  /** Storage bytes per live row of the workload's dataset. */
  def bytesPerRow: Double
  /** Workload-specific end-to-end figures for the detail line. */
  def details: Map[String, Double]
  /** Workload-specific per-layer figures of a traced run. */
  def traced: Map[String, Double] = Map.empty

  /** Number of timed rounds: a fixed rate times the run length. */
  def rounds(perSecond: Double): Int =
    if (args.smoke) 1 else math.max(2, math.round(perSecond * args.seconds).toInt)

  /** Storage-memory bytes of the persisted RDDs whose name is `name`. */
  def storageBytes(name: String): Long =
    ctx.sc.getRDDStorageInfo.filter(_.name == name).map(i => i.memSize + i.diskSize).sum
}

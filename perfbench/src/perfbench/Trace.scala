package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JVM-wide counters read through the management beans. */
object Jvm {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by every live thread. */
  def allocBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Seconds since this JVM was created. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Counts of filesystem calls on the local filesystem; filled by
  * [[CountingFileSystem]], which a traced run installs as `fs.file.impl`. */
object Fs {
  val reads = new AtomicLong   // open + getFileStatus
  val lists = new AtomicLong   // listStatus + listLocatedStatus
  val writes = new AtomicLong  // create + rename + delete + mkdirs
  val creates = new AtomicLong

  final case class Snap(reads: Long, lists: Long, writes: Long, creates: Long, bytes: Long) {
    def -(o: Snap): Snap =
      Snap(reads - o.reads, lists - o.lists, writes - o.writes, creates - o.creates, bytes - o.bytes)
  }

  def bytesWritten(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .getOrElse(0L)

  def snap(): Snap = Snap(reads.get, lists.get, writes.get, creates.get, bytesWritten())
}

/** The local filesystem with every metadata and data call counted. */
class CountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: Path, bufferSize: Int) = { Fs.reads.incrementAndGet(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { Fs.reads.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { Fs.lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    Fs.lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable) = {
    Fs.writes.incrementAndGet(); Fs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable) = {
    Fs.writes.incrementAndGet(); Fs.creates.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { Fs.writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Fs.writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Fs.writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

/** Spark jobs and tasks started so far. Always on: untraced runs
  * report them per op. */
final class JobCounter(sc: SparkContext) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
  })

  /** (jobs, tasks), once the listener has seen every event posted so far. */
  def snap(): (Long, Long) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    (jobs.get, tasks.get)
  }
}

/** One benchmark op around one call into a layer. Spark work is tied
  * to it through the `perfbench.span` local property. */
final class Span(val id: Long, val name: String, val phase: String) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  var t1Ns = 0L
  var t1Ms = 0L
  var planMs = 0.0
  // filled by the listener thread
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var deserMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var cachedJobs = 0 // jobs with a persisted RDD in some stage
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // filled around the call
  var allocBytes = 0L
  var gcMs = 0L
  var fs: Fs.Snap = Fs.Snap(0, 0, 0, 0, 0)

  def wallMs: Double = (t1Ns - t0Ns) / 1e6

  /** Op wall time minus the time any of its tasks ran. */
  def driverMs: Double = synchronized {
    val clipped = taskIntervals.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, wallMs - covered)
  }
}

/** Records spans in memory and ties Spark jobs, stages and tasks to
  * them. Disabled, it adds nothing but the call itself. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val nextId = new AtomicLong
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** The innermost open span on the calling thread, or null. */
  var current: Span = null

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      for {
        p <- Option(e.properties)
        id <- Option(p.getProperty(Key))
        s <- Option(byId.get(id.toLong))
      } s.synchronized {
        s.jobs += 1
        if (e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))) s.cachedJobs += 1
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized {
          s.stages += 1
          s.tasks += e.stageInfo.numTasks
          Option(e.stageInfo.taskMetrics).foreach { m =>
            s.taskRunMs += m.executorRunTime
            s.taskCpuNs += m.executorCpuTime
            s.deserMs += m.executorDeserializeTime
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.synchronized { s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, phase: String)(body: Span => T): T =
    if (!enabled) body(null)
    else {
      val s = new Span(nextId.incrementAndGet(), name, phase)
      byId.put(s.id, s)
      spans += s
      val a0 = Jvm.allocBytes(); val g0 = Jvm.gcMs(); val f0 = Fs.snap()
      val outer = current
      current = s
      sc.setLocalProperty(Key, s.id.toString)
      try body(s)
      finally {
        current = outer
        sc.setLocalProperty(Key, if (outer == null) null else outer.id.toString)
        s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
        s.allocBytes = Jvm.allocBytes() - a0
        s.gcMs = Jvm.gcMs() - g0
        s.fs = Fs.snap() - f0
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

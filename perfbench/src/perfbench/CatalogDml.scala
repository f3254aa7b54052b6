package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.sql.GraftBenchBridge

/** Durable SQL DML on a `USING graft` catalog table with a secondary
  * index on its group column, checked against a driver-side model. */
final class CatalogDml(c: Ctx) extends Workload(c) {
  val rows: Int = if (args.smoke) 5000 else 50000
  val groups = 64
  val mergeRows: Int = if (args.smoke) 50 else 200
  val updateRows: Int = if (args.smoke) 20 else 100
  val deleteRows: Int = if (args.smoke) 10 else 60
  val optimizeEvery = 6
  val reopens: Int = if (args.smoke) 1 else 3
  val table = "pb_t"
  val location: String = new File(args.dir, "tables/pb_t").getAbsolutePath
  override def partitionRows: Int = rows / 8
  // a run has room for a handful of MERGEs only; the point selects
  // after each commit are the steady per-op figure, and the commits
  // dominate ops_per_s
  override def headline = "sql.point"

  // id -> (grp, amt, qty); amounts are multiples of 1/4, so sums are exact
  private val model = mutable.LongMap.empty[(Int, Double, Long)]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.LongMap.empty[Int]
  private var nextId = 0L
  private var statements = 0
  private var baseSum = (0L, 0L)
  // the model as of the last OPTIMIZE, which rebases the oldest readable version
  private var rebasedAt = (0L, (0L, 0L))
  private var segments = 0

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("grp", IntegerType, false), StructField("amt", DoubleType, false),
    StructField("qty", LongType, false)))

  private def gen(id: Long, salt: Long): (Int, Double, Long) = {
    val h = Gen.mix2(id, seed ^ salt)
    (Gen.below(h, groups), Gen.below(h >>> 8, 40000) / 4.0, Gen.below(h >>> 24, 1000).toLong)
  }
  private def put(id: Long, r: (Int, Double, Long)): Unit = {
    if (!model.contains(id)) { livePos(id) = live.size; live += id }
    model(id) = r
  }
  private def remove(id: Long): Unit = {
    val p = livePos.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(p) = last; livePos(last) = p }
    model.remove(id)
  }
  /** (row count, order-independent checksum) of a full table read. */
  private def digest(rs: Array[Row]): (Long, Long) =
    Checks.digest(rs.iterator.map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2), r.getLong(3)))))

  private def modelDigest: (Long, Long) = Checks.digest(model.iterator)

  override def setup(): Unit = {
    val s = seed
    val g = groups
    val src = ctx.sc.range(0, rows, 1, 8).map { id =>
      val h = Gen.mix2(id, s ^ 0L)
      Row(id, Gen.below(h, g), Gen.below(h >>> 8, 40000) / 4.0, Gen.below(h >>> 24, 1000).toLong)
    }
    spark.createDataFrame(src, schema).createOrReplaceTempView("pb_src")
    spark.sql(s"""CREATE TABLE $table USING graft OPTIONS (key 'id')
                 |LOCATION '$location' AS SELECT * FROM pb_src""".stripMargin)
    spark.sql(s"CREATE INDEX pb_grp ON $table (grp)")
    (0L until rows).foreach(id => put(id, gen(id, 0L)))
    nextId = rows
    baseSum = modelDigest
    ctx.check(spark.sql(s"SELECT count(*) FROM $table").head().getLong(0) == rows,
      "catalog_dml: base row count")
  }

  /** `n` distinct live ids. */
  private def pick(r: SplittableRandom, n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += live(r.nextInt(live.size))
    out.toSeq
  }

  /** One DML statement; the model changes only if it committed. */
  private def statement(r: SplittableRandom): Unit = {
    statements += 1
    val salt = statements.toLong
    statements % 4 match {
      case 1 | 3 =>
        val upd = pick(r, mergeRows * 7 / 10)
        val ins = (0 until mergeRows - upd.size).map(i => nextId + i)
        val src = (upd ++ ins).map(id => id -> gen(id, salt))
        spark.createDataFrame(java.util.Arrays.asList(src.map { case (id, (gr, a, q)) =>
          Row(id, gr, a, q) }: _*), schema).createOrReplaceTempView("pb_msrc")
        dml("sql.merge",
          s"""MERGE INTO $table t USING pb_msrc s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET amt = s.amt, qty = s.qty
             |WHEN NOT MATCHED THEN INSERT (id, grp, amt, qty)
             |VALUES (s.id, s.grp, s.amt, s.qty)""".stripMargin) {
          src.foreach { case (id, (gr, a, q)) =>
            put(id, model.get(id).map(o => (o._1, a, q)).getOrElse((gr, a, q))) }
          nextId += ins.size
        }
      case 2 =>
        val ids = pick(r, updateRows)
        dml("sql.update",
          s"UPDATE $table SET amt = amt + 0.25, qty = qty + 1 WHERE id IN (${ids.mkString(", ")})") {
          ids.foreach(id => model(id) match { case (gr, a, q) => model(id) = (gr, a + 0.25, q + 1) })
        }
      case _ =>
        val ids = pick(r, deleteRows)
        dml("sql.delete", s"DELETE FROM $table WHERE id IN (${ids.mkString(", ")})") {
          ids.foreach(remove)
        }
    }
    if (statements % optimizeEvery == 0) {
      ctx.op("catalog.optimize")(spark.sql(s"OPTIMIZE $table").collect()).foreach { _ =>
        rebasedAt = (GraftBenchBridge.currentVersion(spark, location), modelDigest)
      }
      ctx.op("catalog.optimize_fold")(GraftBenchBridge.awaitFolds())
    }
    reads(r)
  }

  /** A commit, then the fold pass it may have queued, drained here so
    * the fold state every later op sees is the same on every run. */
  private def dml(kind: String, text: String)(applyToModel: => Unit): Unit = {
    ctx.op(kind)(ctx.sql(text)).foreach(_ => applyToModel)
    ctx.op("catalog.commit_fold")(GraftBenchBridge.awaitFolds())
  }

  /** Point selects (the third repeats the first, a probe-memo hit) and
    * one filtered aggregate on the indexed group column. */
  private def reads(r: SplittableRandom): Unit = {
    val a = live(r.nextInt(live.size))
    val b = if (r.nextInt(10) == 0) nextId + 1000 else live(r.nextInt(live.size))
    Seq(a, b, a).foreach(point)
    val g = r.nextInt(groups)
    ctx.op("sql.agg")(ctx.sql(
      s"SELECT count(*), sum(amt), sum(qty) FROM $table WHERE grp = $g")).foreach { case (res, _) =>
      val got = res.head
      ctx.check(Checks.aggMatches(got.getLong(0), got.getDouble(1), got.getLong(2),
        model.valuesIterator.filter(_._1 == g).toSeq), s"catalog_dml agg grp=$g")
    }
  }

  private def point(id: Long): Unit =
    ctx.op("sql.point")(ctx.sql(s"SELECT id, grp, amt, qty FROM $table WHERE id = $id"))
      .foreach { case (res, _) => checkPoint(res, id) }

  private def checkPoint(res: Array[Row], id: Long): Unit =
    ctx.check(res.map(r => (r.getInt(1), r.getDouble(2), r.getLong(3))).toSeq == model.get(id).toSeq,
      s"catalog_dml point $id")

  private def versionDigest(v: Long): (Long, Long) =
    digest(spark.sql(s"SELECT id, grp, amt, qty FROM $table VERSION AS OF $v").collect())

  override def warmup(): Unit = {
    val r = new SplittableRandom(seed ^ 0x3A3A)
    (1 to 4).foreach(_ => statement(r))
    // OPTIMIZE rebases the oldest readable version, so version 0 is
    // read back before the first one
    ctx.check(versionDigest(0) == baseSum, "catalog_dml VERSION AS OF 0 equals the generated base")
    if (!args.smoke) (1 to 4).foreach(_ => statement(r))
  }

  override def run(): Unit = {
    val r = new SplittableRandom(seed)
    (1 to rounds(0.65)).foreach(_ => statement(r))
  }

  override def finish(): Unit = {
    ctx.op("catalog.final_fold")(GraftBenchBridge.awaitFolds())
    segments = foldSegments
    ctx.check(digest(spark.sql(s"SELECT id, grp, amt, qty FROM $table").collect()) == modelDigest,
      "catalog_dml final count and checksum")
    val probe = live(live.size / 2)
    (1 to reopens).foreach { i =>
      val fresh = spark.newSession()
      ctx.op("catalog.reopen") {
        (fresh.sql(s"SELECT id, grp, amt, qty FROM $table WHERE id = $probe").collect(),
          fresh.sql(s"SELECT count(*) FROM $table").head().getLong(0))
      }.foreach { case (pt, n) =>
        checkPoint(pt, probe)
        ctx.check(n == model.size, s"catalog_dml reopen $i count $n != ${model.size}")
      }
      if (i == reopens) ctx.check(digest(fresh.sql(
        s"SELECT id, grp, amt, qty FROM $table").collect()) == modelDigest,
        "catalog_dml reopened checksum")
    }
    if (rebasedAt._1 > 0) ctx.check(versionDigest(rebasedAt._1) == rebasedAt._2,
      s"catalog_dml VERSION AS OF ${rebasedAt._1} equals the model at the last OPTIMIZE")
  }

  private def foldSegments: Int =
    Option(new File(location).list()).map(_.count(_.startsWith("_tfold_"))).getOrElse(0)

  private def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L) else f.length()

  override def bytesPerRow: Double = duBytes(new File(location)).toDouble / model.size

  override def details: Map[String, Double] = Map(
    "merge_p50_ms" -> ctx.p50("sql.merge"),
    "sql_point_p50_ms" -> ctx.p50("sql.point"),
    "agg_p50_ms" -> ctx.p50("sql.agg"),
    "reopen_p50_s" -> ctx.p50("catalog.reopen") / 1000,
    "table_bytes_per_row" -> bytesPerRow,
    "fold_segments" -> segments.toDouble)

  override def traced: Map[String, Double] = Map(
    "catalog.fold_segments" -> segments.toDouble,
    "catalog.reopen.segments" -> segments.toDouble)
}

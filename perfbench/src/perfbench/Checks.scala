package perfbench

import scala.collection.mutable

/** The correctness checkers, as pure functions of an expected model
  * and an observed result, so that [[Checks.selfTest]] can feed them
  * perturbed results. */
object Checks {
  // kv_read: the generator's closed form
  def kvGet(s: KvSpace, k: Long, got: Option[Long]): Boolean = got == s.lookup(k)

  def kvMultiget(s: KvSpace, keys: Seq[Long], got: Map[Long, Long]): Boolean =
    got == keys.flatMap(k => s.lookup(k).map(k -> _)).toMap

  def kvRange(s: KvSpace, i0: Long, width: Int, got: Seq[(Long, Long)]): Boolean =
    got.sortBy(_._1) == (i0 until i0 + width).map(i => (s.key(i), s.value(s.key(i))))

  // kv_write: a driver-side model map
  def modelGet(model: collection.Map[Long, Long], k: Long, got: Option[Long]): Boolean =
    got == model.get(k)

  def checksum(entries: Iterator[(Long, Long)]): Long =
    entries.map { case (k, v) => Gen.entry(k, v) }.sum

  // catalog_dml: rows are (grp, amt, qty); amounts compare within 1e-9
  type Rec = (Int, Double, Long)

  def rowSum(id: Long, r: Rec): Long =
    Gen.mix2(Gen.mix2(id, r._1), Gen.mix2(java.lang.Double.doubleToLongBits(r._2), r._3))

  /** (row count, order-independent checksum) of a table's rows. */
  def digest(rows: Iterator[(Long, Rec)]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), (id, r)) => (n + 1, s + rowSum(id, r)) }

  def aggMatches(count: Long, sumAmt: Double, sumQty: Long, rows: Seq[Rec]): Boolean = {
    val want = rows.map(_._2).sum
    count == rows.size && sumQty == rows.map(_._3).sum &&
      math.abs(sumAmt - want) <= 1e-9 * math.max(1.0, math.abs(want))
  }

  // dedup_batch
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(' ')
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  /** Connected components of the pairs by union-find, each id mapped
    * to the minimum id of its component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Every way a dedup result can be wrong; empty when it is right. */
  def dedup(texts: Array[String], planted: Seq[(Long, Long)], pairs: Seq[(Long, Long)],
      clusters: Map[Long, Long], recall: Double, floor: Double): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val reported = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val found = planted.count { case (a, b) => reported((math.min(a, b), math.max(a, b))) }
    if (found < recall * planted.size)
      out += s"recall: $found of ${planted.size} planted pairs reported"
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def shOf(id: Long) = sh.getOrElseUpdate(id, shingles(texts(id.toInt)))
    reported.foreach { case (a, b) =>
      val j = jaccard(shOf(a), shOf(b))
      if (j < floor) out += f"pair ($a, $b) has exact shingle Jaccard $j%.3f < $floor"
    }
    if (clusters != components(reported))
      out += "clusters differ from the connected components of the reported pairs"
    out.toSeq
  }

  /** Feeds every checker a correct result and perturbed ones; returns
    * the cases it got wrong (empty when every checker works). */
  def selfTest(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(name: String, accepted: Boolean, want: Boolean): Unit =
      if (accepted != want) bad += s"$name: accepted=$accepted, expected $want"

    val s = KvSpace(7L, 1000)
    val k = s.key(10)
    expect("kv get right", kvGet(s, k, s.lookup(k)), true)
    expect("kv get wrong value", kvGet(s, k, Some(s.value(k) + 1)), false)
    expect("kv get missing key", kvGet(s, k, None), false)
    expect("kv get absent key found", kvGet(s, s.absent(10), Some(1L)), false)
    val ks = Seq(s.key(1), s.key(2), s.absent(3))
    val mg = Map(s.key(1) -> s.value(s.key(1)), s.key(2) -> s.value(s.key(2)))
    expect("kv multiget right", kvMultiget(s, ks, mg), true)
    expect("kv multiget missing key", kvMultiget(s, ks, mg - s.key(2)), false)
    expect("kv multiget wrong value", kvMultiget(s, ks, mg + (s.key(1) -> 0L)), false)
    val rg = (5L until 9L).map(i => (s.key(i), s.value(s.key(i))))
    expect("kv range right", kvRange(s, 5, 4, rg.reverse), true)
    expect("kv range missing key", kvRange(s, 5, 4, rg.tail), false)
    expect("kv range extra key", kvRange(s, 5, 4, rg :+ ((s.key(9), s.value(s.key(9))))), false)

    val model = Map(1L -> 10L, 2L -> 20L)
    expect("model get right", modelGet(model, 1L, Some(10L)), true)
    expect("model get wrong value", modelGet(model, 1L, Some(11L)), false)
    expect("model get deleted key found", modelGet(model, 3L, Some(30L)), false)
    expect("checksum wrong value",
      checksum(model.iterator) == checksum(Iterator(1L -> 10L, 2L -> 21L)), false)
    expect("checksum missing key", checksum(model.iterator) == checksum(Iterator(1L -> 10L)), false)

    val rows = Seq((1L, (3, 1.25, 4L)), (2L, (3, 2.5, 5L)))
    expect("digest wrong value",
      digest(rows.iterator) == digest(Iterator((1L, (3, 1.5, 4L)), rows(1))), false)
    expect("digest missing row", digest(rows.iterator) == digest(rows.take(1).iterator), false)
    expect("agg right", aggMatches(2, 3.75, 9, rows.map(_._2)), true)
    expect("agg wrong sum", aggMatches(2, 3.76, 9, rows.map(_._2)), false)
    expect("agg wrong count", aggMatches(1, 3.75, 9, rows.map(_._2)), false)

    val texts = Array("a b c d e f g h i j", "a b c d e f g h i x", "q r s t u v w x y z",
      "a b c d e f g h y x", "k l m n o p q r s t")
    val planted = Seq((0L, 1L), (1L, 3L))
    val pairs = Seq((0L, 1L), (1L, 3L), (0L, 3L))
    val clusters = Map(0L -> 0L, 1L -> 0L, 3L -> 0L)
    expect("dedup right", dedup(texts, planted, pairs, clusters, 1.0, 0.3).isEmpty, true)
    expect("dedup missed planted pair",
      dedup(texts, planted, pairs.tail, clusters, 1.0, 0.3).isEmpty, false)
    expect("dedup dissimilar pair",
      dedup(texts, planted, pairs :+ ((2L, 4L)), clusters ++ Map(2L -> 2L, 4L -> 2L), 1.0, 0.3)
        .isEmpty, false)
    expect("dedup merged cluster",
      dedup(texts, planted, pairs, clusters + (2L -> 0L), 1.0, 0.3).isEmpty, false)
    expect("dedup wrong keeper",
      dedup(texts, planted, pairs, clusters.map { case (id, _) => id -> 1L }, 1.0, 0.3).isEmpty,
      false)
    bad.toSeq
  }
}

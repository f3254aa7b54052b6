package graft.sql

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, PrunedFilteredScan,
  StringStartsWith}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.IndexedRDD
import graft.keys.KeySerializer

/**
 * SQL-visible face of an IndexedRDD: a DataSource relation whose
 * pushed-down key predicates route into index-backed access paths
 * instead of full scans.
 *
 * Catalyst cannot prune cached in-memory partitions by key (SURVEY §4
 * — the core reason this engine exists); exposing the index through
 * `PrunedFilteredScan` closes that gap with public API only:
 *
 *  - `EqualTo`/`In` on the key → partition-pruned `multiget` point read;
 *  - `>`/`>=`/`<`/`<=` on the key (ordered handles whose serializer
 *    byte order IS the column's comparison order: integral, lex-keyed
 *    string, canonical uuid, and composite pairs of those) →
 *    radix-tree range scan (`IndexedRDD.range`/`multiRange`), bounds
 *    intersected across predicates as half-open intervals with
 *    `Option` endpoints (None = unbounded — a strict `< MAX` bound is
 *    therefore DISTINCT from unbounded-above, never conflated) — on
 *    range-partitioned handles the scan also prunes PARTITIONS to the
 *    overlapping key intervals;
 *  - anything else → indexed full scan with Spark re-applying residual
 *    predicates above us.
 *
 * Values are stored as UnsafeRow (converted ONCE at build from the
 * source plan's internal rows), and `needConversion = false`, so scans
 * and the zip join ([[IndexedJoin]]) never round-trip through external
 * Rows. Keys are generic over [[KeySerializer]] — integral, string,
 * uuid-string, decimal(p,0)/BigInt, and any composite PAIR of them
 * ship here; the RDD layer accepts any serializable key.
 */
object IndexedFrame {

  /** Test-only audit: when set, the next `mergeFrame` stores the
    * physical plan of its internal source↔corpus join here, letting
    * specs assert a SQL-text MERGE routes through the lookup join
    * without paying plan stringification on the production path. */
  @volatile private[sql] var auditMergePlans = false
  @volatile private[sql] var lastMergePlan: String = ""

  /** Extracts the key from a stored internal row / a pushed literal,
    * and carries the key domain's ORDER ALGEBRA (comparison, immediate
    * successor, domain minimum) that turns pushed inclusive/strict
    * bounds into the half-open intervals the tries scan. */
  private[sql] sealed trait KeyCodec[K] extends Serializable {
    def fromRow(r: InternalRow, i: Int): K
    def fromLiteral(v: Any): K
    /** true when `fromLiteral` is an exact inverse of the column's
      * string form — if the codec NORMALIZES (e.g. UUID hex case), the
      * relation must keep the filter "unhandled" so Spark re-applies the
      * original predicate above the probe. */
    def exactLiterals: Boolean = true
    /** Key value back in the COLUMN's external Scala form (the inverse
      * of `fromRow`'s normalization) — what a SQL literal of the column
      * type converts from. */
    def toExternalSql(k: Any): Any = k
    /** Natural-order comparison — the order the serializer's bytes
      * preserve on range-capable codecs, and the order pushed bounds
      * intersect in. */
    def ord: Ordering[K]
    /** Immediate successor in that order, None at the domain maximum —
      * what converts inclusive bounds to half-open ones. */
    def succ(k: K): Option[K]
    /** Domain minimum — the lower key of an unbounded-below scan. Only
      * called on range-capable codecs (the range lanes are gated on
      * the serializer's order preservation). */
    def minKey: K
    /** Parse a pushed RANGE literal; None when the literal cannot take
      * part in range semantics on the COLUMN faithfully (wrong runtime
      * type, or — for normalizing codecs — a non-canonical form whose
      * raw string order differs from the key order). A None keeps that
      * filter unhandled, so Spark re-applies it above a wider lane. */
    def rangeLiteral(v: Any): Option[K]
    /** Half-open interval exactly equal to `LIKE 'p%'` prefix matching
      * in this domain's order, when that is expressible — lex string
      * keys only (the uuid codec normalizes and integral domains have
      * no string-prefix semantics). None keeps the filter with Spark. */
    def prefixInterval(v: Any): Option[Iv[K]] = None
  }

  /** Integral AND temporal key columns: timestamps are long
    * microseconds and dates int days internally, so the sign-flip
    * order-preserving long serializer, radix layout, and range algebra
    * all carry over — a `(ts, id)`-keyed handle is the classic
    * time-series layout with EXACT leading-column time-range pruning
    * (strictly stronger than zone maps, which only summarize). Filter
    * literals arrive as `java.sql.Timestamp`/`Instant` (TIMESTAMP),
    * `LocalDateTime` (TIMESTAMP_NTZ), or `java.sql.Date`/`LocalDate`
    * (DATE) and normalize to the internal long domain. */
  private[sql] final class LongCodec(dt: DataType) extends KeyCodec[Long] {
    override def fromRow(r: InternalRow, i: Int): Long = dt match {
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case IntegerType | DateType => r.getInt(i).toLong
      case ShortType => r.getShort(i).toLong
      case ByteType => r.getByte(i).toLong
    }
    override def fromLiteral(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case t: java.sql.Timestamp =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
      case i: java.time.Instant =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
      case l: java.time.LocalDateTime =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l)
      case d: java.sql.Date =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
      case d: java.time.LocalDate =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong
      case other => throw new IllegalArgumentException(
        s"integral key literal required, got ${if (other == null) "null" else other.getClass}")
    }
    override def toExternalSql(k: Any): Any = dt match {
      case LongType => k
      case IntegerType => k.asInstanceOf[Long].toInt
      case ShortType => k.asInstanceOf[Long].toShort
      case ByteType => k.asInstanceOf[Long].toByte
      case TimestampType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(k.asInstanceOf[Long])
      case TimestampNTZType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToLocalDateTime(k.asInstanceOf[Long])
      case DateType => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaDate(k.asInstanceOf[Long].toInt)
    }
    override def ord: Ordering[Long] = Ordering.Long
    override def succ(k: Long): Option[Long] =
      if (k == Long.MaxValue) None else Some(k + 1)
    override def minKey: Long = Long.MinValue
    override def rangeLiteral(v: Any): Option[Long] = Try(fromLiteral(v)).toOption
  }

  /** DOUBLE / FLOAT key columns (ordered secondaries and composite
    * components): values canonicalize -0.0 → 0.0 (SQL equality) and
    * compare in IEEE total order (-Inf < finite < +Inf < NaN — Spark's
    * own double ordering), which [[KeySerializer.DoubleSerializer]]'s
    * byte order preserves, so range predicates and the ordered
    * histogram carry over unchanged. FLOAT columns widen losslessly to
    * double; their order algebra (successor, extrema) steps in FLOAT
    * precision so half-open interval conversion stays exact on the
    * column's actual domain. */
  private[sql] final class DoubleCodec(dt: DataType) extends KeyCodec[Double] {
    private def canon(d: Double): Double =
      if (d == 0.0) 0.0 else d // +0.0 for both zeros; NaN falls through
    override def fromRow(r: InternalRow, i: Int): Double = canon(dt match {
      case DoubleType => r.getDouble(i)
      case FloatType => r.getFloat(i).toDouble
    })
    override def fromLiteral(v: Any): Double = canon(v match {
      case d: Double => d
      case f: Float => f.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"numeric key literal required, got ${if (other == null) "null" else other.getClass}")
    })
    override def toExternalSql(k: Any): Any = dt match {
      case FloatType => k.asInstanceOf[Double].toFloat
      case _ => k
    }
    override def ord: Ordering[Double] = Ordering.Double.TotalOrdering
    override def succ(k: Double): Option[Double] =
      if (k.isNaN) None // NaN is the total-order maximum
      else if (k == Double.PositiveInfinity) Some(Double.NaN)
      else dt match {
        case FloatType => Some(canon(Math.nextUp(k.toFloat).toDouble))
        case _ => Some(canon(Math.nextUp(k)))
      }
    override def minKey: Double = Double.NegativeInfinity
    override def rangeLiteral(v: Any): Option[Double] = Try(fromLiteral(v)).toOption
  }

  /** SCALED decimal key columns (scale > 0, precision ≤ 18): values
    * are EXACT fixed-point longs — the unscaled representation — so
    * the sign-flip long serializer, radix layout, range algebra, and
    * the ordered-secondary histogram all carry over with zero loss
    * (the 2^53 hazard of a double round-trip never applies). Pushed
    * literals participate only when they are exactly representable at
    * the column's scale; anything finer stays with Spark. */
  private[sql] final class ScaledDecimalCodec(precision: Int, scale: Int)
      extends KeyCodec[Long] {
    override def fromRow(r: InternalRow, i: Int): Long =
      r.getDecimal(i, precision, scale).toUnscaledLong
    override def fromLiteral(v: Any): Long = v match {
      case bd: java.math.BigDecimal =>
        bd.setScale(scale).unscaledValue().longValueExact()
      case bd: BigDecimal =>
        bd.bigDecimal.setScale(scale).unscaledValue().longValueExact()
      case d: org.apache.spark.sql.types.Decimal =>
        d.toJavaBigDecimal.setScale(scale).unscaledValue().longValueExact()
      case other => throw new IllegalArgumentException(
        s"decimal key literal required, got ${if (other == null) "null" else other.getClass}")
    }
    override def toExternalSql(k: Any): Any =
      java.math.BigDecimal.valueOf(k.asInstanceOf[Long], scale)
    override def ord: Ordering[Long] = Ordering.Long
    override def succ(k: Long): Option[Long] =
      if (k == Long.MaxValue) None else Some(k + 1)
    override def minKey: Long = Long.MinValue
    override def rangeLiteral(v: Any): Option[Long] = Try(fromLiteral(v)).toOption
  }

  private[sql] object StringCodec extends KeyCodec[String] {
    override def fromRow(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
    override def fromLiteral(v: Any): String = v match {
      case s: String => s
      case u: UTF8String => u.toString
      case other => throw new IllegalArgumentException(
        s"string key literal required, got ${if (other == null) "null" else other.getClass}")
    }
    /** UTF-8 binary order — how UTF8String and the lex trie compare. */
    override def ord: Ordering[String] = KeySerializer.Utf8StringOrdering
    /** The immediate successor in UTF-8 binary order is `s + NUL`. */
    override def succ(k: String): Option[String] = Some(k + 0.toChar)
    override def minKey: String = ""
    override def rangeLiteral(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    /** `s startsWith p` ⟺ `p <= s < upper(p)` in UTF-8 binary order:
      * UTF-8 bytes preserve code-point order, so `upper` increments the
      * prefix's LAST code point (skipping the unassignable surrogate
      * gap D800-DFFF); trailing U+10FFFF code points have no successor
      * and drop off first. An empty (or all-U+10FFFF) prefix leaves
      * that side unbounded. The interval is EXACT — the relation may
      * claim the filter fully, no re-check above the scan needed. */
    override def prefixInterval(v: Any): Option[Iv[String]] = rangeLiteral(v).map { p =>
      var q = p
      while (q.nonEmpty && q.codePointBefore(q.length) == Character.MAX_CODE_POINT)
        q = q.substring(0, q.length - Character.charCount(Character.MAX_CODE_POINT))
      val to =
        if (q.isEmpty) None
        else {
          val cp = q.codePointBefore(q.length)
          val next =
            if (cp + 1 == Character.MIN_SURROGATE) 0xE000 else cp + 1
          Some(q.substring(0, q.length - Character.charCount(cp)) +
            new String(Character.toChars(next)))
        }
      Iv(if (p.isEmpty) None else Some(p), to)
    }
  }

  /** UUID-string key columns probe through the 16-byte UUID serializer
    * (half the key bytes of the 36-char string form). The build REJECTS
    * non-canonical stored values (anything where `UUID.fromString(s)
    * .toString != s`) — with stored keys canonical, the uuid byte order
    * IS the raw string order, so pushed ranges with CANONICAL literals
    * are claimed exactly ([[rangeLiteral]] gates on canonicality).
    * Point literals still normalize hex case (`fromLiteral`), so point
    * semantics are not exact: the relation keeps the original equality
    * predicate for Spark to re-apply, and a malformed literal is simply
    * a non-match, never an error. */
  private[sql] object UuidCodec extends KeyCodec[java.util.UUID] {
    override def fromRow(r: InternalRow, i: Int): java.util.UUID = {
      val s = r.getUTF8String(i).toString
      val u = java.util.UUID.fromString(s)
      if (u.toString != s) throw new IllegalArgumentException(
        s"non-canonical UUID key '$s' (indexUuid requires the canonical lower-case form)")
      u
    }
    override def fromLiteral(v: Any): java.util.UUID = v match {
      case s: String => java.util.UUID.fromString(s)
      case u: UTF8String => java.util.UUID.fromString(u.toString)
      case u: java.util.UUID => u
      case other => throw new IllegalArgumentException(
        s"uuid key literal required, got ${if (other == null) "null" else other.getClass}")
    }
    override def exactLiterals: Boolean = false
    override def toExternalSql(k: Any): Any = k.toString
    override def ord: Ordering[java.util.UUID] = KeySerializer.UuidLexOrdering
    override def succ(k: java.util.UUID): Option[java.util.UUID] = {
      val (msb, lsb) = (k.getMostSignificantBits, k.getLeastSignificantBits)
      if (lsb != -1L) Some(new java.util.UUID(msb, lsb + 1))
      else if (msb != -1L) Some(new java.util.UUID(msb + 1, 0L))
      else None
    }
    override def minKey: java.util.UUID = new java.util.UUID(0L, 0L)
    override def rangeLiteral(v: Any): Option[java.util.UUID] = {
      val s = v match {
        case x: String => x
        case u: UTF8String => u.toString
        case _ => return None
      }
      Try(java.util.UUID.fromString(s)).toOption.filter(_.toString == s)
    }
  }

  /** decimal(p, 0) key columns as BigInt keys (SURVEY §2.8's stated
    * mapping of the reference's first-class BigInt keys, reference
    * KeySerializer.scala:69-80). The length-prefixed BigInt encoding is
    * NOT order-preserving, so these handles serve points and full scans
    * only — range filters stay with Spark (the gates check the
    * serializer, never this codec's order algebra). */
  private[sql] final class BigIntCodec(precision: Int) extends KeyCodec[BigInt] {
    override def fromRow(r: InternalRow, i: Int): BigInt =
      r.getDecimal(i, precision, 0).toBigDecimal.toBigInt
    override def fromLiteral(v: Any): BigInt = v match {
      case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
      case d: BigDecimal => d.toBigIntExact.getOrElse(
        throw new IllegalArgumentException(s"non-integral decimal literal $d"))
      case b: BigInt => b
      case l: Long => BigInt(l)
      case i: Int => BigInt(i)
      case other => throw new IllegalArgumentException(
        s"decimal key literal required, got ${if (other == null) "null" else other.getClass}")
    }
    override def toExternalSql(k: Any): Any =
      new java.math.BigDecimal(k.asInstanceOf[BigInt].bigInteger)
    override def ord: Ordering[BigInt] = Ordering.BigInt
    override def succ(k: BigInt): Option[BigInt] = Some(k + 1)
    override def minKey: BigInt = throw new UnsupportedOperationException(
      "BigInt keys have no domain minimum (range lanes are gated off: " +
        "the length-prefixed encoding is not order-preserving)")
    override def rangeLiteral(v: Any): Option[BigInt] = None
  }

  /** Tag a codec for `_frame` persistence. */
  private def codecTag(c: KeyCodec[_]): String = c match {
    case _: LongCodec => "long"
    case StringCodec => "string"
    case UuidCodec => "uuid"
    case _: BigIntCodec => "bigint"
  }

  // ----------------------------------------------------- schema evolution

  /** Serializable row widener for `ALTER TABLE ... ADD COLUMN`: old
    * fields copy by position, appended fields read NULL. The unsafe
    * projection and scratch row re-create lazily per deserialized
    * task — never shipped. */
  private final class WidenRow(oldTypes: Array[DataType],
      newSchema: StructType) extends (InternalRow => InternalRow)
      with Serializable {
    @transient private lazy val proj = UnsafeProjection.create(newSchema)
    @transient private lazy val buf = new GenericInternalRow(newSchema.length)
    def apply(r: InternalRow): InternalRow = {
      var i = 0
      while (i < oldTypes.length) { buf.update(i, r.get(i, oldTypes(i))); i += 1 }
      var j = oldTypes.length
      while (j < newSchema.length) { buf.update(j, null); j += 1 }
      proj(buf).copy()
    }
  }

  /** Guard for schema evolution: strictly APPEND-ONLY (existing
    * columns keep name, type, and position) and added columns must be
    * nullable — the replayed log fills them with NULL. */
  private[sql] def validateWiden(oldSchema: StructType,
      newSchema: StructType): Unit = {
    require(newSchema.length >= oldSchema.length &&
      oldSchema.fields.zip(newSchema.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType },
      s"schema evolution must append columns: " +
        s"${oldSchema.simpleString} -> ${newSchema.simpleString}")
    require(newSchema.fields.drop(oldSchema.length).forall(_.nullable),
      "added columns must be nullable")
  }

  /** Is `from -> to` a LOSSLESS widening this engine evolves in place
    * (Delta's type-widening set: every old value reads back exactly
    * under the new type, so the log needs no rewrite)? */
  private[sql] def widensTo(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** Guard for the GENERAL schema remap (RENAME / DROP / type-widen /
    * ADD): `positions(i)` = the old field index feeding new field `i`,
    * or -1 for an added (nullable, NULL-filled) column. Checks: every
    * referenced old index is in range and used at most once, type
    * changes are lossless widenings, added columns are nullable. */
  private[sql] def validateRemap(oldSchema: StructType,
      newSchema: StructType, positions: Array[Int]): Unit = {
    require(positions.length == newSchema.length,
      s"remap positions (${positions.length}) must match the new " +
        s"schema width (${newSchema.length})")
    val used = positions.filter(_ >= 0)
    require(used.forall(_ < oldSchema.length) && used.distinct.length == used.length,
      "remap positions must reference distinct existing fields")
    positions.zipWithIndex.foreach { case (p, i) =>
      if (p < 0)
        require(newSchema.fields(i).nullable,
          s"added column '${newSchema.fields(i).name}' must be nullable")
      else {
        val from = oldSchema.fields(p).dataType
        val to = newSchema.fields(i).dataType
        require(from == to || widensTo(from, to),
          s"cannot evolve '${oldSchema.fields(p).name}' from " +
            s"${from.catalogString} to ${to.catalogString} in place — " +
            "only lossless widenings (tinyint->smallint->int->bigint, " +
            "float->double) evolve without a rewrite")
      }
    }
  }

  /** Per-row remap for the general evolution: project old fields into
    * their new positions (widening-cast where the type changed), NULL
    * for added fields. One narrow index-preserving mapValues layer —
    * no shuffle, keys untouched; OPTIMIZE folds it into the base. */
  private final class RemapRow(oldTypes: Array[DataType],
      newSchema: StructType, positions: Array[Int])
      extends (InternalRow => InternalRow) with Serializable {
    @transient private lazy val proj = UnsafeProjection.create(newSchema)
    @transient private lazy val buf = new GenericInternalRow(newSchema.length)
    private val converters: Array[Any => Any] =
      positions.zipWithIndex.map { case (p, i) =>
        if (p < 0) null
        else (oldTypes(p), newSchema.fields(i).dataType) match {
          case (f, t) if f == t => identity[Any] _
          case (ByteType, ShortType) => (v: Any) => v.asInstanceOf[Byte].toShort
          case (ByteType, IntegerType) => (v: Any) => v.asInstanceOf[Byte].toInt
          case (ByteType, LongType) => (v: Any) => v.asInstanceOf[Byte].toLong
          case (ShortType, IntegerType) => (v: Any) => v.asInstanceOf[Short].toInt
          case (ShortType, LongType) => (v: Any) => v.asInstanceOf[Short].toLong
          case (IntegerType, LongType) => (v: Any) => v.asInstanceOf[Int].toLong
          case (FloatType, DoubleType) => (v: Any) => v.asInstanceOf[Float].toDouble
          case (f, t) => throw new IllegalStateException(
            s"unreachable remap cast $f -> $t (validateRemap gates)")
        }
      }
    def apply(r: InternalRow): InternalRow = {
      var i = 0
      while (i < positions.length) {
        val p = positions(i)
        if (p < 0) buf.update(i, null)
        else {
          val v = r.get(p, oldTypes(p))
          buf.update(i, if (v == null) null else converters(i)(v))
        }
        i += 1
      }
      proj(buf).copy()
    }
  }

  /** Identity-prefix positions for a pure ADD COLUMNS evolution. */
  private[sql] def widenPositions(oldLen: Int, newLen: Int): Array[Int] =
    Array.tabulate(newLen)(i => if (i < oldLen) i else -1)

  /** True when the remap changes only NAMES (identity positions, every
    * type unchanged) — the stored rows then need no projection at all. */
  private[sql] def remapIsNameOnly(oldSchema: StructType,
      newSchema: StructType, positions: Array[Int]): Boolean =
    positions.length == oldSchema.length &&
      positions.zipWithIndex.forall { case (p, i) => p == i } &&
      newSchema.fields.zip(oldSchema.fields).forall { case (n, o) =>
        n.dataType == o.dataType }

  // ------------------------------------------------------------ zone maps

  /** Per-partition min/max summary of one VALUE column — the SMA /
    * parquet-row-group-stats analog at index-partition granularity.
    * `ZoneEmpty` marks a partition with no non-null values in the
    * column (no comparison predicate can match there). Integral and
    * timestamp columns summarize as longs, fractional as doubles —
    * never cross-widened, so pruning comparisons are exact. */
  private[sql] sealed trait Zone extends Serializable
  private[sql] case object ZoneEmpty extends Zone
  private[sql] final case class ZoneLong(min: Long, max: Long) extends Zone
  private[sql] final case class ZoneDouble(min: Double, max: Double) extends Zone
  /** String bounds, ordered by UTF-8 BINARY comparison (what Spark's
    * string comparisons and [[graft.keys.KeySerializer.Utf8StringOrdering]]
    * use — java.lang.String order differs on surrogates, so all zone
    * string comparisons go through [[utf8Lt]]). */
  private[sql] final case class ZoneString(min: String, max: String) extends Zone

  private[sql] def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
  private def utf8Lte(a: String, b: String): Boolean = !utf8Lt(b, a)

  /** A zone-prunable literal in its column's summary domain. */
  private[sql] sealed trait ZoneLit extends Serializable
  private[sql] final case class LitLong(v: Long) extends ZoneLit
  private[sql] final case class LitDouble(v: Double) extends ZoneLit
  private[sql] final case class LitString(v: String) extends ZoneLit

  /** Literal of a zone-prunable filter in the column's summary domain.
    * Conservative: an unconvertible literal disables pruning for its
    * conjunct (never wrongly drops a partition). Long literals against
    * fractional columns are refused — longValue→double can round, and
    * a rounded bound could prune a partition holding true matches. */
  private[sql] def zoneLiteral(dt: DataType, v: Any): Option[ZoneLit] =
    zoneLiteralLD(dt, v).map {
      case Left(l) => LitLong(l)
      case Right(d) => LitDouble(d)
    }.orElse((dt, v) match {
      case (StringType, s: String) => Some(LitString(s))
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(LitString(u.toString))
      case _ => None
    })

  private def zoneLiteralLD(dt: DataType, v: Any): Option[Either[Long, Double]] =
    (dt, v) match {
      case (TimestampType, t: java.sql.Timestamp) => Some(Left(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
      case (TimestampType, i: java.time.Instant) => Some(Left(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
      case (TimestampNTZType, l: java.time.LocalDateTime) => Some(Left(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l)))
      case (DateType, d: java.sql.Date) => Some(Left(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
      case (DateType, d: java.time.LocalDate) => Some(Left(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong))
      case (LongType | IntegerType | ShortType | ByteType, n: java.lang.Number)
          if n.isInstanceOf[java.lang.Long] || n.isInstanceOf[java.lang.Integer] ||
            n.isInstanceOf[java.lang.Short] || n.isInstanceOf[java.lang.Byte] =>
        Some(Left(n.longValue()))
      case (DoubleType | FloatType, n: java.lang.Number)
          if n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float] ||
            n.isInstanceOf[java.lang.Integer] || n.isInstanceOf[java.lang.Short] ||
            n.isInstanceOf[java.lang.Byte] =>
        Some(Right(n.doubleValue()))
      case _ => None
    }

  /** Whether a partition with summary `z` can hold a row satisfying
    * `cmp` against literal `lit` (-2 <, -1 <=, 0 =, 1 >=, 2 >). */
  /** Union of two zones' bounds (the widen operation — a row covered
    * by either input is covered by the result). */
  private[sql] def mergeZones(a: Zone, b: Zone): Zone = (a, b) match {
    case (ZoneEmpty, z) => z
    case (z, ZoneEmpty) => z
    case (ZoneLong(amn, amx), ZoneLong(bmn, bmx)) =>
      ZoneLong(math.min(amn, bmn), math.max(amx, bmx))
    case (ZoneDouble(amn, amx), ZoneDouble(bmn, bmx)) =>
      ZoneDouble(math.min(amn, bmn), math.max(amx, bmx))
    case (ZoneString(amn, amx), ZoneString(bmn, bmx)) =>
      ZoneString(if (utf8Lt(amn, bmn)) amn else bmn,
        if (utf8Lt(amx, bmx)) bmx else amx)
    case _ => throw new IllegalStateException(
      s"zone kind mismatch: $a vs $b")
  }

  private[sql] def zoneMayMatch(z: Zone, cmp: Int, lit: ZoneLit): Boolean =
    (z, lit) match {
      case (ZoneEmpty, _) => false // comparisons never match null
      case (ZoneLong(mn, mx), LitLong(v)) => cmp match {
        case -2 => mn < v
        case -1 => mn <= v
        case 0 => mn <= v && v <= mx
        case 1 => mx >= v
        case 2 => mx > v
      }
      case (ZoneDouble(mn, mx), LitDouble(v)) => cmp match {
        case -2 => mn < v
        case -1 => mn <= v
        case 0 => mn <= v && v <= mx
        case 1 => mx >= v
        case 2 => mx > v
      }
      case (ZoneString(mn, mx), LitString(v)) => cmp match {
        case -2 => utf8Lt(mn, v)
        case -1 => utf8Lte(mn, v)
        case 0 => utf8Lte(mn, v) && utf8Lte(v, mx)
        case 1 => utf8Lte(v, mx)
        case 2 => utf8Lt(v, mx)
      }
      case _ => true // summary/literal domain mismatch: never prune
    }

  /** Half-open interval in one key domain's natural order; a `None`
    * endpoint is unbounded on that side (NEVER encoded as a sentinel
    * key value — `< domainMax` strict and "unbounded above" stay
    * distinct). `empty` short-circuits contradictions (`k > MAX`,
    * crossed bounds) to a zero-row scan. */
  private[sql] final case class Iv[T](from: Option[T], to: Option[T],
      empty: Boolean = false)

  /** Canonical predicate signature — the probe-memo key (order- and
    * duplicate-insensitive, like the AND semantics it caches). Every
    * token is length-prefixed, so no value can fake a separator: a
    * string IN ('a,b') and IN ('a','b') MUST get distinct keys — a
    * collision would serve the wrong key set, and Spark's re-applied
    * predicate above the scan can only drop rows, never restore them. */
  private[sql] def secondaryProbeSig(eqPreds: Seq[(String, Seq[Any])],
      rangePreds: Seq[(String, Iv[_])]): String = {
    def tok(s: String): String = s"${s.length}:$s"
    (eqPreds.map { case (c, vs) =>
        tok(c) + "=" + vs.map(v => tok(String.valueOf(v))).sorted.mkString }.sorted ++
      rangePreds.map { case (c, iv) =>
        tok(c) + "~" + tok(iv.from.toString) + tok(iv.to.toString) +
          (if (iv.empty) "!" else "") }.sorted)
      .mkString("|")
  }

  /** Intersect pushed intervals: max of lower bounds, min of upper
    * bounds, emptiness when they cross. */
  private[sql] def meet[T](ivs: Seq[Iv[T]], ord: Ordering[T]): Iv[T] =
    if (ivs.exists(_.empty)) Iv(None, None, empty = true)
    else {
      val from = ivs.flatMap(_.from).reduceOption((a, b) => ord.max(a, b))
      val to = ivs.flatMap(_.to).reduceOption((a, b) => ord.min(a, b))
      val empty = (from, to) match {
        case (Some(f), Some(t)) => ord.gteq(f, t)
        case _ => false
      }
      Iv(from, to, empty)
    }

  /** Half-open interval implied by ONE pushed range filter on `col`,
    * via the codec's order algebra. `eqAsPrefix` additionally maps
    * equality to the one-key interval [k, succ k) — what a composite
    * LEADING column wants (a prefix scan); second columns leave
    * equality to the point lane. Literals the codec cannot take part
    * in range semantics ([[KeyCodec.rangeLiteral]]) yield None for
    * inequalities (filter stays with Spark) and an EMPTY interval for
    * equality (an unmatchable literal equals no stored key). */
  private[sql] def boundsOn[T](col: String, codec: KeyCodec[T],
      eqAsPrefix: Boolean, f: Filter): Option[Iv[T]] = f match {
    case EqualTo(`col`, null) if eqAsPrefix => Some(Iv[T](None, None, empty = true))
    case EqualTo(`col`, v) if eqAsPrefix =>
      Some(codec.rangeLiteral(v) match {
        case Some(k) => Iv(Some(k), codec.succ(k))
        case None => Iv[T](None, None, empty = true)
      })
    case GreaterThan(`col`, v) if v != null =>
      codec.rangeLiteral(v).map(k => codec.succ(k) match {
        case Some(s) => Iv(Some(s), None)
        case None => Iv[T](None, None, empty = true) // k > domain max
      })
    case GreaterThanOrEqual(`col`, v) if v != null =>
      codec.rangeLiteral(v).map(k => Iv(Some(k), None))
    case LessThan(`col`, v) if v != null =>
      codec.rangeLiteral(v).map(k => Iv(None, Some(k)))
    case LessThanOrEqual(`col`, v) if v != null =>
      codec.rangeLiteral(v).map(k => Iv(None, codec.succ(k)))
    // LIKE 'p%' pushes down as StringStartsWith; on a lex string domain
    // the match set IS one half-open interval (see prefixInterval)
    case StringStartsWith(`col`, v) if v != null => codec.prefixInterval(v)
    case _ => None
  }

  /** A stored key value (the codecs' storage domain: Long for every
    * integral/temporal column, String, UUID, BigInt) converted to the
    * column's CATALYST-internal form, for emitting index-derived
    * values straight into InternalRows. */
  /** Marker for an integral [[GroupFold]] sum that overflowed Long:
    * the exec converts it to ANSI-error / TRY-NULL. */
  private[sql] case object GroupFoldOverflow

  /** Histogram entry encoding, per secondary column type. */
  private[sql] sealed trait DistKind extends Serializable
  private[sql] case object DistIntegral extends DistKind
  private[sql] case object DistFp extends DistKind
  private[sql] final case class DistScaled(scale: Int) extends DistKind

  /** One-row (or empty) DataFrame over an already-materialized internal
    * row — the FUSED as-of read's result surface (the floor descent
    * already fetched the row, so no second probe job ever runs). */
  private def rowDF(row: Option[InternalRow], schema: StructType)(
      implicit spark: SparkSession): DataFrame = {
    val rdd = localRows(spark.sparkContext, row.toSeq)
    org.apache.spark.sql.graftbridge.ExpressionBridge
      .internalDF(spark, rdd, schema)
  }

  /** Mutable per-group fold state for
    * [[SecondaryCapable.secondaryFilteredAggFor]]. fp sums fold
    * exactly in BigDecimal while finite (plus a plain IEEE shadow that
    * takes over when a NaN/Inf appears); integral sums fold in checked
    * Long arithmetic with a sticky overflow flag the exec converts to
    * ANSI-error / TRY-NULL semantics. Top-level (not trait-nested) so
    * executor closures never capture a handle. */
  private[sql] final class GroupFold extends Serializable {
    // Exact fp sum as a NONOVERLAPPING EXPANSION (Shewchuk's
    // grow-expansion with zero elimination, the fsum shape): the
    // component multiset sums EXACTLY to the running total, per-row
    // cost is a handful of flops with zero allocation — replacing the
    // two BigDecimal allocations every row paid before (the dominant
    // per-row cost of the corpus fold). Escalates ONCE to BigDecimal
    // (`bd` non-null from then on) when a magnitude nears the double
    // range or the expansion outgrows its cap; each double converts
    // exactly, so the escalation — and the final rounding through
    // [[fpSumBD]].doubleValue — is bit-identical to the previous
    // always-BigDecimal fold.
    var exp: Array[Double] = null
    var expN: Int = 0
    var bd: java.math.BigDecimal = null
    var plain: Double = 0.0
    var nonFinite = false

    private def escalate(): Unit = {
      if (bd == null) bd = java.math.BigDecimal.ZERO
      var i = 0
      while (i < expN) {
        if (exp(i) != 0.0) bd = bd.add(new java.math.BigDecimal(exp(i)))
        i += 1
      }
      exp = null
      expN = 0
    }

    /** Exact accumulation of a FINITE d (callers gate non-finite). */
    private[sql] def addFpExact(d: Double): Unit = {
      if (bd != null) {
        if (d != 0.0) bd = bd.add(new java.math.BigDecimal(d))
        return
      }
      // pre-escalate when a two-sum could overflow: both operands
      // bounded by 8.9e307 keeps every intermediate ≤ 1.78e308 < max
      if (math.abs(d) > 8.9e307 ||
          (expN > 0 && math.abs(exp(expN - 1)) > 8.9e307)) {
        escalate()
        if (d != 0.0) bd = bd.add(new java.math.BigDecimal(d))
        return
      }
      if (exp == null) exp = new Array[Double](4)
      var q = d
      var k = 0
      var j = 0
      while (j < expN) {
        val e = exp(j)
        val s = q + e
        val bv = s - q
        val err = (q - (s - bv)) + (e - bv)
        if (err != 0.0) { exp(k) = err; k += 1 }
        q = s
        j += 1
      }
      if (k == exp.length) {
        if (exp.length >= 64) {
          // exotic exponent spread: finish this add exactly in bd
          expN = k
          escalate()
          if (q != 0.0) bd = bd.add(new java.math.BigDecimal(q))
          return
        }
        exp = java.util.Arrays.copyOf(exp, exp.length * 2)
      }
      exp(k) = q
      expN = k + 1
    }

    /** The exact sum as BigDecimal (components convert exactly). */
    private[sql] def fpSumBD: java.math.BigDecimal = {
      if (bd != null) bd
      else {
        var acc = java.math.BigDecimal.ZERO
        var i = 0
        while (i < expN) {
          if (exp(i) != 0.0) acc = acc.add(new java.math.BigDecimal(exp(i)))
          i += 1
        }
        acc
      }
    }
    var lsum = 0L
    var overflow = false
    var nonNull = 0L
    var rows = 0L
    // extrema in Double.compare total order (NaN greatest — Spark's
    // own fp ordering) / plain Long order
    var minD = Double.NaN
    var maxD = Double.NaN
    var minL = 0L
    var maxL = 0L
    def addFp(d: Double): Unit = {
      plain += d
      if (!nonFinite) {
        if (java.lang.Double.isFinite(d)) addFpExact(d)
        else nonFinite = true
      }
      if (nonNull == 0) { minD = d; maxD = d }
      else {
        if (java.lang.Double.compare(d, minD) < 0) minD = d
        if (java.lang.Double.compare(d, maxD) > 0) maxD = d
      }
      nonNull += 1
    }
    def addLong(l: Long): Unit = {
      if (!overflow) {
        try lsum = Math.addExact(lsum, l)
        catch { case _: ArithmeticException => overflow = true }
      }
      if (nonNull == 0) { minL = l; maxL = l }
      else {
        if (l < minL) minL = l
        if (l > maxL) maxL = l
      }
      nonNull += 1
    }
    /** Independent copy — the incremental carry mutates its own clone
      * so folds shared with an ancestor handle stay frozen. */
    def copyFold(): GroupFold = {
      val c = new GroupFold
      c.exp = if (exp == null) null else exp.clone()
      c.expN = expN
      c.bd = bd; c.plain = plain; c.nonFinite = nonFinite
      c.lsum = lsum; c.overflow = overflow
      c.nonNull = nonNull; c.rows = rows
      c.minD = minD; c.maxD = maxD; c.minL = minL; c.maxL = maxL
      c
    }
    def merge(o: GroupFold): GroupFold = {
      plain += o.plain
      nonFinite ||= o.nonFinite
      if (!nonFinite) {
        if (o.bd != null) { escalate(); bd = bd.add(o.bd) }
        else {
          var i = 0
          while (i < o.expN) { addFpExact(o.exp(i)); i += 1 }
        }
      }
      if (!overflow && !o.overflow) {
        try lsum = Math.addExact(lsum, o.lsum)
        catch { case _: ArithmeticException => overflow = true }
      } else overflow = true
      if (o.nonNull > 0) {
        if (nonNull == 0) { minD = o.minD; maxD = o.maxD; minL = o.minL; maxL = o.maxL }
        else {
          if (java.lang.Double.compare(o.minD, minD) < 0) minD = o.minD
          if (java.lang.Double.compare(o.maxD, maxD) > 0) maxD = o.maxD
          if (o.minL < minL) minL = o.minL
          if (o.maxL > maxL) maxL = o.maxL
        }
      }
      nonNull += o.nonNull
      rows += o.rows
      this
    }
    /** Sum (or overflow marker), counts, and raw extrema; fp chooses
      * the exact fold unless a special took over. */
    def result(fp: Boolean): GroupAgg = {
      val s: Any =
        if (fp) java.lang.Double.valueOf(if (nonFinite) plain else fpSumBD.doubleValue)
        else if (overflow) GroupFoldOverflow
        else java.lang.Long.valueOf(lsum)
      val (mn, mx): (Option[Any], Option[Any]) =
        if (nonNull == 0) (None, None)
        else if (fp) (Some(java.lang.Double.valueOf(minD)),
          Some(java.lang.Double.valueOf(maxD)))
        else (Some(java.lang.Long.valueOf(minL)),
          Some(java.lang.Long.valueOf(maxL)))
      GroupAgg(s, nonNull, rows, mn, mx)
    }
  }

  /** One secondary value's grouped aggregate state: Σ aggCol (Long,
    * Double, or [[GroupFoldOverflow]]), non-null count, row count, raw
    * extrema (Long/Double, None when every aggCol value is null). */
  private[sql] final case class GroupAgg(sum: Any, nonNull: Long,
      rows: Long, min: Option[Any], max: Option[Any])

  /** Combine the per-value results of an IN-list probe into one
    * aggregate (groups are disjoint, so counts add; extrema combine in
    * the same orders the fold used; an overflow marker is sticky).
    * None = no probed value exists (SQL over the empty set). */
  private[sql] def combineGroupAggs(gs: Seq[GroupAgg]): Option[GroupAgg] =
    gs.reduceOption { (a, b) =>
      val sum: Any = (a.sum, b.sum) match {
        case (GroupFoldOverflow, _) | (_, GroupFoldOverflow) => GroupFoldOverflow
        case (x: java.lang.Double, y: java.lang.Double) =>
          java.lang.Double.valueOf(x.doubleValue + y.doubleValue)
        case (x: java.lang.Long, y: java.lang.Long) =>
          try java.lang.Long.valueOf(Math.addExact(x.longValue, y.longValue))
          catch { case _: ArithmeticException => GroupFoldOverflow }
        case (x: org.apache.spark.sql.types.Decimal,
            y: org.apache.spark.sql.types.Decimal) => x + y
        case (x, y) => throw new IllegalStateException(s"mixed sums $x / $y")
      }
      def pick(x: Option[Any], y: Option[Any], wantMin: Boolean): Option[Any] =
        (x, y) match {
          case (None, o) => o
          case (o, None) => o
          case (Some(p), Some(q)) =>
            val c = (p, q) match {
              case (pd: java.lang.Double, qd: java.lang.Double) =>
                java.lang.Double.compare(pd, qd)
              case (pl: java.lang.Long, ql: java.lang.Long) =>
                java.lang.Long.compare(pl, ql)
              case _ => throw new IllegalStateException(s"mixed extrema $p / $q")
            }
            if ((c <= 0) == wantMin) Some(p) else Some(q)
        }
      GroupAgg(sum, a.nonNull + b.nonNull, a.rows + b.rows,
        pick(a.min, b.min, wantMin = true), pick(a.max, b.max, wantMin = false))
    }

  /** value ↔ sortable-Long transforms for fp histogram entries: signed
    * Long order over the encoding == `Double.compare` total order. */
  private[sql] def sortableBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits >= 0) bits else bits ^ Long.MaxValue
  }
  private[sql] def fromSortableBits(l: Long): Double =
    java.lang.Double.longBitsToDouble(if (l >= 0) l else l ^ Long.MaxValue)

  private[sql] def toCatalystKey(dt: DataType, v: Any): Any = dt match {
    case StringType => v match {
      case s: String => UTF8String.fromString(s)
      case u: java.util.UUID => UTF8String.fromString(u.toString)
      case other => UTF8String.fromString(String.valueOf(other))
    }
    case IntegerType | DateType => v.asInstanceOf[Long].toInt
    case ShortType => v.asInstanceOf[Long].toShort
    case ByteType => v.asInstanceOf[Long].toByte
    case FloatType => v.asInstanceOf[Double].toFloat
    case dt: DecimalType => v match {
      case bi: BigInt => org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(bi.bigInteger))
      case l: java.lang.Long => // ScaledDecimalCodec: unscaled long
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(l, dt.scale))
      case other => org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(String.valueOf(other)))
    }
    case _ => v // LongType / Timestamp(NTZ)Type: long; DoubleType: double
  }

  /** The column one pushed range-ish filter constrains, if any. */
  private[sql] def rangeColOfFilter(f: Filter): Option[String] = f match {
    case GreaterThan(c, _) => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _) => Some(c)
    case LessThanOrEqual(c, _) => Some(c)
    case StringStartsWith(c, _) => Some(c)
    case _ => None
  }

  /** The join surface [[IndexedJoin]] plans against, implemented by
    * single-key AND composite handles: the type-erased index, the key
    * column list (one or two — a zip join must equate EVERY component
    * in order), and a tag two handles must share for their erased key
    * types to zip safely. */
  private[sql] trait JoinableHandle {
    private[sql] def idxAny: IndexedRDD[Any, InternalRow]
    private[sql] def joinKeyCols: Seq[String]
    /** Equal tags ⇒ equal runtime key types (zip/partitioner safe). */
    private[sql] def keyTypeTag: String

    /** SQL lookup join against an ARBITRARY probe plan: `keyIdxs`
      * locate the key component(s) in each probe row; null probe keys
      * never match (SQL equi-join) and are dropped. Only the probe
      * side shuffles (to this index's partitioning); each probe row
      * costs one O(depth) point lookup — the corpus is never scanned
      * and never moves. Yields (corpus row, probe row) per hit; with
      * `keepMisses` also (null, probe row) per miss (the LEFT-OUTER
      * enrichment shape). Null probe keys: dropped in the inner form
      * (SQL equi-join never matches null); under `keepMisses` they
      * route through the nullable stream and are KEPT as guaranteed
      * misses (null-extended) — no nullability restriction exists. */
    private[sql] def lookupJoinRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean): RDD[(InternalRow, InternalRow)]
    /** This side's rows whose key IS (semi) / is NOT (anti) in the
      * probe key set: the keys shuffle to their owners, semi probes
      * each distinct key O(depth), anti streams the local trie once
      * against the local key set — the corpus never shuffles. */
    private[sql] def lookupSemiRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow]
    /** PROBE rows kept by corpus-key existence (semi) / absence
      * (anti): one O(depth) probe per row. Null-keyed probe rows drop
      * — exact for semi; the anti claim requires non-nullable keys. */
    private[sql] def lookupProbeFilter(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow]
    /** Driver-mediated twin of [[lookupJoinRows]] for SMALL probe
      * batches (the broadcast shape): the probe rows are already on
      * the driver, so the join is ZERO-shuffle — keys group by owning
      * partition locally, ship once via broadcast, and a
      * partition-PRUNED narrow job probes only the owners. None =
      * this handle cannot serve the shape (exec falls back to the
      * shuffled path). Same null-key semantics as the RDD form. */
    private[sql] def lookupJoinRowsLocal(probeRows: Array[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean)
        : Option[RDD[(InternalRow, InternalRow)]] = None
    /** Driver-COLLECTED twin of [[lookupJoinRowsLocal]] for ROOT-level
      * collects (no parent operator): one pruned runJob over ONLY the
      * probe-owning partitions — zero no-op task launches, O(matches)
      * driver memory (a root collect holds that anyway). */
    private[sql] def lookupJoinRowsLocalCollect(probeRows: Array[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean)
        : Option[Array[(InternalRow, InternalRow)]] = None
    /** Driver-mediated twin of [[lookupProbeFilter]]. */
    private[sql] def lookupProbeFilterLocal(probeRows: Array[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): Option[RDD[InternalRow]] = None
    /** Columns with an inverted index — the secondary lookup-join
      * claim surface. */
    private[sql] def lookupSecondaryCols: Set[String]
    /** Whether interval probes can route through this layout (ordered
      * + order-preserving + range-partitioned single key). */
    private[sql] def rangeLookupCapable: Boolean = false
    /** Whether LEADING-column equality probes can route (ordered +
      * order-preserving + range-partitioned composite). */
    private[sql] def prefixLookupCapable: Boolean = false
    /** PREFIX join rows: per probe row, EVERY corpus row whose leading
      * key equals the probed value — the "fetch each probed entity's
      * whole timeline" shape, served as one interval-routed pruned trie
      * range scan per delivery. Only valid when
      * [[prefixLookupCapable]]. */
    private[sql] def lookupJoinRowsByPrefix(probe: RDD[InternalRow],
        keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      throw new UnsupportedOperationException("not prefix-lookup capable")
    /** BAND-join rows: per probe row, evaluate the two bound values
      * (catalyst form, same dtype as the key; null bound = no match),
      * convert inclusivity to a half-open key interval, route to the
      * overlapping partitions and run one pruned trie range scan each.
      * Yields (corpus row, probe row) per match. Only valid when
      * [[rangeLookupCapable]]. */
    private[sql] def lookupRangeJoinRows(probe: RDD[InternalRow],
        loEval: InternalRow => Any, hiEval: InternalRow => Any,
        loInc: Boolean, hiInc: Boolean): RDD[(InternalRow, InternalRow)] =
      throw new UnsupportedOperationException("not range-lookup capable")
    /** Driver-mediated twin of [[lookupRangeJoinRows]] for SMALL probe
      * batches: intervals route to their overlapping partitions on the
      * driver and ship once via broadcast — no shuffle, and partitions
      * no interval overlaps are never deserialized. None = this handle
      * cannot serve it (exec falls back to the shuffled path). */
    private[sql] def lookupRangeJoinRowsLocal(probeRows: Array[InternalRow],
        loEval: InternalRow => Any, hiEval: InternalRow => Any,
        loInc: Boolean, hiInc: Boolean): Option[RDD[(InternalRow, InternalRow)]] =
      None
    /** [[SecondaryCapable.secLookupJoinRows]] through the type-erased
      * join surface; the strategy validates `col` at claim time. */
    private[sql] def lookupJoinRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)]
    /** LEFT-OUTER twin keeping the probe rows (misses null-extend). */
    private[sql] def lookupOuterRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)]
  }

  /** The stats surface [[IndexedAgg]] plans against, implemented by
    * single-key AND composite handles: `count(*)` from index sizes and
    * — when the index can answer them in the column's natural order —
    * `min/max` of ONE column from O(depth) radix descents, already
    * converted to the column's external Scala form (a SQL literal of
    * the column type converts from it directly; UUID handles hand back
    * the canonical string, Int/Short keys narrow back from Long). */
  /** VALUE-column → primary-key inverted indexes, shared by single-key
    * AND composite handles (K is the primary key type — a scalar or a
    * pair): [[addSecondaryIndex]] pays one shuffle of (value, key)
    * pairs — never the rows — and builds an [[graft.IndexedRDD]] keyed
    * by the value column, holding the primary keys per value. A pushed
    * equality/IN on that column then serves as TWO partition-pruned
    * point reads (probe the secondary for the key set, multiget the
    * primary) instead of a corpus scan; `ordered = true` secondaries
    * serve pushed RANGES through trie scans. Probes are driver-mediated
    * and budget-capped: hotter values fall back to the scan lanes.
    * Secondary filters are never claimed in unhandledFilters, so Spark
    * re-applies them above and the budget fallback stays sound. */
  private[sql] trait SecondaryCapable[K] extends Serializable {
    private[sql] def idx: graft.IndexedRDD[K, InternalRow]
    def schema: StructType
    protected def secTag: ClassTag[K]
    /** Primary key columns — a secondary may not target them. */
    protected def secondaryForbiddenCols: Set[String]

    @transient private lazy val secondaries =
      new scala.collection.concurrent.TrieMap[
        String, (KeySpec[Any], IndexedRDD[Any, Array[K]], Boolean)]()

    /** Max primary keys a secondary probe may route into the point
      * lane; beyond it the scan lanes serve (sound: the relation never
      * claims secondary filters, Spark re-applies them above). Mutable
      * for tests and for tuning to the driver's memory headroom. */
    @transient private[sql] var SecondaryRouteBudget = 100000

    @transient @volatile private[sql] var lastProbeMemoHit: Boolean = false
    /** How the most recent scan was served, for observability and
      * tests: "point" / "range" / "secondary_point" / "full" / ...; for
      * point and secondary scans `lastPointLookupKeys` is the probed
      * key count (-1 otherwise). */
    @transient @volatile var lastScanKind: String = ""
    @transient @volatile var lastPointLookupKeys: Int = -1
    private[sql] def markLane(kind: String, keys: Int): Unit = {
      lastScanKind = kind
      lastPointLookupKeys = keys
    }

    /** The secondary-index predicates of one pushed filter set:
      * equality/IN per secondary column (NULLs match nothing and drop
      * out) and, per ORDERED secondary column, the met interval of its
      * range conjuncts (the same boundsOn/meet algebra as key lanes). */
    private def secondaryPreds(filters: Array[Filter])
        : (Seq[(String, Seq[Any])], Seq[(String, Iv[Any])]) = {
      val eqPreds = filters.toSeq.flatMap {
        case EqualTo(c, v) if hasSecondary(c) =>
          Some((c, if (v == null) Nil else Seq(v)))
        case In(c, vs) if hasSecondary(c) =>
          Some((c, vs.toSeq.filter(_ != null)))
        case _ => None
      }
      def rangeColOf(f: Filter): Option[String] = f match {
        case GreaterThan(c, _) => Some(c)
        case GreaterThanOrEqual(c, _) => Some(c)
        case LessThan(c, _) => Some(c)
        case LessThanOrEqual(c, _) => Some(c)
        case StringStartsWith(c, _) => Some(c)
        case _ => None
      }
      val rangePreds = filters.toSeq
        .flatMap { f =>
          rangeColOf(f).filter(hasOrderedSecondary).flatMap(c =>
            boundsOn(c, secondaryCodec(c), eqAsPrefix = false, f)
              .map(iv => (c, iv)))
        }
        .groupBy(_._1).view
        .mapValues(ivs => meet(ivs.map(_._2), secondaryCodec(ivs.head._1).ord))
        .toSeq
      (eqPreds, rangePreds)
    }

    private def secondaryKind(usedRange: Boolean): String =
      if (usedRange) "secondary_range" else "secondary_point"

    /** Job-free: do `filters` carry a secondary predicate? Marks the
      * secondary lane when they do (its key count is known only once
      * the probe has run). */
    private[sql] def markSecondaryLane(filters: Array[Filter]): Boolean = {
      val (eqPreds, rangePreds) = secondaryPreds(filters)
      val any = eqPreds.nonEmpty || rangePreds.nonEmpty
      if (any) markLane(secondaryKind(rangePreds.nonEmpty), -1)
      any
    }

    /** The SECONDARY lane, served on the driver: a repeated predicate
      * answers from the probe memo with no job; otherwise the inverted
      * index yields the primary key set (AND semantics: intersected
      * across predicates) and one pruned multiget reads the rows. None
      * when there is no secondary predicate or a probe is over budget —
      * the scan lanes serve then. Never claimed in unhandledFilters:
      * Spark re-applies the predicates above the (small) probe result,
      * which also keeps the budget fallback sound. */
    private[sql] def secondaryRows(filters: Array[Filter]): Option[Array[InternalRow]] = {
      val (eqPreds, rangePreds) = secondaryPreds(filters)
      if (eqPreds.isEmpty && rangePreds.isEmpty) return None
      val sig = secondaryProbeSig(eqPreds, rangePreds)
      probeMemoGet(sig) match {
        case Some((keys, rows, usedRange)) =>
          markLane(secondaryKind(usedRange), keys.length)
          lastProbeMemoHit = true
          Some(rows)
        case None =>
          val sets = eqPreds.map { case (c, vs) => secondaryProbe(c, vs) } ++
            rangePreds.map { case (c, iv) => secondaryRangeProbe(c, iv) }
          if (sets.exists(_.isEmpty)) None
          else {
            val keys = sets.map(_.get.toSet).reduce(_ intersect _).toArray(secTag)
            markLane(secondaryKind(rangePreds.nonEmpty), keys.length)
            lastProbeMemoHit = false
            val rows = idx.multiget(keys).values.toArray
            probeMemoPut(sig, keys, rows, rangePreds.nonEmpty)
            Some(rows)
          }
      }
    }

    /** Bounded driver-side memo of secondary-probe results: canonical
      * predicate signature → (primary keys, point-read rows, range?).
      * Sound because a handle is an IMMUTABLE snapshot (COW mutations
      * return a NEW handle), so entries never invalidate. A repeated
      * predicate skips BOTH probe jobs (the postings lookup and the
      * primary point reads): the warehouse-style result cache for
      * dashboard workloads, free here precisely because snapshots are
      * immutable. LRU-capped at 32 entries × ≤2048 rows; larger results
      * are served but never memoized. Shared by single-key AND
      * composite handles. @transient: executors never need the memo. */
    @transient private lazy val probeMemo =
      new java.util.LinkedHashMap[String, (Array[K], Array[InternalRow], Boolean)](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Array[K], Array[InternalRow], Boolean)])
          : Boolean = size > 32
      }
    private[sql] def probeMemoGet(
        sig: String): Option[(Array[K], Array[InternalRow], Boolean)] =
      probeMemo.synchronized {
        // re-check the budget: a memoized result wider than the
        // CURRENT routing budget must fall back like a live probe
        Option(probeMemo.get(sig)).filter(_._1.length <= SecondaryRouteBudget)
      }
    private[sql] def probeMemoPut(sig: String, keys: Array[K],
        rows: Array[InternalRow], usedRange: Boolean): Unit =
      if (rows.length <= 2048) probeMemo.synchronized {
        probeMemo.put(sig, (keys, rows, usedRange)); ()
      }

    /** Distributed SECONDARY lookup join: probe rows keyed by the
      * value of `col` shuffle to the inverted index's partitioning,
      * expand through posting arrays into (primary key, probe row)
      * pairs, and those shuffle to the primary index for O(depth)
      * point fetches — (corpus row, probe row) per match. TWO
      * one-sided shuffles of probe-derived data, ZERO corpus scans,
      * no driver round-trip and no routing budget (unlike the
      * driver-mediated filter probes, nothing ever collects). Null
      * probe values never match. */
    private[sql] def secLookupJoinRows(col: String, probe: RDD[InternalRow],
        keyIdx: Int): Option[RDD[(InternalRow, InternalRow)]] = {
      implicit val kt: ClassTag[K] = secTag
      secondaries.get(col).map { case (spec, sidx, _) =>
        val sCodec = spec.codec
        val bySec: RDD[(Any, InternalRow)] = probe.mapPartitions(_.flatMap { r =>
          if (r.isNullAt(keyIdx)) Iterator.empty
          else Iterator.single((sCodec.fromRow(r, keyIdx), r.copy()))
        })
        val expanded: RDD[(K, InternalRow)] =
          sidx.lookupJoinStream(bySec)((_, ks, u) => (ks, u))
            .flatMap { case (ks, u) => ks.iterator.map(k => (k, u)) }
        idx.lookupJoinStream(expanded)((_, v, u) => (v, u))
      }
    }

    /** LEFT-OUTER twin of [[secLookupJoinRows]] KEEPING the probe
      * rows: probes whose value has no postings (or a null value)
      * emit (null, probe row) — SQL's null-extended kept row. Matched
      * values expand through postings and point-fetch as in the inner
      * form. */
    private[sql] def secLookupOuterRows(col: String, probe: RDD[InternalRow],
        keyIdx: Int): Option[RDD[(InternalRow, InternalRow)]] = {
      implicit val kt: ClassTag[K] = secTag
      secondaries.get(col).map { case (spec, sidx, _) =>
        val sCodec = spec.codec
        val bySec: RDD[(Any, InternalRow)] = probe.mapPartitions(_.map { r =>
          (if (r.isNullAt(keyIdx)) null else (sCodec.fromRow(r, keyIdx): Any),
            r.copy())
        })
        // stage 1: postings per probe value, misses kept as None
        val expanded: RDD[(Any, InternalRow)] =
          sidx.lookupJoinStreamNullable(bySec)(
            (_, ks, u) => (Option(ks), u), u => (None, u))
            .flatMap {
              case (Some(ks), u) => ks.iterator.map(k => (k: Any, u))
              case (None, u) => Iterator.single((null: Any, u))
            }
        // stage 2: point-fetch hits; misses ride through null-keyed
        idx.lookupJoinStreamNullable(expanded)(
          (_, v, u) => (v, u), u => (null.asInstanceOf[InternalRow], u))
      }
    }

    private[sql] def secondaryColSet: Set[String] = secondaries.keySet.toSet

    /** (col, rangeable, inverted index) entries — the persistence
      * snapshot [[IndexedFrame.save]] writes alongside the primary. */
    private[sql] def secondaryEntries: Seq[(String, Boolean, IndexedRDD[Any, Array[K]])] =
      secondaries.toSeq.map { case (c, (_, s, r)) => (c, r, s) }.sortBy(_._1)

    /** Re-attach a persisted inverted index (the load path): the spec
      * re-derives from the schema — the same derivation that built it —
      * and the saved partition layout (hash or radix) comes back with
      * the index files themselves. */
    private[sql] def restoreSecondaryFrom(colName: String, rangeable: Boolean,
        path: String): Unit = {
      val spec = specFor(schema, colName, uuid = false).asInstanceOf[KeySpec[Any]]
      implicit val st: ClassTag[Any] = spec.tag
      implicit val ss: KeySerializer[Any] = spec.ser
      implicit val vt: ClassTag[Array[K]] = secTag.wrap
      val loaded = graft.IndexedRDDIO.load[Any, Array[K]](
        idx.sparkContext, path).cached
      secondaries.put(colName, (spec, loaded, rangeable))
      // warm the distinct-count memo in this user-invoked load call —
      // same planning-side-effect rule as addSecondaryIndex
      secCountMemo.put(colName, loaded.count())
      ()
    }

    /** DELTA-COST secondary-index maintenance across one DML
      * statement: instead of re-deriving each inverted index from the
      * post-statement corpus (O(corpus) per statement — the RDBMS
      * "rebuild every index on every write" anti-shape), apply the
      * statement's OWN change sets to the previous snapshot's
      * postings. Per index: retract the OLD value's posting of every
      * touched key that existed pre-statement (one one-sided key
      * shuffle + O(delta) point probes of the old primary), add the
      * NEW value's posting of every upserted key (same against this
      * primary), then probe the OLD postings of exactly the touched
      * values and copy-on-write replace them — a value whose postings
      * empty out DELETES its entry, preserving the exact
      * `count(DISTINCT)` contract (one entry per LIVE distinct
      * value). Everything shuffled is delta-sized; the corpus and the
      * untouched postings never move — MERGE latency on an indexed
      * table stays flat in corpus size. Statement-level memos
      * (extrema, histograms, group folds) start cold on this handle
      * and recompute lazily, as after any COW mutation. */
    private[sql] def maintainSecondariesFrom(old: SecondaryCapable[K],
        delKeys: Option[RDD[K]], upKeys: Option[RDD[K]]): Unit = {
      implicit val kt: ClassTag[K] = secTag
      val oldEntries = old.secondaries.toSeq.sortBy(_._1)
      if (oldEntries.isEmpty) return
      val touched: Option[RDD[K]] = (delKeys, upKeys) match {
        case (Some(d), Some(u)) => Some(d.union(u))
        case (d, u) => d.orElse(u)
      }
      if (touched.isEmpty) {
        // nothing changed (a pure schema-evolution version): the old
        // postings carry over verbatim, memoized counts included
        oldEntries.foreach { case (c, e) =>
          secondaries.put(c, e)
          old.secCountMemo.get(c).foreach(secCountMemo.put(c, _))
        }
        // warm grouped folds carry too (zero delta — the carry's own
        // type/gate checks still apply, e.g. an evolved column type)
        carryGroupFoldsFrom(old, None, None)
        return
      }
      oldEntries.foreach { case (colName, (spec, oldSidx, rangeable)) =>
        val sCodec = spec.codec
        val fiOld = old.schema.fieldIndex(colName)
        val fiNew = schema.fieldIndex(colName)
        val rem: RDD[(Any, K)] = touched.map { t =>
          old.idx.lookupJoinStream(t.map((_, ())))((k, row, _) =>
            (if (row.isNullAt(fiOld)) null
             else (sCodec.fromRow(row, fiOld): Any), k))
            .filter(_._1 != null)
        }.getOrElse(idx.context.emptyRDD)
        val add: RDD[(Any, K)] = upKeys.map { u =>
          idx.lookupJoinStream(u.map((_, ())))((k, row, _) =>
            (if (row.isNullAt(fiNew)) null
             else (sCodec.fromRow(row, fiNew): Any), k))
            .filter(_._1 != null)
        }.getOrElse(idx.context.emptyRDD)
        val ops: RDD[(Any, (Array[K], Array[K]))] = rem
          .map { case (v, k) => (v, (Array(k), Array.empty[K])) }
          .union(add.map { case (v, k) => (v, (Array.empty[K], Array(k))) })
          .aggregateByKey((scala.collection.mutable.ArrayBuffer.empty[K],
            scala.collection.mutable.ArrayBuffer.empty[K]))(
            { case (acc, (r, a)) => acc._1 ++= r; acc._2 ++= a; acc },
            { case (x, y) => x._1 ++= y._1; x._2 ++= y._2; x })
          .mapValues { case (r, a) => (r.toArray(kt), a.toArray(kt)) }
        // exact post-statement postings of each touched value (one
        // probe of the old postings; values absent there carry only
        // their additions)
        val newPostings: RDD[(Any, Array[K])] = oldSidx.lookupJoinStream(ops)(
          (v, postings, d) => {
            val rs = d._1.toSet
            val base = if (rs.isEmpty) postings else postings.filterNot(rs)
            val bs = base.toSet
            (v, (base ++ d._2.filterNot(bs)).distinct)
          }, missing = Some((v: Any, d: (Array[K], Array[K])) =>
            (v, d._2.distinct)))
        val updated = oldSidx
          .multiputRDD(newPostings.filter(_._2.nonEmpty))
          .deleteRDD(newPostings.filter(_._2.isEmpty).keys)
          .cached
        secondaries.put(colName, (spec, updated, rangeable))
        // warm the distinct-count memo (O(partitions), and the pass
        // that materializes the updated postings) — planning gates on
        // the memo and must never launch a job itself
        secCountMemo.put(colName, updated.count())
      }
      // fold each commit's delta into the warm grouped-fold memos
      // instead of refolding the corpus on the next probe (delta-sized;
      // aborts to lazy refold whenever exactness cannot be guaranteed)
      carryGroupFoldsFrom(old, delKeys, upKeys)
    }

    /** Build an inverted index on a non-key column now (one shuffle of
      * (value, key) pairs) and route future pushed equality/IN
      * predicates on it through point probes. With `ordered = true` the
      * inverted index is radix-keyed in the column's natural order, so
      * pushed RANGE predicates (`BETWEEN`, `<`, `>=`) route too — a
      * trie range scan collects the matching key sets (budget-capped),
      * then one primary multiget — the B-tree-secondary shape for
      * selective ranges on columns the key layout does NOT cluster
      * (zone maps cover the clustered case). Integral, string, and
      * decimal(p,0) columns are supported (decimal is points-only: its
      * encoding is not order-preserving); rows with NULL in the column
      * are absent from the inverted index (SQL predicates never match
      * NULL). Returns this handle for chaining. */
    def addSecondaryIndex(col: String, ordered: Boolean = false): this.type = {
      require(!secondaryForbiddenCols.contains(col),
        s"'$col' is a primary key column")
      require(schema.fieldNames.contains(col), s"no column '$col'")
      secondaries.getOrElseUpdate(col, {
        val spec = specFor(schema, col, uuid = false).asInstanceOf[KeySpec[Any]]
        implicit val st: ClassTag[Any] = spec.tag
        implicit val ss: KeySerializer[Any] = spec.ser
        val fi = schema.fieldIndex(col)
        val sCodec = spec.codec
        implicit val kt: ClassTag[K] = secTag
        val pairs = idx.mapPartitions(_.flatMap { case (k, row) =>
          if (row.isNullAt(fi)) Iterator.empty
          else Iterator.single((sCodec.fromRow(row, fi), k))
        })
        val grouped = pairs.aggregateByKey(
          scala.collection.mutable.ArrayBuffer.empty[K])(_ += _, _ ++= _)
          .mapValues(_.toArray(kt))
        val rangeable = ordered && spec.ser.isOrderPreserving
        val s2 = if (rangeable) IndexedRDD.ordered(grouped) else IndexedRDD(grouped)
        val built = (spec, s2.cached, rangeable)
        // warm the distinct-count memo NOW (one O(partitions) job on
        // the just-built index, inside this user-invoked build call)
        // so query PLANNING can gate histogram claims on the memo
        // alone and never launches a job as a planning side effect
        secCountMemo.put(col, built._2.count())
        built
      })
      this
    }

    /** Unregister (and unpersist) the inverted index on `col`: pushed
      * predicates on it fall back to the scan lanes from the next
      * planning on — always sound, because secondary filters are never
      * claimed in unhandledFilters. Count memos drop with it; stale
      * probe-memo entries are unreachable (routing checks the registry
      * first). Returns false when no such index exists. */
    def dropSecondaryIndex(col: String): Boolean =
      secondaries.remove(col) match {
        case Some((_, sidx, _)) =>
          sidx.unpersist(blocking = false)
          secCountMemo.remove(col)
          secNonNullMemo.remove(col)
          true
        case None => false
      }

    private[sql] def hasSecondary(col: String): Boolean =
      secondaries.contains(col)
    private[sql] def hasOrderedSecondary(col: String): Boolean =
      secondaries.get(col).exists(_._3)
    private[sql] def secondaryCodec(col: String): KeyCodec[Any] =
      secondaries(col)._1.codec

    /** Primary keys with `col` inside the half-open secondary-domain
      * interval, via a trie range scan of the ordered inverted index;
      * None when over budget. Superset semantics are NOT needed — the
      * interval algebra is the same boundsOn/meet the key lanes use —
      * but Spark re-applies the predicates above regardless. */
    private[sql] def secondaryRangeProbe(col: String,
        iv: Iv[Any]): Option[Array[K]] = {
      val (spec, sidx, rangeable) = secondaries(col)
      require(rangeable, s"secondary index on '$col' is not ordered")
      if (iv.empty) return Some(Array.empty[K](secTag))
      implicit val ss: KeySerializer[Any] = spec.ser
      val from = iv.from.getOrElse(spec.codec.minKey)
      // close an unbounded-above interval at succ(maxKey); a domain-max
      // key lacks a successor and is probed exactly (mirrors the
      // primary range lane)
      val (ranges, corners) = iv.to match {
        case Some(t) => (Seq((from, t)), Nil)
        case None => sidx.maxKey() match {
          case None => (Nil, Nil)
          case Some(mk) if spec.codec.ord.lt(mk, from) => (Nil, Nil)
          case Some(mk) => spec.codec.succ(mk) match {
            case Some(end) => (Seq((from, end)), Nil)
            case None => (Seq((from, mk)), Seq(mk))
          }
        }
      }
      val budget = SecondaryRouteBudget
      val live = ranges.filter { case (f, t) => spec.codec.ord.lt(f, t) }
      // one job: each partition returns its in-range key arrays, or an
      // over-budget marker the moment its local total crosses the cap —
      // bounded driver traffic even under a hot range
      val perPart: Array[Either[Unit, Array[K]]] =
        if (live.isEmpty) Array.empty
        else {
          val kt = secTag
          sidx.range(live.head._1, live.head._2).mapPartitions { it =>
            val buf = new scala.collection.mutable.ArrayBuffer[K]()
            var over = false
            while (!over && it.hasNext) {
              buf ++= it.next()._2
              if (buf.length > budget) over = true
            }
            Iterator.single(
              if (over) Left(()): Either[Unit, Array[K]]
              else Right(buf.toArray(kt)))
          }.collect()
        }
      if (perPart.exists(_.isLeft)) return None
      val corner: Array[K] =
        if (corners.isEmpty) Array.empty[K](secTag)
        else sidx.multiget(corners.map(x => x: Any).toArray(
          scala.reflect.ClassTag.Any)).valuesIterator
          .foldLeft(new scala.collection.mutable.ArrayBuffer[K]())(_ ++= _)
          .toArray(secTag)
      val buf = new scala.collection.mutable.ArrayBuffer[K]()
      perPart.foreach { case Right(a) => buf ++= a; case _ => }
      buf ++= corner
      if (buf.length > SecondaryRouteBudget) None else Some(buf.toArray(secTag))
    }

    /** Primary keys matching `col ∈ values` via the inverted index;
      * None when over budget (caller falls back to the scan lanes).
      * Unparseable literals match nothing, like the point lane. */
    private[sql] def secondaryProbe(col: String,
        values: Iterable[Any]): Option[Array[K]] = {
      val (spec, sidx, _) = secondaries(col)
      // boxed Array[Any] throughout — spec.tag's runtime class may be a
      // primitive, and a primitive array cannot pose as Array[Any]
      val keys: Array[Any] = values.iterator
        .flatMap(v => Try(spec.codec.fromLiteral(v)).toOption)
        .toArray(scala.reflect.ClassTag.Any)
      val hits = sidx.multiget(keys)
      var total = 0L
      hits.valuesIterator.foreach(total += _.length)
      if (total > SecondaryRouteBudget) None
      else {
        val buf = new scala.collection.mutable.ArrayBuffer[K](total.toInt)
        hits.valuesIterator.foreach(a => buf ++= a)
        Some(buf.toArray(secTag))
      }
    }

    /** First/last `n` primary ROWS ordered by an ordered-secondary
      * column inside the half-open value interval `iv` — `WHERE sec >
      * cursor ORDER BY sec LIMIT n` with NO corpus scan: each inverted
      * partition streams its in-range postings in value order and
      * ships at most the page's worth of primary keys (the crossing
      * posting is truncated — SQL leaves ties within a value
      * unspecified), the driver merges the per-partition streams by
      * value order (values are unique per partition, so streams never
      * interleave within a value), and one partition-pruned multiget
      * fetches the rows. Driver traffic is O(n × inverted partitions)
      * keys worst case — the same rows-on-the-driver budget shape as
      * the unfiltered top-k. */
    private[sql] def secondaryOrderedTopK(col: String, iv: Iv[Any], n: Int,
        asc: Boolean): Seq[InternalRow] = {
      val (spec, sidx, rangeable) = secondaries(col)
      require(rangeable, s"secondary index on '$col' is not ordered")
      if (iv.empty || n <= 0) return Nil
      implicit val ss: KeySerializer[Any] = spec.ser
      val from = iv.from.getOrElse(spec.codec.minKey)
      // close an unbounded-above interval at succ(maxValue); a
      // domain-max value has no successor and merges in as an exact
      // posting probe at the extreme end (mirrors the key lanes)
      val (ranges, corners) = iv.to match {
        case Some(t) => (Seq((from, t)), Nil)
        case None => sidx.maxKey() match {
          case None => (Nil, Nil)
          case Some(mk) if spec.codec.ord.lt(mk, from) => (Nil, Nil)
          case Some(mk) => spec.codec.succ(mk) match {
            case Some(end) => (Seq((from, end)), Nil)
            case None => (Seq((from, mk)), Seq(mk))
          }
        }
      }
      val serL = spec.ser
      val byteLt = (x: Array[Byte], y: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(x, y) < 0
      val live = ranges.filter { case (f, t) => spec.codec.ord.lt(f, t) }
      val perPart: Array[Array[(Array[Byte], Array[K])]] =
        if (live.isEmpty) Array.empty
        else {
          val (f, t) = live.head
          sidx.context.runJob(
            sidx.partitionsRDD,
            (it: Iterator[graft.partition.IndexedPartition[Any, Array[K]]]) =>
              if (!it.hasNext) Array.empty[(Array[Byte], Array[K])]
              else {
                val entries: Iterator[(Any, Array[K])] = it.next() match {
                  case r: graft.partition.RadixIndexedPartition[Any, Array[K]] =>
                    r.range(f, t)
                  case p =>
                    val fb = serL.toBytes(f); val tb = serL.toBytes(t)
                    p.iterator.filter { case (v, _) =>
                      val vb = serL.toBytes(v)
                      java.util.Arrays.compareUnsigned(vb, fb) >= 0 &&
                        java.util.Arrays.compareUnsigned(vb, tb) < 0
                    }.toArray.sortBy(e => serL.toBytes(e._1))(
                      Ordering.fromLessThan(byteLt)).iterator
                }
                if (asc) {
                  val buf = scala.collection.mutable.ArrayBuffer
                    .empty[(Array[Byte], Array[K])]
                  var cnt = 0
                  while (cnt < n && entries.hasNext) {
                    val (v, ks) = entries.next()
                    val keep = if (cnt + ks.length <= n) ks else ks.take(n - cnt)
                    buf += ((serL.toBytes(v), keep))
                    cnt += keep.length
                  }
                  buf.toArray
                } else {
                  // LAST n keys' postings: running-count deque, then
                  // truncate the front posting to the remainder
                  val dq = new scala.collection.mutable
                    .ArrayDeque[(Array[Byte], Array[K])]()
                  var cnt = 0
                  entries.foreach { case (v, ks) =>
                    dq.append((serL.toBytes(v), ks)); cnt += ks.length
                    while (dq.nonEmpty && cnt - dq.head._2.length >= n)
                      cnt -= dq.removeHead()._2.length
                  }
                  if (cnt > n && dq.nonEmpty) {
                    val (v0, ks0) = dq.removeHead()
                    dq.prepend((v0, ks0.drop(cnt - n)))
                  }
                  dq.toArray
                }
              })
        }
      val merged0 = perPart.flatten.sortBy(_._1)(Ordering.fromLessThan(byteLt))
      val merged = if (asc) merged0 else merged0.reverse
      val cornerPostings: Array[(Array[Byte], Array[K])] =
        if (corners.isEmpty) Array.empty
        else sidx.multiget(corners.map(x => x: Any).toArray(
            scala.reflect.ClassTag.Any))
          .toArray.map { case (v, ks) => (serL.toBytes(v), ks) }
      // the corner is the GREATEST value: last ascending, first descending
      val all = if (asc) merged ++ cornerPostings else cornerPostings ++ merged
      val keysOrdered = new scala.collection.mutable.ArrayBuffer[K](n)
      val it2 = all.iterator
      while (keysOrdered.length < n && it2.hasNext) {
        val ks = it2.next()._2
        keysOrdered ++= ks.take(n - keysOrdered.length)
      }
      val hit = idx.multiget(keysOrdered.toArray(secTag))
      keysOrdered.iterator.flatMap(k => hit.get(k)).toSeq
    }

    /** `GROUP BY col COUNT(*)` from posting lengths: the inverted
      * index already holds each value's row count, so the aggregate is
      * a map over (value, postings) pairs — zero primary rows read, no
      * exchange of data rows. Claimable only under a null-excluding
      * pushed bound on the SAME column (every bound excludes NULLs,
      * which the inverted index also drops — an unfiltered GROUP BY
      * would owe SQL a NULL group the index cannot see). */
    private[sql] def secondaryGroupCountsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long)]] = {
      if (!secondaries.contains(col) || fs.isEmpty) return None
      val (spec, sidx, _) = secondaries(col)
      val codecC = spec.codec
      val allOnCol = fs.forall {
        case IsNotNull(c) => c == col
        case f => boundsOn(col, codecC, eqAsPrefix = true, f).isDefined
      }
      if (!allOnCol) return None
      val ivs = fs.flatMap(f => boundsOn(col, codecC, eqAsPrefix = true, f))
      val iv = meet(ivs, codecC.ord)
      val dt = schema(col).dataType
      val ordC = codecC.ord
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some(() =>
        if (isEmpty) idx.context.emptyRDD[(Any, Long)]
        else sidx.mapPartitions(_.collect {
          case (v, ks) if lo.forall(l => ordC.gteq(v, l)) &&
              hi.forall(h => ordC.lt(v, h)) =>
            (toCatalystKey(dt, v), ks.length.toLong)
        }))
    }

    /** The inverted index's O(partitions) size IS the exact
      * `count(DISTINCT col)`: one entry per distinct non-null value,
      * and SQL's count(DISTINCT) excludes nulls by definition — so
      * unlike the grouped/DISTINCT lanes, no null-excluding bound is
      * needed. Memoized like the primary count (the snapshot is
      * immutable): repeats answer driver-side with zero jobs. */
    @transient private lazy val secCountMemo =
      new scala.collection.concurrent.TrieMap[String, Long]()
    private[sql] def secondaryCountDistinct(col: String): Option[() => Long] =
      secondaries.get(col).map { case (_, sidx, _) =>
        () => secCountMemo.getOrElseUpdate(col, sidx.count())
      }

    // Σ posting lengths = the column's non-null row count; memoized
    // on the immutable snapshot like the distinct count
    @transient private lazy val secNonNullMemo =
      new scala.collection.concurrent.TrieMap[String, Long]()
    private[sql] def secondaryNonNullCount(col: String): Option[() => Long] =
      secondaries.get(col).map { case (_, sidx, _) =>
        () => secNonNullMemo.getOrElseUpdate(col,
          sidx.mapPartitions { it =>
            var n = 0L
            it.foreach { case (_, ks) => n += ks.length }
            Iterator.single(n)
          }.collect().sum)
      }

    /** Extrema of an ordered secondary: the inverted index's first and
      * last keys, one O(depth) descent each (memoized driver-side). */
    @transient private lazy val secExtremaMemo =
      new scala.collection.concurrent.TrieMap[String, (Option[Any], Option[Any])]()
    private[sql] def secondaryExtrema(
        col: String): Option[() => (Option[Any], Option[Any])] =
      secondaries.get(col).collect { case (spec, sidx, true) =>
        implicit val ss: KeySerializer[Any] = spec.ser
        // stored key form → the COLUMN's external form (Int narrows
        // back from Long, timestamps re-wrap) before catalyst converts
        () => secExtremaMemo.getOrElseUpdate(col,
          (sidx.minKey().map(spec.codec.toExternalSql),
            sidx.maxKey().map(spec.codec.toExternalSql)))
      }

    /** Sorted (value-as-Long, row-weight) distribution of an
      * integral ORDERED-secondary column — the full value histogram,
      * O(distinct) driver state collected once and memoized on the
      * immutable snapshot. Values stay LONG so the sum/avg lane does
      * exact checked arithmetic (a Double round-trip silently loses
      * precision past 2^53); percentile interpolation converts at the
      * last step. Gated on the distinct count staying under
      * [[SecondaryRouteBudget]]: a categorical column's histogram is
      * tiny no matter how many rows the corpus has; a high-cardinality
      * column disqualifies and the query falls through to the scan
      * plan. The gate reads only the MEMOIZED count — claim time is
      * query PLANNING, and planning must never launch a Spark job as a
      * side effect (the count memo warms when the secondary is built
      * or restored, so in-session handles always have it). Inner None
      * = column has no non-null rows. */
    @transient private lazy val secDistMemo =
      new scala.collection.concurrent.TrieMap[String, Array[(Long, Long)]]()
    private[sql] def secondaryDistributionFor(
        col: String): Option[() => Option[Array[(Long, Long)]]] = {
      val kind = distKind(col)
      if (kind.isEmpty || !hasOrderedSecondary(col)) return None
      val fp = kind.contains(DistFp)
      val (_, sidx, _) = secondaries(col)
      secCountMemo.get(col) match {
        case Some(n) if n <= SecondaryRouteBudget => // claimable
        case _ => return None // cold or over budget: fall through
      }
      Some { () =>
        val dist = secDistMemo.getOrElseUpdate(col,
          sidx.mapPartitions(_.map { case (v, ks) =>
            val enc =
              if (fp) sortableBits(v.asInstanceOf[Double])
              else v.asInstanceOf[Number].longValue()
            (enc, ks.length.toLong)
          }).collect().sortBy(_._1))
        if (dist.isEmpty) None else Some(dist)
      }
    }

    /** How `col`'s histogram entries encode: exact integral values,
      * fp sortable bits (decode with [[fromSortableBits]]), or exact
      * unscaled decimal longs carrying the column's scale. None =
      * the column type has no histogram service. */
    private[sql] def distKind(col: String): Option[DistKind] =
      schema(col).dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some(DistIntegral)
        case DoubleType | FloatType => Some(DistFp)
        case dt: DecimalType if dt.scale > 0 && dt.precision <= 18 =>
          Some(DistScaled(dt.scale))
        case _ => None
      }

    /** Driver-state cap for the grouped filtered-agg memo — tighter
      * than [[SecondaryRouteBudget]] because the per-partition fold
      * maps ship whole to the driver. */
    @transient private[sql] var FilteredAggDistinctCap = 1 << 16

    /** Per-partition row cap on the delta the incremental fold carry
      * ([[carryGroupFoldsFrom]]) collects driver-side; past it the
      * carry aborts and the next probe refolds (a corpus-sized "delta"
      * is cheaper refolded than shipped). */
    @transient private[sql] var FilteredAggCarryCap = 1 << 16

    // values are the raw FOLD STATES (exact BigDecimal / checked-Long
    // sums), not the rendered GroupAggs: the incremental carry
    // ([[carryGroupFoldsFrom]]) retracts and re-adds delta rows against
    // these states, which is only exact with the full-precision sums
    @transient private[sql] lazy val secGroupAggMemo =
      new scala.collection.concurrent.TrieMap[(String, String),
        Map[Any, GroupFold]]()

    /** `WHERE secCol = v` + `sum/avg/count(aggCol)` answered from a
      * per-secondary-value grouped fold: ONE job over the primary rows
      * per (secCol, aggCol) pair, memoized on the immutable snapshot —
      * every later probe for ANY value of secCol is a driver-side map
      * lookup, zero jobs (the repeated-dashboard shape the probe memo
      * serves for row fetches, extended to aggregates). Returns a
      * lookup: pushed literal → (sum, non-null aggCol count, row
      * count), None when secCol has no such value (SQL: sum NULL,
      * counts 0). Gated on the memoized distinct count staying under
      * [[FilteredAggDistinctCap]] so the driver state stays bounded;
      * claim time is planning, and the gate reads only memos. */
    private[sql] def secondaryFilteredAggFor(secCol: String, aggCol: String)
        : Option[Any => Option[GroupAgg]] = {
      if (!secondaries.contains(secCol) || secCol == aggCol) return None
      if (!schema.fieldNames.contains(aggCol)) return None
      val aggDt = schema(aggCol).dataType
      val fp = aggDt match {
        case DoubleType | FloatType => true
        case _ => false
      }
      val integral = aggDt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!fp && !integral) return None
      secCountMemo.get(secCol) match {
        case Some(n) if n <= math.min(SecondaryRouteBudget, FilteredAggDistinctCap) =>
        case _ => return None // cold or over budget: fall through
      }
      val sCodec = secondaries(secCol)._1.codec
      Some { v =>
        val m = secGroupAggMemo.getOrElseUpdate((secCol, aggCol), {
          val fiS = schema.fieldIndex(secCol)
          val fiA = schema.fieldIndex(aggCol)
          val dtA = aggDt
          val isFp = fp
          val codec = sCodec
          // per-partition fold maps MERGE DISTRIBUTED (one reduceByKey
          // on the secondary value) and only the final O(distinct) map
          // ships to the driver. Collecting the raw per-partition maps
          // instead is O(partitions x per-partition-distinct) driver
          // transfer — the micro_scale100 tier blew the 1 GiB
          // maxResultSize exactly that way (1280 partitions x ~12k
          // local groups), while the true distinct count was well
          // under the memo cap.
          // per-row work trimmed to the floor (guide §1.2 step 2): the
          // partition's tuple-free foreachValue walk (no key decode, no
          // per-entry tuple), the agg-type dispatch hoisted out of the
          // loop, and — for the integral/temporal codecs, i.e. the
          // common case — a primitive-keyed LongMap so the secondary
          // value is boxed once per (partition, distinct), not per row
          val aggKind = dtA match {
            case DoubleType => 0
            case FloatType => 1
            case LongType => 2
            case IntegerType => 3
            case ShortType => 4
            case _ => 5
          }
          val merged = idx.partitionsRDD.mapPartitions { pit =>
            if (!pit.hasNext) Iterator.empty[(Any, GroupFold)]
            else {
              val part = pit.next()
              def foldRow(st: GroupFold, row: InternalRow): Unit = {
                st.rows += 1
                if (!row.isNullAt(fiA)) {
                  if (isFp) st.addFp(
                    if (aggKind == 0) row.getDouble(fiA)
                    else row.getFloat(fiA).toDouble)
                  else st.addLong(aggKind match {
                    case 2 => row.getLong(fiA)
                    case 3 => row.getInt(fiA).toLong
                    case 4 => row.getShort(fiA).toLong
                    case _ => row.getByte(fiA).toLong
                  })
                }
              }
              if (codec.isInstanceOf[LongCodec]) {
                  val lc = codec.asInstanceOf[LongCodec]
                  val acc = new scala.collection.mutable.LongMap[GroupFold]()
                  part.foreachValue { row =>
                    if (!row.isNullAt(fiS)) {
                      val sv = lc.fromRow(row, fiS)
                      var st = acc.getOrNull(sv)
                      if (st == null) { st = new GroupFold; acc.update(sv, st) }
                      foldRow(st, row)
                    }
                  }
                  acc.iterator.map { case (k, f) =>
                    (java.lang.Long.valueOf(k): Any, f) }
              } else {
                  val acc = new java.util.HashMap[Any, GroupFold]()
                  part.foreachValue { row =>
                    if (!row.isNullAt(fiS)) {
                      val sv = codec.fromRow(row, fiS)
                      var st = acc.get(sv)
                      if (st == null) { st = new GroupFold; acc.put(sv, st) }
                      foldRow(st, row)
                    }
                  }
                  scala.jdk.CollectionConverters.MapHasAsScala(acc)
                    .asScala.iterator
              }
            }
          }.reduceByKey((a, b) => { a.merge(b); a },
            // the map side already folded to O(distinct) per partition;
            // inheriting the parent's partition count (1280 at the 100x
            // tier) spends more on reduce-task scheduling + M×R block
            // metadata than on the merge itself — cap at the session's
            // parallelism (scale-adaptive, never a constant)
            math.max(1, math.min(idx.getNumPartitions,
              idx.context.defaultParallelism))).collect()
          val out = Map.newBuilder[Any, GroupFold]
          merged.foreach { case (k, f) => out += (k -> f) }
          out.result()
        })
        Try(sCodec.fromLiteral(v)).toOption.flatMap(m.get).map(_.result(fp))
      }
    }

    /** Carry `old`'s warm grouped-fold memos onto THIS post-statement
      * handle at DELTA cost — fold each commit's delta into the
      * memoized group map instead of refolding the corpus per snapshot
      * (the postings-maintenance shape, applied to the filtered-agg
      * memo). Per warm (secCol, aggCol) pair: retract the OLD row of
      * every touched key (one delta-sized probe of the old primary),
      * add the NEW row of every upserted key (same against this
      * primary), both applied to CLONED fold states driver-side.
      *
      * Exactness rules — the carried map must be indistinguishable
      * from a fresh fold, so the carry ABORTS (entry dropped; next
      * probe refolds lazily) whenever that cannot be guaranteed:
      *  - any carried-from or delta value is non-finite fp, or any
      *    fold is in overflow (their results depend on fold order /
      *    sticky markers that retraction cannot replay);
      *  - a retraction hits the group's current min or max (the
      *    multiplicity of the extremum is unknown) — unless the group
      *    empties, which resets exactly;
      *  - a retracted group is absent, or a count would go negative
      *    (bookkeeping mismatch — never expected);
      *  - the delta exceeds [[IndexedFrame.FilteredAggCarryCap]] per
      *    partition (bounded driver traffic), or either column's type
      *    changed, or the post-statement distinct count left the memo
      *    gate.
      * Sums are exact under retraction by construction: fp folds in
      * BigDecimal (error-free, order-independent) and integral in
      * checked Long. */
    private[sql] def carryGroupFoldsFrom(old: SecondaryCapable[K],
        delKeys: Option[RDD[K]], upKeys: Option[RDD[K]]): Unit = {
      val oldEntries = old.secGroupAggMemo.readOnlySnapshot().toSeq
      if (oldEntries.isEmpty) return
      implicit val kt: ClassTag[K] = secTag
      val cap = FilteredAggCarryCap
      // one delta-sized (value-pair) collect per side, shared by every
      // carried pair via grouping on (secCol, aggCol)? The pairs are
      // few (warm dashboards); keep one probe per pair for simplicity.
      oldEntries.foreach { case ((secCol, aggCol), oldMap) =>
        def carry(): Option[Map[Any, GroupFold]] = {
          if (!secondaries.contains(secCol) || secCol == aggCol) return None
          if (!schema.fieldNames.contains(aggCol) ||
              !old.schema.fieldNames.contains(aggCol)) return None
          if (schema(secCol).dataType != old.schema(secCol).dataType ||
              schema(aggCol).dataType != old.schema(aggCol).dataType)
            return None
          val aggDt = schema(aggCol).dataType
          val fp = aggDt match {
            case DoubleType | FloatType => true
            case _ => false
          }
          val integral = aggDt match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }
          if (!fp && !integral) return None
          // post-statement gate: same condition secondaryFilteredAggFor
          // plans with — a map the planner will never consult is not
          // worth carrying
          secCountMemo.get(secCol) match {
            case Some(n) if n <= math.min(SecondaryRouteBudget,
              FilteredAggDistinctCap) =>
            case _ => return None
          }
          if (oldMap.valuesIterator.exists(f => f.overflow || f.nonFinite))
            return None
          val sCodec = secondaries(secCol)._1.codec
          // (secVal, aggVal | null) of every touched key's OLD row and
          // every upserted key's NEW row; null secVal rows never
          // entered the fold and are skipped symmetrically
          def pairsOf(src: SecondaryCapable[K], keys: RDD[K])
              : Option[Array[(Any, Any)]] = {
            val fiS = src.schema.fieldIndex(secCol)
            val fiA = src.schema.fieldIndex(aggCol)
            val dtA = aggDt
            val codec = sCodec
            val capL = cap
            val perPart: Array[Either[Unit, Array[(Any, Any)]]] =
              src.idx.lookupJoinStream(keys.distinct().map((_, ())))(
                (_, row, _) =>
                  if (row.isNullAt(fiS)) null
                  else {
                    val sv = codec.fromRow(row, fiS): Any
                    val av: Any =
                      if (row.isNullAt(fiA)) null
                      else dtA match {
                        case DoubleType => java.lang.Double.valueOf(row.getDouble(fiA))
                        case FloatType => java.lang.Double.valueOf(row.getFloat(fiA).toDouble)
                        case LongType => java.lang.Long.valueOf(row.getLong(fiA))
                        case IntegerType => java.lang.Long.valueOf(row.getInt(fiA).toLong)
                        case ShortType => java.lang.Long.valueOf(row.getShort(fiA).toLong)
                        case _ => java.lang.Long.valueOf(row.getByte(fiA).toLong)
                      }
                    (sv, av)
                  })
                .mapPartitions { it =>
                  val buf = new scala.collection.mutable.ArrayBuffer[(Any, Any)]()
                  var over = false
                  while (!over && it.hasNext) {
                    val e = it.next()
                    if (e != null) {
                      buf += e
                      if (buf.length > capL) over = true
                    }
                  }
                  Iterator.single(
                    if (over) Left(()): Either[Unit, Array[(Any, Any)]]
                    else Right(buf.toArray))
                }.collect()
            if (perPart.exists(_.isLeft)) None
            else Some(perPart.iterator
              .collect { case Right(a) => a }.flatten.toArray)
          }
          val touched: Option[RDD[K]] = (delKeys, upKeys) match {
            case (Some(d), Some(u)) => Some(d.union(u))
            case (d, u) => d.orElse(u)
          }
          val rem = touched match {
            case Some(t) => pairsOf(old, t).getOrElse(return None)
            case None => Array.empty[(Any, Any)]
          }
          val add = upKeys match {
            case Some(u) => pairsOf(this, u).getOrElse(return None)
            case None => Array.empty[(Any, Any)]
          }
          // clone-then-mutate so the old handle's folds stay frozen
          val m = new java.util.HashMap[Any, GroupFold](oldMap.size * 2)
          oldMap.foreach { case (k, f) => m.put(k, f.copyFold()) }
          var ok = true
          rem.foreach { case (sv, av) =>
            if (ok) {
              val st = m.get(sv)
              if (st == null || st.rows <= 0L) ok = false
              else {
                st.rows -= 1
                if (av != null) {
                  if (st.nonNull <= 0L) ok = false
                  else if (fp) {
                    val d = av.asInstanceOf[java.lang.Double].doubleValue
                    if (!java.lang.Double.isFinite(d)) ok = false
                    else {
                      st.nonNull -= 1
                      st.addFpExact(-d)
                      st.plain -= d
                      if (st.nonNull == 0L) { st.minD = Double.NaN; st.maxD = Double.NaN }
                      else if (java.lang.Double.compare(d, st.minD) == 0 ||
                        java.lang.Double.compare(d, st.maxD) == 0) ok = false
                    }
                  } else {
                    val l = av.asInstanceOf[java.lang.Long].longValue
                    st.nonNull -= 1
                    try st.lsum = Math.subtractExact(st.lsum, l)
                    catch { case _: ArithmeticException => ok = false }
                    if (st.nonNull == 0L) { st.minL = 0L; st.maxL = 0L }
                    else if (l == st.minL || l == st.maxL) ok = false
                  }
                }
                if (ok && st.rows == 0L) {
                  if (st.nonNull != 0L) ok = false else m.remove(sv)
                }
              }
            }
          }
          if (!ok) return None
          add.foreach { case (sv, av) =>
            if (ok) {
              var st = m.get(sv)
              if (st == null) { st = new GroupFold; m.put(sv, st) }
              st.rows += 1
              if (av != null) {
                if (fp) {
                  val d = av.asInstanceOf[java.lang.Double].doubleValue
                  // a non-finite addition flips the fold to the
                  // order-dependent IEEE shadow — refold instead
                  if (!java.lang.Double.isFinite(d)) ok = false
                  else st.addFp(d)
                } else {
                  st.addLong(av.asInstanceOf[java.lang.Long].longValue)
                  if (st.overflow) ok = false
                }
              }
            }
          }
          if (!ok) return None
          val out = Map.newBuilder[Any, GroupFold]
          scala.jdk.CollectionConverters.MapHasAsScala(m).asScala
            .foreach { case (k, f) => out += (k -> f) }
          Some(out.result())
        }
        carry().foreach(secGroupAggMemo.put((secCol, aggCol), _))
      }
    }

    /** Grouped (group, count, min-primary, max-primary) straight from
      * posting arrays — `GROUP BY col → count(*), min(key), max(key)`
      * with ZERO primary rows read and ZERO shuffle (each distinct
      * value lives in exactly one inverted partition). Same
      * null-excluding gating as [[secondaryGroupCountsFor]]; extrema
      * compare in the primary codec's storage order and emit catalyst
      * values via `kOut`. */
    private[sql] def secondaryGroupStatsFor(col: String, fs: Seq[Filter],
        kOrd: Ordering[K], kOut: K => Any)
        : Option[() => RDD[(Any, Long, Any, Any)]] = {
      if (!secondaries.contains(col) || fs.isEmpty) return None
      val (spec, sidx, _) = secondaries(col)
      val codecC = spec.codec
      val allOnCol = fs.forall {
        case IsNotNull(c) => c == col
        case f => boundsOn(col, codecC, eqAsPrefix = true, f).isDefined
      }
      if (!allOnCol) return None
      val ivs = fs.flatMap(f => boundsOn(col, codecC, eqAsPrefix = true, f))
      val iv = meet(ivs, codecC.ord)
      val dt = schema(col).dataType
      val ordC = codecC.ord
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some(() =>
        if (isEmpty) idx.context.emptyRDD[(Any, Long, Any, Any)]
        else sidx.mapPartitions(_.collect {
          case (v, ks) if lo.forall(l => ordC.gteq(v, l)) &&
              hi.forall(h => ordC.lt(v, h)) =>
            var mn = ks(0)
            var mx = ks(0)
            var i = 1
            while (i < ks.length) {
              if (kOrd.lt(ks(i), mn)) mn = ks(i)
              if (kOrd.gt(ks(i), mx)) mx = ks(i)
              i += 1
            }
            (toCatalystKey(dt, v), ks.length.toLong, kOut(mn), kOut(mx))
        }))
    }

  }

  /** `ORDER BY <layout-order prefix> LIMIT n` surface, implemented by
    * single-key AND composite handles: on a range-partitioned ordered
    * layout the first/last n rows live in a known partition prefix
    * (suffix), so the query reads O(n) rows. The memoized entry point
    * lives here (first/last n of an immutable snapshot never change —
    * same ≤2048-row driver cap as the probe memo); each handle supplies
    * the raw ordered fetch. */
  private[sql] trait TopKServable {
    private[sql] def topKCapable: Boolean
    /** Columns the layout globally orders by, outermost first — a sort
      * on any non-empty PREFIX (uniform direction) is index-served. */
    private[sql] def topKCols: Seq[String]
    private[sql] def schema: StructType
    protected def fetchOrderedRows(n: Int, asc: Boolean): Seq[InternalRow]
    protected def markTopK(): Unit

    /** Whether a FILTERED top-k (`WHERE <fs> ORDER BY key LIMIT n` —
      * keyset pagination) is index-served: every conjunct must be a
      * key-interval bound this layout enforces exactly. Base handles
      * claim only the unfiltered shape. */
    private[sql] def topKFilterClaimable(fs: Seq[Filter]): Boolean = fs.isEmpty

    /** Full claim check for a (sortCols, filters) pair: by default a
      * uniform-direction sort on a non-empty topKCols prefix plus
      * claimable filters. Composite handles additionally serve a
      * SECOND-column sort when the filters pin the leading column by
      * equality (per-entity timeline pages). */
    private[sql] def topKClaimable(sortCols: Seq[String], fs: Seq[Filter]): Boolean =
      topKCapable && sortCols.nonEmpty &&
        topKCols.take(sortCols.length) == sortCols && topKFilterClaimable(fs)
    protected def fetchOrderedRowsInRange(fs: Seq[Filter], n: Int,
        asc: Boolean): Seq[InternalRow] =
      throw new UnsupportedOperationException("unfiltered top-k only")

    @transient private lazy val topKMemo =
      new java.util.LinkedHashMap[(String, Int, Boolean), Seq[InternalRow]](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, Boolean), Seq[InternalRow]]): Boolean =
          size > 32 // a paging session walks tens of distinct cursors
      }

    /** First/last `n` rows in layout order (within the met interval of
      * `fs`, when given) — O(n) rows read from the covering partitions
      * only. Planned by [[IndexedTopK]]. */
    private[sql] final def takeOrderedRows(n: Int, asc: Boolean,
        fs: Seq[Filter] = Nil): Seq[InternalRow] = {
      markTopK()
      // filters on one immutable handle target one key column of one
      // type, so their rendered forms are collision-free memo tokens
      val sig = fs.map(_.toString).sorted.mkString("&")
      topKMemo.synchronized { Option(topKMemo.get((sig, n, asc))) } match {
        case Some(rows) => rows
        case None =>
          val rows =
            if (fs.isEmpty) fetchOrderedRows(n, asc)
            else fetchOrderedRowsInRange(fs, n, asc)
          if (n <= 2048) topKMemo.synchronized {
            topKMemo.put((sig, n, asc), rows); ()
          }
          rows
      }
    }
  }

  private[sql] trait StatsCapable {
    /** Column whose min/max the index answers in natural order, if any. */
    private[sql] def statsKeyCol: Option[String]
    /** (count, min, max) in ONE job; extrema only when requested AND
      * [[statsKeyCol]] is defined, in external SQL form. */
    private[sql] def statsAll(withExtrema: Boolean): (Long, Option[Any], Option[Any])
    private[sql] def markStats(): Unit
    /** Observability marker for the filtered-count pushdown. */
    private[sql] def markRangeCount(): Unit = markStats()
    /** A thunk counting the rows matching `filters` WITHOUT reading
      * values, when every filter is a range/equality conjunct on a key
      * column this index orders — `SELECT count(*) WHERE key BETWEEN`
      * from pruned radix descents. None when any conjunct needs row
      * inspection. The thunk defers the job to execution time. */
    private[sql] def rangeCountFor(filters: Seq[Filter]): Option[() => Long] = None
    /** A thunk answering (min, max) of [[statsKeyCol]] inside the met
      * filter interval — external SQL form, bounded O(depth) radix
      * descents, no value read. Same gating as [[rangeCountFor]]. */
    private[sql] def rangeExtremaFor(
        filters: Seq[Filter]): Option[() => (Option[Any], Option[Any])] = None
    /** Distributed (group, count) pairs answering `GROUP BY col
      * COUNT(*)` from index structure alone — composite LEADING-column
      * key runs (values untouched) or secondary posting lengths under
      * a null-excluding bound. Group values arrive in CATALYST
      * internal form. None when not index-answerable. */
    private[sql] def groupCountsFor(col: String,
        filters: Seq[Filter]): Option[() => RDD[(Any, Long)]] = None
    /** Distributed stream of the DISTINCT values of `col` (catalyst
      * internal form) from index structure alone — primary keys are
      * unique by construction, so `SELECT DISTINCT key` is a plain key
      * enumeration with NO aggregate and NO exchange anywhere. None
      * when any filter needs row inspection or uniqueness cannot be
      * guaranteed structurally. */
    private[sql] def distinctValuesFor(col: String,
        filters: Seq[Filter]): Option[() => RDD[Any]] = None
    /** Exact distinct-value count of `col` from index sizes alone
      * (primary key → index size; secondary → inverted-index size;
      * composite leading → boundary-adjusted per-partition run
      * counts). O(partitions) driver state, zero rows read. */
    private[sql] def countDistinctFor(col: String): Option[() => Long] = None
    /** Whether `cols` is exactly the full primary key column set —
      * `count(DISTINCT <full key>)` is then `count(*)`, the index
      * size. */
    private[sql] def colsAreFullKey(cols: Seq[String]): Boolean = false
    /** The column whose PER-GROUP min/max this index answers when
      * grouping by `col` (composite leading → the second key column;
      * secondary-indexed column → the primary key), if any. */
    private[sql] def groupStatCol(col: String): Option[String] = None
    /** Grouped (group, count, min, max) rows in catalyst form — the
      * per-entity summary `GROUP BY g → count(*), min(s), max(s)`
      * answered from key runs / posting arrays without reading data
      * rows. Same gating shape as [[groupCountsFor]]. */
    private[sql] def groupStatsFor(col: String,
        filters: Seq[Filter]): Option[() => RDD[(Any, Long, Any, Any)]] = None
    /** `GROUP BY f(key) → count(*)` for an arbitrary DETERMINISTIC
      * expression of the key column alone (`date_trunc('day', ts)`,
      * `key % 100`, `CAST(ts AS DATE)`, …): per-partition bucket
      * counts off the KEY stream — values are never read — merged by
      * one exchange of (bucket, count) pairs. The time-rollup shape
      * at 100 TB: the only thing that ever shuffles is the rollup
      * itself. `bucketFactory` is invoked once per partition and
      * returns catalyst-key → catalyst-bucket. Filters must all be
      * key bounds (IsNotNull on the key is vacuous). With
      * `withExtrema`, also the per-bucket min/max OF THE KEY off the
      * same stream (daily first/last-event summaries); without, the
      * extrema slots are null and no comparisons are paid. */
    private[sql] def exprGroupStatsFor(col: String,
        bucketFactory: () => Any => Any, fs: Seq[Filter],
        withExtrema: Boolean): Option[() => RDD[(Any, Long, Any, Any)]] = None

    /** `count(col)` — the NON-NULL row count — from index structure:
      * the key never stores nulls (= count(*)); a secondary column's
      * non-null count is the Σ of posting lengths, one memoized
      * O(partitions) job over the inverted index. */
    private[sql] def nonNullCountFor(col: String): Option[() => Long] = None
    /** `min(col)` / `max(col)` of an ORDERED-secondary column: one
      * O(depth) leftmost/rightmost descent on the inverted index —
      * values in the column's external form, (None, None) when the
      * column has no non-null rows. */
    private[sql] def secondaryExtremaFor(
        col: String): Option[() => (Option[Any], Option[Any])] = None

    /** `sum(col)` / `avg(col)` answered from index structure: the
      * thunk yields (sum, non-null row count), or None when the column
      * has no non-null rows (SQL: sum/avg of no rows is NULL). Served
      * for the integral KEY (one memoized key-stream job — values
      * never read) and for integral or FP ORDERED-SECONDARY columns
      * (Σ v·w over the memoized histogram, zero jobs once warm). The
      * sum is `java.lang.Long` for integral columns — CHECKED
      * arithmetic: overflow raises ArithmeticException, which the
      * ANSI claim propagates (like Spark's own error) and the TRY
      * claim turns into NULL — and `java.lang.Double` for fp columns,
      * where the weighted fold runs EXACTLY in BigDecimal (every
      * double is a finite binary rational) and converts once at the
      * end, so the structural sum is the correctly-rounded true sum
      * rather than an accumulation-order artifact. */
    private[sql] def sumCountFor(col: String): Option[() => Option[(Any, Long)]] =
      None

    /** `WHERE secCol = v` + sum/avg/count aggregates from the grouped
      * filtered-agg memo ([[SecondaryCapable.secondaryFilteredAggFor]]
      * on handles that index secondaries); lookup: pushed literal →
      * (sum | [[GroupFoldOverflow]], non-null count, row count). */
    private[sql] def filteredAggFor(secCol: String, aggCol: String)
        : Option[Any => Option[GroupAgg]] = None

    /** EXACT interpolated percentiles (the semantics of Spark's
      * `percentile(col, p)` / `median(col)`) answered from index
      * structure. One spec per aggregate: (column, fractions) — scalar
      * form = 1 fraction, array form = several. The thunk yields the
      * per-spec values, None per spec when that column has no rows
      * (SQL: percentile of no rows is NULL). Servable columns:
      *  - the integral KEY of a range-partitioned ordered layout, by
      *    global rank selection — no sort, no shuffle, one pruned walk
      *    of the rank-owning partitions;
      *  - an integral ORDERED-SECONDARY column, by weighted selection
      *    over the inverted index's (value, posting-length) pairs — a
      *    bounded O(distinct) driver collect under the same cardinality
      *    budget as probe routing, regardless of corpus row count.
      * Any other column disqualifies the whole claim. */
    private[sql] def percentilesFor(
        specs: Seq[(String, Seq[Double])])
        : Option[() => Seq[Option[Seq[Double]]]] = None
  }

  /** Per-partition min/max zone maps of VALUE columns — EXPLICITLY
    * analyzed (ANALYZE semantics): [[analyzeZones]] pays one O(data)
    * stats job per column up front, then every full-lane scan with a
    * pushed comparison on an analyzed column prunes partitions for free
    * (the index is immutable, so the memo never staleness-checks).
    * The win case is a value column CLUSTERED by the key layout
    * (time-ordered ids, monotone sequence numbers): each partition then
    * covers a narrow value interval and a selective predicate keeps
    * O(matching) partitions. Uncorrelated columns degrade to keeping
    * everything — never to wrong answers, because the relation claims
    * nothing for these filters and Spark re-applies them above the
    * scan. Opt-in keeps one-shot scans from paying a stats pass they
    * will never amortize. Shared by single-key AND composite handles
    * (which exclude BOTH key columns). */
  private[sql] trait ZoneMapped { self: JoinableHandle =>
    def schema: StructType
    /** Key columns — never zone-mapped (the key lanes already serve
      * them exactly). */
    private[sql] def zoneKeyCols: Set[String]

    @transient private lazy val zoneMemo =
      new scala.collection.concurrent.TrieMap[String, Array[Zone]]()
    @transient @volatile private var zoneEnabled: Set[String] = Set.empty
    @transient @volatile var lastZoneKept: Int = -1
    private[sql] def setZoneKept(n: Int): Unit = { lastZoneKept = n }

    /** The z-order SORT PROJECTION valid for exactly this snapshot
      * (see [[ZProjection]]) — attached by OPTIMIZE ... ZORDER BY on
      * value columns and by the catalog load when the persisted
      * projection's version matches; absent on every handle DML
      * produces, so a stale projection can never serve. */
    @transient @volatile private var zProjInfo
        : Option[ZProjection.ZProjInfo] = None
    private[sql] def attachZProjection(p: ZProjection.ZProjInfo): Unit = {
      zProjInfo = Some(p)
    }
    private[sql] def zProjection: Option[ZProjection.ZProjInfo] = zProjInfo

    /** (enabled columns, their zone arrays) — the persistence snapshot
      * (zones are driver-side min/max pairs, a few bytes/partition). */
    private[sql] def zoneSnapshot: (Set[String], Map[String, Array[Zone]]) =
      (zoneEnabled,
        zoneEnabled.iterator.flatMap(c => zoneMemo.get(c).map(c -> _)).toMap)

    /** Re-attach persisted zones (the load path) — no re-analyze job. */
    private[sql] def restoreZones(enabled: Set[String],
        stats: Map[String, Array[Zone]]): Unit = {
      stats.foreach { case (c, z) => zoneMemo.put(c, z) }
      zoneEnabled ++= enabled
    }

    /** Transplant the previous snapshot's zone maps across one DML
      * statement at DELTA cost: one pass over the upserted rows
      * (attributed to their owning partitions — COW preserves the
      * partitioner) WIDENS the touched partitions' bounds; untouched
      * partitions keep theirs. Deletes keep the old bounds untightened:
      * a zone map is a may-contain filter, so stale-WIDE bounds stay
      * sound (they only under-prune, never wrongly prune) — OPTIMIZE's
      * fresh analyze re-tightens. Columns enabled but never analyzed
      * stay lazy, recomputing at first pruned query as usual. */
    private[sql] def widenZonesFrom(old: ZoneMapped,
        deltaByPart: Option[RDD[(Int, InternalRow)]]): Unit = {
      val (enabled, stats) = old.zoneSnapshot
      if (enabled.isEmpty) return
      val cols = stats.keys.toSeq.sorted
      val widened: Map[String, Array[Zone]] = deltaByPart match {
        case Some(delta) if cols.nonEmpty =>
          val meta = cols.zipWithIndex.map { case (c, i) =>
            (i, schema.fieldIndex(c), schema(c).dataType)
          }
          // one delta-sized job: per (column, partition) min/max zones
          val deltaZones: Array[((Int, Int), Zone)] = delta.mapPartitions { it =>
            val m = new java.util.HashMap[(Int, Int), Zone]()
            it.foreach { case (pid, row) =>
              meta.foreach { case (ci, fi, dt) =>
                if (!row.isNullAt(fi)) {
                  val z: Zone = dt match {
                    case DoubleType => val v = row.getDouble(fi); ZoneDouble(v, v)
                    case FloatType =>
                      val v = row.getFloat(fi).toDouble; ZoneDouble(v, v)
                    case StringType =>
                      val v = row.getUTF8String(fi).toString; ZoneString(v, v)
                    case LongType | TimestampType | TimestampNTZType =>
                      val v = row.getLong(fi); ZoneLong(v, v)
                    case IntegerType | DateType =>
                      val v = row.getInt(fi).toLong; ZoneLong(v, v)
                    case ShortType => val v = row.getShort(fi).toLong; ZoneLong(v, v)
                    case _ => val v = row.getByte(fi).toLong; ZoneLong(v, v)
                  }
                  m.merge((ci, pid), z, (a, b) => mergeZones(a, b))
                  ()
                }
              }
            }
            scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.iterator
          }.collect()
          cols.zipWithIndex.map { case (c, ci) =>
            val base = stats(c).clone()
            deltaZones.foreach { case ((i, pid), z) =>
              if (i == ci && pid < base.length)
                base(pid) = mergeZones(base(pid), z)
            }
            c -> base
          }.toMap
        case _ => stats
      }
      restoreZones(enabled, widened)
    }

    /** Build zone maps for `cols` now (one stats job per column) and
      * enable zone pruning on them. Columns must be non-key numeric or
      * timestamp fields. Returns this handle for chaining. */
    def analyzeZones(cols: String*): this.type = {
      cols.foreach { c =>
        require(zoneType(c).isDefined,
          s"column '$c' is not zone-mappable (need a non-key numeric or " +
            "timestamp field)")
        zoneStats(c)
      }
      zoneEnabled ++= cols
      this
    }

    /** Disable zone pruning on `cols` and drop their cached stats
      * (driver-side min/max pairs — re-`analyzeZones` rebuilds). Columns
      * without zones are ignored. Returns this handle for chaining. */
    def dropZones(cols: String*): this.type = {
      zoneEnabled --= cols
      cols.foreach(zoneMemo.remove)
      this
    }

    private def zoneType(c: String): Option[DataType] =
      if (zoneKeyCols.contains(c) || !schema.fieldNames.contains(c)) None
      else schema(schema.fieldIndex(c)).dataType match {
        case t @ (LongType | IntegerType | ShortType | ByteType |
                  TimestampType | TimestampNTZType | DateType |
                  DoubleType | FloatType | StringType) => Some(t)
        case _ => None
      }

    private def zoneStats(c: String): Array[Zone] =
      zoneMemo.getOrElseUpdate(c, {
        val fi = schema.fieldIndex(c)
        val dt = schema.fields(fi).dataType
        val n = idxAny.getNumPartitions
        val computed = idxAny.map(_._2).mapPartitionsWithIndex { (pid, it) =>
          val z = dt match {
            case DoubleType | FloatType =>
              var any = false
              var mn = Double.MaxValue; var mx = Double.MinValue
              it.foreach { r =>
                if (!r.isNullAt(fi)) {
                  val v = if (dt == DoubleType) r.getDouble(fi)
                          else r.getFloat(fi).toDouble
                  any = true
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                }
              }
              if (any) ZoneDouble(mn, mx) else ZoneEmpty
            case StringType =>
              // min/max in UTF-8 binary order (rows carry UTF8String,
              // whose compareTo IS that order)
              var mn: org.apache.spark.unsafe.types.UTF8String = null
              var mx: org.apache.spark.unsafe.types.UTF8String = null
              it.foreach { r =>
                if (!r.isNullAt(fi)) {
                  val v = r.getUTF8String(fi)
                  if (mn == null || v.compareTo(mn) < 0) mn = v.clone()
                  if (mx == null || v.compareTo(mx) > 0) mx = v.clone()
                }
              }
              if (mn != null) ZoneString(mn.toString, mx.toString)
              else ZoneEmpty
            case _ =>
              var any = false
              var mn = Long.MaxValue; var mx = Long.MinValue
              it.foreach { r =>
                if (!r.isNullAt(fi)) {
                  val v = dt match {
                    case LongType | TimestampType | TimestampNTZType => r.getLong(fi)
                    case IntegerType | DateType => r.getInt(fi).toLong
                    case ShortType => r.getShort(fi).toLong
                    case _ => r.getByte(fi).toLong
                  }
                  any = true
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                }
              }
              if (any) ZoneLong(mn, mx) else ZoneEmpty
          }
          Iterator.single((pid, z))
        }.collect()
        val arr = Array.fill[Zone](n)(ZoneEmpty)
        computed.foreach { case (pid, z) => arr(pid) = z }
        arr
      })

    /** Partition keep-mask from zone-prunable conjuncts in `filters`,
      * or None when no filter is zone-prunable. Conjunctive: a
      * partition survives only if EVERY prunable conjunct may match. */
    private[sql] def zoneKeeps(filters: Array[Filter]): Option[Array[Boolean]] = {
      def on(c: String): Option[DataType] =
        if (zoneEnabled.contains(c)) zoneType(c) else None
      def pred(f: Filter): Option[(String, Int, ZoneLit)] = f match {
        case EqualTo(c, v) if v != null =>
          on(c).flatMap(dt => zoneLiteral(dt, v).map((c, 0, _)))
        case GreaterThan(c, v) if v != null =>
          on(c).flatMap(dt => zoneLiteral(dt, v).map((c, 2, _)))
        case GreaterThanOrEqual(c, v) if v != null =>
          on(c).flatMap(dt => zoneLiteral(dt, v).map((c, 1, _)))
        case LessThan(c, v) if v != null =>
          on(c).flatMap(dt => zoneLiteral(dt, v).map((c, -2, _)))
        case LessThanOrEqual(c, v) if v != null =>
          on(c).flatMap(dt => zoneLiteral(dt, v).map((c, -1, _)))
        case _ => None
      }
      val preds = filters.flatMap(pred)
      if (preds.isEmpty) None
      else Some {
        val statsByCol = preds.map(_._1).distinct
          .map(c => c -> zoneStats(c)).toMap
        Array.tabulate(idxAny.getNumPartitions) { pid =>
          preds.forall { case (c, cmp, lit) =>
            zoneMayMatch(statsByCol(c)(pid), cmp, lit)
          }
        }
      }
    }
  }

  /** Serve a full-lane scan from an attached z-order SORT PROJECTION
    * when the pushed filters box its columns: Some((kept zb cells,
    * rows in `schema` field order)); None = no projection attached or
    * no pushed comparison constrains either projected column (the
    * primary serves). Shared by all three relation arities — the
    * projection itself is handle-kind-agnostic. */
  private[sql] def zProjServe(sqlContext: SQLContext,
      zp: Option[ZProjection.ZProjInfo], schema: StructType,
      keyCols: Seq[String],
      filters: Array[Filter]): Option[(Int, RDD[InternalRow])] =
    zp.flatMap { info =>
      ZProjection.zbSetFor(filters, info).map { zbs =>
        import org.apache.spark.sql.functions.col
        val overlay = info.overlay.flatMap(f => f())
        val rdd: RDD[InternalRow] =
          if (zbs.isEmpty && overlay.isEmpty)
            sqlContext.sparkContext.emptyRDD[InternalRow]
          else {
            val projRows =
              if (zbs.isEmpty) None
              else {
                val base = info.base(sqlContext.sparkSession, schema)
                  .where(col(ZProjection.ZbCol).isin(zbs.map(Int.box): _*))
                val filtered = ZProjection.residualFilter(filters, info)
                  .map(base.where).getOrElse(base)
                Some(filtered.select(
                  schema.fieldNames.toIndexedSeq.map(col): _*))
              }
            val served = overlay match {
              case None => projRows.get
              case Some(last) =>
                // the STALE-projection bridge: rows whose key the
                // deltas touched leave the projection side (anti
                // join — the touched set is delta-sized, so Catalyst
                // broadcasts it); their CURRENT values (final-op
                // upserts) union back in unpruned (Spark re-applies
                // the filters above). Deletes simply never return.
                val touched = last.select(keyCols.map(col): _*)
                val alive = last.where(!col("__del"))
                  .select(schema.fieldNames.toIndexedSeq.map(col): _*)
                projRows match {
                  case Some(p) =>
                    p.join(touched, keyCols, "left_anti").unionByName(alive)
                  case None => alive
                }
            }
            served.queryExecution.toRdd
          }
        (zbs.size, rdd)
      }
    }

  /** An indexed table handle: the versioned index plus its SQL schema.
    * `lastScanKind` records, for observability and tests, how the most
    * recent scan was served: "point" / "range" / "full"; for point
    * scans `lastPointLookupKeys` is the probed key count. */
  class Handle[K](val idx: IndexedRDD[K, InternalRow], val keyCol: String,
      val schema: StructType, val ordered: Boolean,
      private[sql] val codec: KeyCodec[K])(
      implicit private[sql] val kTag: ClassTag[K],
      private[sql] val kSer: KeySerializer[K]) extends Serializable
      with StatsCapable with JoinableHandle with ZoneMapped with TopKServable
      with SecondaryCapable[K] {
    override protected def secTag: ClassTag[K] = kTag
    override protected def secondaryForbiddenCols: Set[String] = Set(keyCol)
    override private[sql] def filteredAggFor(secCol: String, aggCol: String)
        : Option[Any => Option[GroupAgg]] =
      secondaryFilteredAggFor(secCol, aggCol)

    private[sql] def keyIndex: Int = schema.fieldIndex(keyCol)

    override private[sql] def idxAny: IndexedRDD[Any, InternalRow] =
      idx.asInstanceOf[IndexedRDD[Any, InternalRow]]
    override private[sql] def joinKeyCols: Seq[String] = Seq(keyCol)
    override private[sql] def keyTypeTag: String = kTag.runtimeClass.getName
    override private[sql] def zoneKeyCols: Set[String] = Set(keyCol)

    private def keyedProbe(probe: RDD[InternalRow],
        i0: Int): RDD[(K, InternalRow)] = {
      val c = codec
      probe.mapPartitions(_.flatMap { r =>
        if (r.isNullAt(i0)) Iterator.empty
        else Iterator.single((c.fromRow(r, i0), r.copy()))
      })
    }
    private def keyedProbeNullable(probe: RDD[InternalRow],
        i0: Int): RDD[(Any, InternalRow)] = {
      val c = codec
      probe.mapPartitions(_.map { r =>
        (if (r.isNullAt(i0)) null else (c.fromRow(r, i0): Any), r.copy())
      })
    }
    override private[sql] def lookupJoinRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean): RDD[(InternalRow, InternalRow)] =
      if (!keepMisses)
        idx.lookupJoinStream(keyedProbe(probe, keyIdxs(0)))((_, v, u) => (v, u))
      else
        // null probe keys ride along as guaranteed misses (SQL LEFT
        // OUTER keeps them null-extended)
        idx.lookupJoinStreamNullable(keyedProbeNullable(probe, keyIdxs(0)))(
          (_, v, u) => (v, u), u => (null.asInstanceOf[InternalRow], u))
    override private[sql] def lookupSemiRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] = {
      val c = codec
      val i0 = keyIdxs(0)
      val keys = probe.mapPartitions(_.flatMap { r =>
        if (r.isNullAt(i0)) Iterator.empty
        else Iterator.single(c.fromRow(r, i0))
      })
      idx.lookupSemiStream(keys, anti).map(_._2)
    }
    override private[sql] def lookupProbeFilter(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] =
      if (!anti) idx.lookupJoinStream(keyedProbe(probe, keyIdxs(0)))((_, _, u) => u)
      else
        // anti KEEPS null-keyed probe rows (the condition is never
        // true for them)
        idx.lookupJoinStreamNullable(keyedProbeNullable(probe, keyIdxs(0)))(
          (_, _, _) => null.asInstanceOf[InternalRow], u => u).filter(_ != null)

    override private[sql] def lookupJoinRowsLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[RDD[(InternalRow, InternalRow)]] = {
      val c = codec
      val i0 = keyIdxs(0)
      val (nulls, keyed) = probeRows.partition(_.isNullAt(i0))
      val probes = keyed.toSeq.map(r => (c.fromRow(r, i0), r))
      Some(
        if (!keepMisses) idx.lookupJoinLocal(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocal(probes, scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }
    override private[sql] def lookupProbeFilterLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        anti: Boolean): Option[RDD[InternalRow]] = {
      val c = codec
      val i0 = keyIdxs(0)
      val (nulls, keyed) = probeRows.partition(_.isNullAt(i0))
      val probes = keyed.toSeq.map(r => (c.fromRow(r, i0), r))
      Some(
        if (!anti) idx.lookupJoinLocal(probes)((_, _, u) => u)
        else idx.lookupJoinLocal(probes, scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, _, _) => null.asInstanceOf[InternalRow],
          Some((u: InternalRow) => u)).filter(_ != null))
    }
    override private[sql] def lookupJoinRowsLocalCollect(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[Array[(InternalRow, InternalRow)]] = {
      val c = codec
      val i0 = keyIdxs(0)
      val (nulls, keyed) = probeRows.partition(_.isNullAt(i0))
      val probes = keyed.toSeq.map(r => (c.fromRow(r, i0), r))
      Some(
        if (!keepMisses) idx.lookupJoinLocalCollect(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocalCollect(probes,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }

    override private[sql] def lookupSecondaryCols: Set[String] = secondaryColSet
    override private[sql] def lookupJoinRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupJoinRows(col, probe, keyIdx).get
    override private[sql] def lookupOuterRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupOuterRows(col, probe, keyIdx).get

    override private[sql] def rangeLookupCapable: Boolean =
      ordered && kSer.isOrderPreserving &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
    override private[sql] def lookupRangeJoinRows(probe: RDD[InternalRow],
        loEval: InternalRow => Any, hiEval: InternalRow => Any,
        loInc: Boolean, hiInc: Boolean): RDD[(InternalRow, InternalRow)] = {
      val c = codec
      val keyed: RDD[((K, Option[K]), InternalRow)] =
        probe.mapPartitions { it =>
          val row1 = new GenericInternalRow(1)
          it.flatMap { r =>
            val loV = loEval(r)
            val hiV = hiEval(r)
            if (loV == null || hiV == null) Iterator.empty
            else {
              row1.update(0, loV)
              val lo0 = c.fromRow(row1, 0)
              row1.update(0, hiV)
              val hi0 = c.fromRow(row1, 0)
              // normalize to half-open [lo, hi); a strict lower bound
              // at the domain max, or an empty interval, never matches
              val loK = if (loInc) Some(lo0) else c.succ(lo0)
              val hiK = if (hiInc) c.succ(hi0).map(Some(_)).getOrElse(None)
                else Some(hi0)
              (loK, hiK) match {
                case (Some(l), Some(h)) if c.ord.gteq(l, h) => Iterator.empty
                case (Some(l), h) => Iterator.single(((l, h), r.copy()))
                case (None, _) => Iterator.empty
              }
            }
          }
        }
      idx.lookupRangeJoinStream(keyed)((_, v, u) => (v, u))(
        implicitly, implicitly, kSer)
    }

    /** Normalize one probe row's band bounds to a half-open key
      * interval — the driver-side twin of the per-partition
      * normalization in [[lookupRangeJoinRows]]. */
    private def bandIntervalOf(r: InternalRow, loEval: InternalRow => Any,
        hiEval: InternalRow => Any, loInc: Boolean,
        hiInc: Boolean): Option[(K, Option[K])] = {
      val c = codec
      val loV = loEval(r)
      val hiV = hiEval(r)
      if (loV == null || hiV == null) return None
      val row1 = new GenericInternalRow(1)
      row1.update(0, loV)
      val lo0 = c.fromRow(row1, 0)
      row1.update(0, hiV)
      val hi0 = c.fromRow(row1, 0)
      val loK = if (loInc) Some(lo0) else c.succ(lo0)
      val hiK = if (hiInc) c.succ(hi0).map(Some(_)).getOrElse(None)
        else Some(hi0)
      (loK, hiK) match {
        case (Some(l), Some(h)) if c.ord.gteq(l, h) => None
        case (Some(l), h) => Some((l, h))
        case (None, _) => None
      }
    }
    override private[sql] def lookupRangeJoinRowsLocal(
        probeRows: Array[InternalRow], loEval: InternalRow => Any,
        hiEval: InternalRow => Any, loInc: Boolean,
        hiInc: Boolean): Option[RDD[(InternalRow, InternalRow)]] = {
      val probes: Seq[((K, Option[K]), InternalRow)] =
        probeRows.toSeq.flatMap(r =>
          bandIntervalOf(r, loEval, hiEval, loInc, hiInc).map(iv => (iv, r)))
      Some(idx.lookupRangeJoinLocal(probes)((_, v, u) => (v, u))(
        implicitly, implicitly, kSer))
    }


    /** Index-answered key extrema (no scan on radix layouts) — natural
      * order only when the serializer is order-preserving, which the
      * stats pushdown checks via [[statsKeyCol]]. */
    private[sql] def minKeyAny(): Option[Any] = idx.minKey()(kSer)
    private[sql] def maxKeyAny(): Option[Any] = idx.maxKey()(kSer)
    private[sql] def keyStatsAny(): (Long, Option[Any], Option[Any]) = idx.keyStats()(kSer)
    private[sql] def orderPreservingKey: Boolean = kSer.isOrderPreserving

    override private[sql] def statsKeyCol: Option[String] =
      if (ordered && kSer.isOrderPreserving) Some(keyCol) else None
    // the index is IMMUTABLE (updates return a new handle), so its
    // stats are memoizable: the first stats query pays the one
    // O(partitions) job, every later one answers from the driver with
    // NO job at all — repeated count()/min()/max() dashboards poll for
    // free. @transient: executors never need the memo.
    @transient private lazy val statsFull: (Long, Option[Any], Option[Any]) = {
      val (c, mn, mx) = keyStatsAny()
      (c, mn.map(codec.toExternalSql), mx.map(codec.toExternalSql))
    }
    // reloaded handles carry the save-time exact count, so the first
    // stats/planning touch launches NO job at all
    @transient private[sql] var presetStatsCount: Option[Long] = None
    @transient private lazy val statsCount: Long =
      presetStatsCount.getOrElse(idx.count())
    override private[sql] def statsAll(
        withExtrema: Boolean): (Long, Option[Any], Option[Any]) =
      if (withExtrema) statsFull else (statsCount, None, None)
    override private[sql] def markStats(): Unit = { lastScanKind = "stats" }
    override private[sql] def markRangeCount(): Unit = { lastScanKind = "range_count" }

    // rank → key-as-double memo for the percentile service: the
    // snapshot is immutable, so a selected rank never goes stale —
    // repeated median/percentile queries answer driver-side with only
    // the (also-memoized) count lookup, zero jobs
    // one key-stream job (values untouched), memoized on the snapshot;
    // CHECKED arithmetic throughout — overflow surfaces as an
    // ArithmeticException exactly where Spark's ANSI sum would error
    @transient private lazy val keySumMemo: Long = {
      val toL: K => Long = codec.toExternalSql(_).asInstanceOf[Number].longValue()
      idx.partitionsRDD.map { p =>
        var s = 0L
        p.iterator.foreach { case (k, _) => s = Math.addExact(s, toL(k)) }
        s
      }.collect().foldLeft(0L)(Math.addExact)
    }
    override private[sql] def nonNullCountFor(col: String): Option[() => Long] =
      if (col == keyCol) Some(() => statsCount)
      else secondaryNonNullCount(col)

    override private[sql] def secondaryExtremaFor(
        col: String): Option[() => (Option[Any], Option[Any])] =
      if (col == keyCol) None else secondaryExtrema(col)

    override private[sql] def sumCountFor(
        col: String): Option[() => Option[(Any, Long)]] = {
      def integral(c: String) = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (col == keyCol) {
        if (!integral(keyCol)) None
        else Some(() => {
          val n = statsCount
          if (n == 0) None else Some((keySumMemo, n))
        })
      } else secondaryDistributionFor(col).map { distThunk =>
        val kind = distKind(col).get // defined: the distribution claimed
        val fp = kind == DistFp
        () => distThunk().map { dist =>
          if (fp) {
            // exact: each FINITE double is a binary rational, so the
            // weighted BigDecimal fold is the TRUE sum, converted once
            // at the end (no accumulation-order drift); any NaN/Inf
            // entry switches to plain IEEE accumulation, whose result
            // the specials determine regardless of order
            var s = java.math.BigDecimal.ZERO
            var n = 0L
            var nonFinite = false
            dist.foreach { case (v, w) =>
              val d = fromSortableBits(v)
              if (!nonFinite) {
                if (java.lang.Double.isFinite(d))
                  s = s.add(new java.math.BigDecimal(d)
                    .multiply(java.math.BigDecimal.valueOf(w)))
                else nonFinite = true
              }
              n += w
            }
            val sum =
              if (nonFinite) {
                var a = 0.0
                dist.foreach { case (v, w) => a += fromSortableBits(v) * w }
                a
              } else s.doubleValue
            (java.lang.Double.valueOf(sum), n)
          } else {
            var s = 0L
            var n = 0L
            dist.foreach { case (v, w) =>
              // v is the stored Long — exact at any magnitude, where a
              // Double round-trip would silently lose bits past 2^53
              s = Math.addExact(s, Math.multiplyExact(v, w))
              n += w
            }
            kind match {
              case DistScaled(sc) =>
                // exact unscaled fold → the column's decimal domain
                (org.apache.spark.sql.types.Decimal(
                  java.math.BigDecimal.valueOf(s, sc)), n)
              case _ => (java.lang.Long.valueOf(s), n)
            }
          }
        }
      }
    }

    @transient private lazy val rankKeyMemo =
      new scala.collection.concurrent.TrieMap[Long, Double]()
    override private[sql] def percentilesFor(
        specs: Seq[(String, Seq[Double])])
        : Option[() => Seq[Option[Seq[Double]]]] = {
      if (specs.exists(_._2.exists(p => p < 0.0 || p > 1.0 || p.isNaN)))
        return None
      def integral(c: String) = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val keyOk = ordered && kSer.isOrderPreserving && integral(keyCol) &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
      // resolve every spec up front; one unservable column disqualifies
      // the whole claim and the query falls through intact
      val srcs: Seq[Option[Either[Unit, (() => Option[Array[(Long, Long)]], DistKind)]]] =
        specs.map { case (c, _) =>
          if (c == keyCol) (if (keyOk) Some(Left(())) else None)
          else secondaryDistributionFor(c).map(t => Right((t, distKind(c).get)))
        }
      if (srcs.exists(_.isEmpty)) return None
      Some { () =>
        lazy val n = statsCount
        // ONE rank-selection job prefetches every key rank still
        // missing from the memo, across all key-column specs
        val keyFracs = specs.zip(srcs).collect {
          case ((_, ps), Some(Left(_))) => ps
        }.flatten
        if (keyFracs.nonEmpty && n > 0) {
          val missing = keyFracs.flatMap { p =>
            val r = p * (n - 1)
            Seq(math.floor(r).toLong, math.ceil(r).toLong)
          }.distinct.filterNot(rankKeyMemo.contains)
          if (missing.nonEmpty) {
            val ks = idx.selectKthByKey(missing.toArray)(kSer)
            missing.zip(ks).foreach { case (r, k) =>
              rankKeyMemo.put(r,
                codec.toExternalSql(k).asInstanceOf[Number].doubleValue())
            }
          }
        }
        def atKey(p: Double): Double = {
          val r = p * (n - 1)
          val lo = math.floor(r).toLong
          val hi = math.ceil(r).toLong
          val vLo = rankKeyMemo(lo)
          if (lo == hi) vLo else vLo + (rankKeyMemo(hi) - vLo) * (r - lo)
        }
        def atWeighted(dist: Array[(Long, Long)], total: Long,
            p: Double, decode: Long => Double): Double = {
          val r = p * (total - 1)
          // Double conversion happens HERE, at interpolation — the
          // same place Spark's own Percentile converts (fp histograms
          // decode their sortable bits back to the stored double)
          def valueAt(j: Long): Double = {
            var cum = 0L
            var i = 0
            while (i < dist.length) {
              cum += dist(i)._2
              if (cum > j) return decode(dist(i)._1)
              i += 1
            }
            decode(dist.last._1)
          }
          val lo = math.floor(r).toLong
          val hi = math.ceil(r).toLong
          val vLo = valueAt(lo)
          if (lo == hi) vLo else vLo + (valueAt(hi) - vLo) * (r - lo)
        }
        specs.zip(srcs).map {
          case ((_, ps), Some(Left(_))) =>
            if (n == 0) None else Some(ps.map(atKey))
          case ((_, ps), Some(Right((distThunk, kind)))) =>
            distThunk().map { dist =>
              val total = dist.iterator.map(_._2).sum
              val decode: Long => Double = kind match {
                case DistFp => fromSortableBits
                case DistScaled(sc) =>
                  val div = math.pow(10, sc); l => l.toDouble / div
                case DistIntegral => _.toDouble
              }
              ps.map(p => atWeighted(dist, total, p, decode))
            }
          case _ => None // unreachable: srcs pre-validated
        }
      }
    }

    /** Bounded-interval count from pruned radix descents: claims only
      * when ORDERED with an order-preserving serializer, every filter
      * is a key-column range/equality conjunct (IsNotNull on the key is
      * vacuous — the index stores no null keys), and the met interval
      * is bounded on both sides. Anything else needs row inspection and
      * falls back to the scan path. */
    /** The bounded key interval `fs` pins down, when EVERY conjunct is
      * a key range/equality (IsNotNull on the key is vacuous). Outer
      * None: not claimable; inner None: provably-empty interval. */
    private def boundedIntervalOf(fs: Seq[Filter]): Option[Option[(K, K)]] = {
      if (!ordered || !kSer.isOrderPreserving || fs.isEmpty) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyCol => Some(Iv[K](None, None))
        case f => boundsOn(keyCol, codec, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codec.ord)
      if (iv.empty) Some(None)
      else (iv.from, iv.to) match {
        case (Some(lo), Some(hi)) => Some(Some((lo, hi)))
        case _ => None // unbounded side: leave it to the scan path
      }
    }

    // range-count twin of the probe memo: counts on an immutable
    // snapshot never go stale, so a repeated bounded interval answers
    // with no job at all (LRU-capped; a count is 8 bytes, the cap just
    // bounds the key strings)
    @transient private lazy val rangeCountMemo =
      new java.util.LinkedHashMap[(K, K), java.lang.Long](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(K, K), java.lang.Long]): Boolean = size > 64
      }
    override private[sql] def rangeCountFor(fs: Seq[Filter]): Option[() => Long] =
      boundedIntervalOf(fs).map {
        case None => () => 0L
        case Some((lo, hi)) => () =>
          rangeCountMemo.synchronized {
            Option(rangeCountMemo.get((lo, hi)))
          } match {
            case Some(c) => c.longValue()
            case None =>
              val c = idx.rangeCount(lo, hi)(kSer)
              rangeCountMemo.synchronized {
                rangeCountMemo.put((lo, hi), java.lang.Long.valueOf(c)); ()
              }
              c
          }
      }

    @transient private lazy val rangeExtremaMemo =
      new java.util.LinkedHashMap[(K, K), (Option[Any], Option[Any])](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(K, K), (Option[Any], Option[Any])]): Boolean =
          size > 64
      }
    override private[sql] def rangeExtremaFor(
        fs: Seq[Filter]): Option[() => (Option[Any], Option[Any])] =
      boundedIntervalOf(fs).map {
        case None => () => (None, None)
        case Some((lo, hi)) => () =>
          rangeExtremaMemo.synchronized {
            Option(rangeExtremaMemo.get((lo, hi)))
          } match {
            case Some(r) => r
            case None =>
              val (mn, mx) = idx.rangeExtrema(lo, hi)(kSer)
              val r = (mn.map(codec.toExternalSql), mx.map(codec.toExternalSql))
              rangeExtremaMemo.synchronized {
                rangeExtremaMemo.put((lo, hi), r); ()
              }
              r
          }
      }

    // ---------------------------------------------------- ordered top-k
    /** `ORDER BY key LIMIT n` is index-answerable when the partition
      * layout is globally ordered: range-partitioned + order-preserving
      * serializer (see [[graft.IndexedRDD.takeOrderedByKey]]). */
    override private[sql] def topKCapable: Boolean =
      ordered && kSer.isOrderPreserving &&
        idx.partitioner.exists(_.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
    override private[sql] def topKCols: Seq[String] = Seq(keyCol)
    override protected def fetchOrderedRows(n: Int, asc: Boolean): Seq[InternalRow] =
      idx.takeOrderedByKey(n, asc)(kSer).toSeq.map(_._2)
    override protected def markTopK(): Unit = {
      lastScanKind = "topk"
      lastPointLookupKeys = -1
    }

    /** The greatest stored key, computed once per immutable handle —
      * every unbounded-above page needs it and the O(depth) descents
      * job would otherwise repeat per page. */
    @transient private lazy val maxKeyMemo: Option[K] = idx.maxKey()(kSer)

    /** Keyset pagination (`WHERE key > cursor ORDER BY key LIMIT n`):
      * claimable when every conjunct is a key-interval bound (IsNotNull
      * on the key is vacuous — the index stores no null keys). The
      * intervals are EXACT (same boundsOn algebra as the range lane),
      * so the planner may omit the filter above the fetch. */
    override private[sql] def topKFilterClaimable(fs: Seq[Filter]): Boolean =
      topKCapable && fs.forall {
        case IsNotNull(c) => c == keyCol
        case f => boundsOn(keyCol, codec, eqAsPrefix = true, f).isDefined
      }

    /** Ordered-secondary sort claim: sort on ONE non-key column with
      * an ordered secondary index, every filter a bound on that SAME
      * column. Any such bound (IsNotNull included) excludes NULLs,
      * which the inverted index also excludes — so the served rows are
      * exact. An UNfiltered sort on the column never claims: SQL would
      * order the NULL rows first/last and the index cannot see them. */
    private def secondarySortOf(sortCols: Seq[String],
        fs: Seq[Filter]): Option[String] = sortCols match {
      case Seq(c) if c != keyCol && hasOrderedSecondary(c) && fs.nonEmpty &&
          fs.forall {
            case IsNotNull(cc) => cc == c
            case f => boundsOn(c, secondaryCodec(c), eqAsPrefix = false, f).isDefined
          } => Some(c)
      case _ => None
    }

    override private[sql] def topKClaimable(sortCols: Seq[String],
        fs: Seq[Filter]): Boolean =
      super.topKClaimable(sortCols, fs) || secondarySortOf(sortCols, fs).isDefined

    override protected def fetchOrderedRowsInRange(fs: Seq[Filter], n: Int,
        asc: Boolean): Seq[InternalRow] = {
      // the claim shapes are disjoint by filter column: all-key-bounds
      // is the keyset page; otherwise the filters name the one ordered
      // secondary column whose sort was claimed
      if (!topKFilterClaimable(fs)) {
        val c = fs.collectFirst {
          case IsNotNull(cc) if cc != keyCol && hasOrderedSecondary(cc) => cc
          case f if rangeColOfFilter(f).exists(hasOrderedSecondary) =>
            rangeColOfFilter(f).get
        }.getOrElse(throw new IllegalStateException(
          s"unserveable filtered top-k claim: $fs"))
        val codecC = secondaryCodec(c)
        val ivs = fs.flatMap(f => boundsOn(c, codecC, eqAsPrefix = false, f))
        return secondaryOrderedTopK(c, meet(ivs, codecC.ord), n, asc)
      }
      val ivs = fs.flatMap(f => boundsOn(keyCol, codec, eqAsPrefix = true, f))
      val iv = meet(ivs, codec.ord)
      if (iv.empty) return Nil
      val from = iv.from.getOrElse(codec.minKey)
      // close an unbounded-above page at succ(maxKey); a domain-max key
      // has no successor and merges in as an exact corner probe (it is
      // the greatest key, so it appends ascending / prepends descending)
      val (toOpt, corner) = iv.to match {
        case Some(t) => (Some(t), None)
        case None => maxKeyMemo match {
          case None => (None, None)
          case Some(mk) if codec.ord.lt(mk, from) => (None, None)
          case Some(mk) => codec.succ(mk) match {
            case Some(end) => (Some(end), None)
            case None => (Some(mk), Some(mk))
          }
        }
      }
      toOpt match {
        case None => Nil
        case Some(to) =>
          val body =
            idx.takeOrderedByKeyInRange(from, to, n, asc)(kSer).toSeq.map(_._2)
          corner match {
            case None => body
            case Some(ck) =>
              val cRow = idx.multiget(Array(ck)(kTag)).values.toSeq
              (if (asc) body ++ cRow else cRow ++ body).take(n)
          }
      }
    }

    /** `GROUP BY col COUNT(*)`: secondary posting lengths (a key-column
      * group is all size-1 groups — Catalyst's plain aggregate is
      * already right-shaped there). */
    override private[sql] def groupCountsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long)]] =
      if (col == keyCol) None else secondaryGroupCountsFor(col, fs)

    override private[sql] def colsAreFullKey(cols: Seq[String]): Boolean =
      cols == Seq(keyCol)

    /** `count(DISTINCT key)` is the index size (keys unique by
      * construction, never null); `count(DISTINCT sec)` the inverted
      * index's size. Both O(partitions), zero rows read. */
    override private[sql] def countDistinctFor(col: String): Option[() => Long] =
      if (col == keyCol) Some(() => statsAll(withExtrema = false)._1)
      else secondaryCountDistinct(col)

    /** `SELECT DISTINCT key [WHERE key-bounds]`: keys are unique and
      * partition-disjoint, so the distinct set is a plain per-partition
      * key enumeration — no aggregate, no exchange, values never
      * deserialized. Claims only when every conjunct is a key bound
      * (IsNotNull on the key is vacuous — no null keys are stored). */
    override private[sql] def distinctValuesFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[Any]] = {
      if (col != keyCol) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyCol => Some(Iv[K](None, None))
        case f => boundsOn(keyCol, codec, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codec.ord)
      val dt = schema(keyCol).dataType
      val ordK = codec.ord
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some(() =>
        if (isEmpty) idx.context.emptyRDD[Any]
        else idx.mapPartitions(_.collect {
          case (k, _) if lo.forall(l => ordK.gteq(k, l)) &&
              hi.forall(h => ordK.lt(k, h)) =>
            toCatalystKey(dt, k)
        }))
    }

    override private[sql] def exprGroupStatsFor(col: String,
        bucketFactory: () => Any => Any, fs: Seq[Filter],
        withExtrema: Boolean): Option[() => RDD[(Any, Long, Any, Any)]] = {
      if (col != keyCol) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyCol => Some(Iv[K](None, None))
        case f => boundsOn(keyCol, codec, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codec.ord)
      val dt = schema(keyCol).dataType
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some(exprGroupStatsThunk[K, K](idx, codec.ord, k => toCatalystKey(dt, k),
        identity[K], bucketFactory, lo, hi, isEmpty, withExtrema))
    }

    override private[sql] def groupStatCol(col: String): Option[String] =
      if (col != keyCol && hasSecondary(col)) Some(keyCol) else None

    override private[sql] def groupStatsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long, Any, Any)]] =
      if (col == keyCol) None
      else {
        val dt = schema(keyCol).dataType
        secondaryGroupStatsFor(col, fs, codec.ord,
          (k: K) => toCatalystKey(dt, k))
      }

    // secondary indexes: provided by [[SecondaryCapable]] (shared
    // with composite handles).

    /** DISTRIBUTED copy-on-write upsert: key `updates`' internal rows
      * and ship ONLY them to this index's partitioning (one one-sided
      * shuffle of the update set — the existing corpus never moves),
      * then insert per partition. The SQL twin of
      * [[graft.IndexedRDD.multiputRDD]], and the bulk-update shape that
      * holds at 100 TB: cost scales with the delta, not the corpus.
      * Columns must match this handle's schema by name and type (the
      * rows splice into the same layout); duplicate keys WITHIN the
      * update set resolve by partition iteration order — pre-aggregate
      * the delta if it can carry dups. */
    def upsertFrame(updates: DataFrame): Handle[K] = {
      // catalogString ignores nullability metadata (containsNull et
      // al) — the InternalRow layout is identical either way, and an
      // array-literal update frame legitimately differs there
      val got = updates.schema.map(f => (f.name, f.dataType.catalogString))
      val want = schema.map(f => (f.name, f.dataType.catalogString))
      require(got == want,
        s"update schema $got must match handle schema $want")
      new Handle(idx.multiputRDD(pairs(updates, keyCol, codec)),
        keyCol, schema, ordered, codec)
    }

    /** Snapshot compaction (the engine under SQL `OPTIMIZE`): a
      * content-identical handle whose partitions are freshly rebuilt
      * and whose RDD lineage is checkpoint-cut, so reads stop
      * re-playing the copy-on-write delta chain that produced this
      * version. Secondary indexes and zone maps rebuild lazily on the
      * new handle at first use. See [[graft.IndexedRDD.compacted]]. */
    def compacted: Handle[K] =
      new Handle(idx.compacted(), keyCol, schema, ordered, codec)

    /** Post-build re-skew — [[graft.IndexedRDD.reskewed]] under this
      * handle's layout; `this` when already balanced (or range-laid). */
    private[sql] def reskewed(maxRowsPerPartition: Long): Handle[K] = {
      val r = idx.reskewed(maxRowsPerPartition, ordered)
      if (r eq idx) this else new Handle(r, keyCol, schema, ordered, codec)
    }

    /** Schema evolution (`ALTER TABLE ... ADD COLUMN`): a handle over
      * the SAME index whose rows widen lazily to `newSchema` — old
      * fields by position, appended fields NULL. One narrow
      * index-preserving mapValues layer (no shuffle, keys untouched);
      * OPTIMIZE folds it into the base like any other COW layer. */
    private[sql] def withWidenedSchema(newSchema: StructType): Handle[K] = {
      IndexedFrame.validateWiden(schema, newSchema)
      if (newSchema.length == schema.length) return this
      val f = new WidenRow(schema.fields.map(_.dataType), newSchema)
      new Handle(idx.mapValues(f(_)), keyCol, newSchema, ordered, codec)
    }

    /** GENERAL schema evolution (RENAME COLUMN / DROP COLUMN / type
      * widening / ADD) — [[IndexedFrame.validateRemap]] semantics. The
      * key column may be RENAMED (pure metadata — the index is
      * untouched) but never dropped or type-changed (its codec and
      * serialized order are type-bound). A name-only change reuses the
      * index as-is; anything structural is one narrow mapValues layer. */
    private[sql] def withRemappedSchema(newSchema: StructType,
        positions: Array[Int]): Handle[K] = {
      IndexedFrame.validateRemap(schema, newSchema, positions)
      val keyPos = positions.indexOf(schema.fieldIndex(keyCol))
      require(keyPos >= 0, s"cannot drop key column '$keyCol'")
      require(newSchema.fields(keyPos).dataType == schema(keyCol).dataType,
        s"cannot change the type of key column '$keyCol'")
      val newKey = newSchema.fields(keyPos).name
      if (IndexedFrame.remapIsNameOnly(schema, newSchema, positions))
        new Handle(idx, newKey, newSchema, ordered, codec)
      else {
        val f = new RemapRow(schema.fields.map(_.dataType), newSchema, positions)
        new Handle(idx.mapValues(f(_)), newKey, newSchema, ordered, codec)
      }
    }

    /** Carry `old`'s secondary indexes and zone maps onto THIS
      * (post-statement) handle at DELTA cost — the DML index
      * maintenance path; see
      * [[SecondaryCapable.maintainSecondariesFrom]] and
      * [[ZoneMapped.widenZonesFrom]]. `old` must be the pre-statement
      * snapshot of the same table (same key column and type); `del`/
      * `up` are the statement's change sets as applied. */
    private[sql] def maintainSidecarsFrom(oldAny: AnyRef,
        del: Option[DataFrame], up: Option[DataFrame]): Unit = {
      val old = oldAny.asInstanceOf[Handle[K]]
      val c = codec
      val delKeys = del.map(_.queryExecution.toRdd.map(r => c.fromRow(r, 0)))
      val upKeys = up.map(u => pairs(u, keyCol, c).map(_._1))
      maintainSecondariesFrom(old, delKeys, upKeys)
      widenZonesFrom(old, upKeys.map { ks =>
        idx.lookupJoinStream(ks.map((_, ())))((_, row, _) => row)
          .mapPartitionsWithIndex((pid, it) => it.map(r => (pid, r)))
      })
    }

    /** See [[IndexedFrame.mergeClauses]] for the shared clause
      * machinery (conditions, three-valued logic, change-set rows).
      *
      * SQL `MERGE INTO` semantics against this handle, at DELTA cost:
      *
      * {{{
      * MERGE INTO handle t USING source s ON t.<keyCol> = s.<sourceKey>
      *   WHEN MATCHED [AND <deleteWhen>]  THEN DELETE          -- clause 1
      *   WHEN MATCHED [AND <updateWhen>]  THEN UPDATE SET <updateSet>
      *   WHEN NOT MATCHED [AND <insertWhen>] THEN INSERT <insertValues>
      * }}}
      *
      * Clause PRESENCE follows the arguments: a DELETE clause exists
      * iff `deleteWhen` is Some (use `Some(lit(true))` for an
      * unconditional one), an UPDATE clause iff `updateSet` is
      * non-empty, an INSERT clause iff `insertAll` or `insertValues`
      * is non-empty. Clauses evaluate in SQL's textual order above:
      * a matched row that satisfies the delete condition deletes even
      * if it also satisfies the update condition. Conditions and
      * expressions are Columns over the joined view — TARGET columns
      * as `col("t.<name>")`, SOURCE columns as `col("s.<name>")`.
      * `insertValues` maps target columns to source-side expressions
      * (unnamed columns insert NULL); `insertAll = true` inserts the
      * source row positionally by target column name instead. Rows
      * keep the handle schema's NULLABILITY: an update/insert
      * expression that evaluates to NULL for a non-nullable target
      * column reads back as that type's default (Spark stores the
      * null bit but the schema says never-null) — make the column
      * nullable in the source frame if NULLs are possible.
      *
      * Execution is the 100 TB shape: the source LEFT-joins the handle
      * through the lookup-join strategy when enabled (probe-side-only
      * cost — the corpus is never scanned), then ONE delete pass and
      * ONE upsert pass apply the delta copy-on-write. All three change
      * sets are computed against the ORIGINAL snapshot and are
      * key-disjoint by the clause conditions, so the sequential
      * application equals SQL's atomic semantics; the pre-merge handle
      * stays queryable. Duplicate SOURCE keys resolve last-write-wins
      * (SQL MERGE raises instead — dedupe the source to match it
      * exactly).
      *
      * `WHEN NOT MATCHED BY SOURCE` clauses (Delta's delete-unmatched
      * mirroring shape) ride the `notBySource*` arguments: conditions
      * and update expressions are Columns over PLAIN target column
      * names (SQL forbids source references here), a delete clause
      * exists iff `notBySourceDeleteWhen` is Some, an update clause
      * iff `notBySourceUpdateSet` is non-empty, delete evaluates
      * first. These clauses select target rows whose key appears in
      * NO source row — inherently one pass over the corpus — served
      * by the corpus-kept anti join ([[graft.IndexedRDD
      * .lookupSemiStream]] under the indexed strategy): the source
      * keys shuffle one-sided, the corpus streams locally and never
      * shuffles. */
    def mergeFrame(source: DataFrame, sourceKey: String,
        deleteWhen: Option[Column] = None,
        updateWhen: Option[Column] = None,
        updateSet: Map[String, Column] = Map.empty,
        insertWhen: Option[Column] = None,
        insertValues: Map[String, Column] = Map.empty,
        insertAll: Boolean = false,
        notBySourceDeleteWhen: Option[Column] = None,
        notBySourceUpdateWhen: Option[Column] = None,
        notBySourceUpdateSet: Map[String, Column] = Map.empty)(
        implicit spark: SparkSession): Handle[K] = {
      val ms = mergeChangeSets(source, sourceKey, deleteWhen, updateWhen,
        updateSet, insertWhen, insertValues, insertAll,
        notBySourceDeleteWhen, notBySourceUpdateWhen, notBySourceUpdateSet)
      val afterDel = ms.del.map(deleteFrame).getOrElse(this)
      val result = ms.ups.map(afterDel.upsertFrame).getOrElse(afterDel)
      if (ms.persisted) {
        result.idx.cached.count() // one pass over the persisted join
        ms.release()
      }
      result
    }

    /** [[mergeFrame]]'s change sets WITHOUT application — the durable
      * catalog-table DML path writes both frames as the table's delta
      * log first, then applies from disk so replay is bit-exact. */
    private[sql] def mergeChangeSets(source: DataFrame, sourceKey: String,
        deleteWhen: Option[Column],
        updateWhen: Option[Column],
        updateSet: Map[String, Column],
        insertWhen: Option[Column],
        insertValues: Map[String, Column],
        insertAll: Boolean,
        notBySourceDeleteWhen: Option[Column],
        notBySourceUpdateWhen: Option[Column],
        notBySourceUpdateSet: Map[String, Column])(
        implicit spark: SparkSession): MergeSets = {
      import org.apache.spark.sql.functions.{col => fCol}
      require(!updateSet.contains(keyCol), "MERGE may not update the key")
      val joined = source.alias("s")
        .join(toDF.alias("t"), fCol(s"s.$sourceKey") === fCol(s"t.$keyCol"), "left")
      if (auditMergePlans)
        lastMergePlan = joined.queryExecution.executedPlan.toString
      val matched = fCol(s"t.$keyCol").isNotNull
      // when more than one change set reads the joined view (delete
      // keys, update rows, insert rows are three separate consumers),
      // persist it and EAGERLY materialize the merged snapshot so the
      // source plan — and its lookup join — executes exactly ONCE;
      // single-clause merges stay fully lazy with no cache traffic
      val reads = Seq(deleteWhen.isDefined, updateSet.nonEmpty,
        insertAll || insertValues.nonEmpty).count(identity)
      if (reads >= 2)
        joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a merge may carry ONLY NOT-MATCHED-BY-SOURCE clauses — the
      // matched/insert machinery then contributes nothing
      val hasMatchedSide = deleteWhen.isDefined || updateSet.nonEmpty ||
        insertAll || insertValues.nonEmpty
      require(hasMatchedSide || notBySourceDeleteWhen.isDefined ||
        notBySourceUpdateSet.nonEmpty, "MERGE needs at least one WHEN clause")
      val cs =
        if (hasMatchedSide)
          mergeClauses(joined, matched, schema, deleteWhen, updateWhen,
            updateSet, insertWhen, insertValues, insertAll)
        else MergeChangeSets(org.apache.spark.sql.functions.lit(false),
          hasDelete = false, None)
      val nbsBoth =
        notBySourceDeleteWhen.isDefined && notBySourceUpdateSet.nonEmpty
      // both NBS clause kinds read the anti join (delete keys and
      // update rows are separate consumers) — persist it so the
      // corpus-kept anti pass executes ONCE, mirroring the
      // matched-side joined cache
      val unmatched =
        if (notBySourceDeleteWhen.isDefined || notBySourceUpdateSet.nonEmpty)
          Some {
            val u =
            toDF.alias("t").join(source.select(fCol(sourceKey)).alias("s"),
              fCol(s"t.$keyCol") === fCol(s"s.$sourceKey"), "left_anti")
            if (nbsBoth)
              u.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else u
          }
        else None
      val nbs = unmatched.map(u => nbsClauses(
          u, Seq(keyCol), schema, notBySourceDeleteWhen,
          notBySourceUpdateWhen, notBySourceUpdateSet))
        .getOrElse(NbsChangeSets(None, None))
      val matchedDel =
        if (cs.hasDelete) Some(joined.filter(cs.delC)
          .select(fCol(s"t.$keyCol").as(keyCol)))
        else None
      val allDel = (matchedDel ++ nbs.delKeys).reduceOption(_ unionByName _)
      val allUps = (cs.upserts ++ nbs.updRows).reduceOption(_ unionByName _)
      MergeSets(allDel, allUps, reads >= 2 || nbsBoth,
        () => {
          if (reads >= 2) joined.unpersist(blocking = false)
          if (nbsBoth) unmatched.foreach(_.unpersist(blocking = false))
          ()
        })
    }

    /** DISTRIBUTED copy-on-write delete: `keys` must be a single-column
      * DataFrame of this handle's key type; only that column shuffles
      * (to the index's partitioning) and matching rows are removed per
      * partition — [[upsertFrame]]'s retraction twin. Unknown keys are
      * ignored, matching SQL DELETE semantics. */
    def deleteFrame(keys: DataFrame): Handle[K] = {
      require(keys.schema.length == 1 &&
          keys.schema.head.dataType == schema(keyCol).dataType,
        s"single ${schema(keyCol).dataType.catalogString} key column " +
          s"required, got ${keys.schema.map(_.dataType.catalogString)}")
      val c = codec
      val kRdd = keys.queryExecution.toRdd.map { r =>
        if (r.isNullAt(0))
          throw new IllegalArgumentException("null delete key")
        c.fromRow(r, 0)
      }
      new Handle(idx.deleteRDD(kRdd), keyCol, schema, ordered, codec)
    }

    /** Copy-on-write upsert of full (external) rows, returning a new
      * handle that shares partition structure with this one. */
    def upsert(rows: Seq[Row]): Handle[K] = {
      val conv = CatalystTypeConverters.createToCatalystConverter(schema)
      val proj = UnsafeProjection.create(schema)
      val ki = keyIndex
      val kvs = rows.map { r =>
        val ir = proj(conv(r).asInstanceOf[InternalRow]).copy()
        (codec.fromRow(ir, ki), ir: InternalRow)
      }.toMap
      new Handle(idx.multiput(kvs), keyCol, schema, ordered, codec)
    }

    def toDF(implicit spark: SparkSession): DataFrame =
      spark.baseRelationToDataFrame(new IndexedRelation(this)(spark.sqlContext))

    /** Point-in-time read: the row whose key is the LARGEST key ≤ `t`
      * (the time-series "as of" lookup on timestamp/date-keyed handles;
      * works for any order-served key type). ONE bounded job: the
      * [[graft.IndexedRDD.floorEntry]] pass of O(depth) rightmost
      * descents over the partition prefix holding keys ≤ t returns the
      * row together with its key — no second point-probe job. Empty
      * DataFrame when every key exceeds `t`. Requires an ordered
      * handle. */
    def asOf(t: Any)(implicit spark: SparkSession): DataFrame = {
      require(ordered && kSer.isOrderPreserving,
        "asOf needs an ordered handle with an order-preserving key")
      val k = codec.fromLiteral(t)
      // inclusive floor = strict floor of succ(t); a key with no
      // successor is the domain max, whose floor is the global max key
      val fe = codec.succ(k) match {
        case Some(ub) => idx.floorEntry(ub)(kSer)
        case None => idx.maxEntry()(kSer)
      }
      lastScanKind = "asof"
      rowDF(fe.map(_._2), schema)
    }
  }

  /** Internal rows of `df` keyed+copied once (no external conversion),
    * ready for index build. Null keys are rejected — the index is a
    * key-unique map and NULL never equals anything in SQL. */
  private def pairs[K](df: DataFrame, keyCol: String,
      codec: KeyCodec[K]): RDD[(K, InternalRow)] = {
    val ki = df.schema.fieldIndex(keyCol)
    df.queryExecution.toRdd.mapPartitions(_.map { r =>
      if (r.isNullAt(ki))
        throw new IllegalArgumentException(s"null key in column $keyCol")
      (codec.fromRow(r, ki), r.copy(): InternalRow)
    })
  }

  /** Shared executor-side fold for [[StatsCapable.exprGroupStatsFor]]:
    * stream each partition's keys (values untouched), fold consecutive
    * same-bucket runs — under an ordered layout a monotonic f
    * (date_trunc of a ts key) sees each bucket as ONE run, so the map
    * stays O(local buckets) — merge into a per-partition map, then ONE
    * (bucket, stats)-pair exchange. Extrema compare in the component's
    * natural order and convert to catalyst at the very end. */
  private def exprGroupStatsThunk[KK, C](
      idx: IndexedRDD[KK, InternalRow], ordC: Ordering[C],
      toCat: C => Any, extract: KK => C,
      bucketFactory: () => Any => Any,
      lo: Option[C], hi: Option[C], isEmpty: Boolean,
      withExtrema: Boolean): () => RDD[(Any, Long, Any, Any)] = () =>
    if (isEmpty) idx.context.emptyRDD[(Any, Long, Any, Any)]
    else {
      val parts = math.min(idx.getNumPartitions, 32)
      idx.mapPartitions { it =>
        val bucket = bucketFactory()
        val m = new java.util.HashMap[Any, Array[Any]]()
        var lastB: Any = null
        var has = false
        var run = 0L
        var runMin: C = null.asInstanceOf[C]
        var runMax: C = null.asInstanceOf[C]
        def flush(): Unit = if (run > 0) {
          val prev = m.get(lastB)
          if (prev == null) m.put(lastB, Array[Any](run, runMin, runMax))
          else {
            prev(0) = prev(0).asInstanceOf[Long] + run
            if (withExtrema) {
              if (ordC.lt(runMin, prev(1).asInstanceOf[C])) prev(1) = runMin
              if (ordC.gt(runMax, prev(2).asInstanceOf[C])) prev(2) = runMax
            }
          }
          run = 0L
        }
        it.foreach { case (kk, _) =>
          val c = extract(kk)
          if (lo.forall(l => ordC.gteq(c, l)) &&
              hi.forall(h => ordC.lt(c, h))) {
            val b = bucket(toCat(c))
            if (!has || b != lastB) {
              flush(); lastB = b; has = true; runMin = c; runMax = c
            } else if (withExtrema) {
              if (ordC.lt(c, runMin)) runMin = c
              if (ordC.gt(c, runMax)) runMax = c
            }
            run += 1
          }
        }
        flush()
        import scala.jdk.CollectionConverters._
        m.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
      }.reduceByKey({ (x, y) =>
        x(0) = x(0).asInstanceOf[Long] + y(0).asInstanceOf[Long]
        if (withExtrema) {
          if (ordC.lt(y(1).asInstanceOf[C], x(1).asInstanceOf[C])) x(1) = y(1)
          if (ordC.gt(y(2).asInstanceOf[C], x(2).asInstanceOf[C])) x(2) = y(2)
        }
        x
      }, parts).map { case (b, arr) =>
        (b, arr(0).asInstanceOf[Long],
          if (withExtrema) toCat(arr(1).asInstanceOf[C]) else null,
          if (withExtrema) toCat(arr(2).asInstanceOf[C]) else null)
      }
    }

  private def codecFor(schema: StructType, keyCol: String): KeyCodec[_] =
    schema(keyCol).dataType match {
      case dt @ (LongType | IntegerType | ShortType | ByteType |
                 TimestampType | TimestampNTZType | DateType) => new LongCodec(dt)
      case StringType => StringCodec
      case dt: DecimalType if dt.scale == 0 => new BigIntCodec(dt.precision)
      case other => throw new IllegalArgumentException(
        s"unsupported key column type ${other.catalogString} " +
          "(integral, timestamp, string, or decimal(p,0) required)")
    }

  /** Shared build path: key+copy the internal rows, optionally force a
    * partition count (co-partitioned handles zip-join without a
    * shuffle), build hash or radix partitions, pin. */
  private def buildHandle[K: ClassTag: KeySerializer](df: DataFrame, keyCol: String,
      codec: KeyCodec[K], ordered: Boolean, numPartitions: Int): Handle[K] = {
    val raw = pairs(df, keyCol, codec)
    val p =
      if (numPartitions > 0) raw.partitionBy(new org.apache.spark.HashPartitioner(numPartitions))
      else raw
    val idx = if (ordered) IndexedRDD.ordered(p) else IndexedRDD(p)
    new Handle(idx.cached, keyCol, df.schema, ordered, codec)
  }

  private def requireString(df: DataFrame, keyCol: String): Unit =
    require(df.schema(keyCol).dataType == StringType,
      s"string key column required, got ${df.schema(keyCol).dataType.catalogString}")

  /** Index a DataFrame by an integral or temporal (timestamp/date) key
    * column (key uniqueness
    * enforced, last write wins) and pin the built index. `ordered=true`
    * builds radix-tree partitions, enabling pushed range predicates;
    * `numPartitions` forces a partition count so that two handles built
    * with the same count are co-partitioned (their SQL joins plan as
    * narrow zip joins — see [[IndexedJoin]]). */
  def index(df: DataFrame, keyCol: String, ordered: Boolean = false,
      numPartitions: Int = 0): Handle[Long] = {
    val codec = codecFor(df.schema, keyCol) match {
      case lc: LongCodec => lc
      case _ => throw new IllegalArgumentException(
        s"index() requires an integral key column; use indexString/indexBigInt for ${df.schema(keyCol).dataType.catalogString}")
    }
    buildHandle(df, keyCol, codec, ordered, numPartitions)
  }

  /** [[index]] through [[graft.IndexedRDD.skewAware]]: a hash build
    * whose partitions CANNOT exceed `maxRowsPerPartition` in
    * expectation — oversized base buckets (keys sharing a stride that
    * collides `hashCode % n`) split by a decorrelated second hash
    * before the build, so a skewed key distribution costs extra
    * partitions instead of an executor OOM. Same pushdown surface as
    * any hash handle (point/IN probes, secondary indexes, COW DML,
    * lookup joins); routing stays a pure key function, so saved
    * copies reload with their two-level partitioner intact. */
  def indexSkewAware(df: DataFrame, keyCol: String, numPartitions: Int,
      maxRowsPerPartition: Long): Handle[Long] = {
    val codec = codecFor(df.schema, keyCol) match {
      case lc: LongCodec => lc
      case _ => throw new IllegalArgumentException(
        "indexSkewAware requires an integral key column")
    }
    new Handle(IndexedRDD.skewAware(pairs(df, keyCol, codec),
      numPartitions, maxRowsPerPartition).cached,
      keyCol, df.schema, ordered = false, codec)
  }

  /** Index by a STRING key column: pushed equality/IN predicates route
    * into partition-pruned point reads exactly like integral keys (the
    * RDD layer is generic over [[KeySerializer]]). `ordered = true`
    * keys the radix tries through
    * [[KeySerializer.StringLexSerializer]], whose byte order IS the
    * UTF8-binary string order Spark and DuckDB compare in — pushed
    * string ranges (`BETWEEN`, `<`, `>=`, ...) become trie range scans
    * and SQL `min/max(keyCol)` becomes O(depth) radix descents. */
  def indexString(df: DataFrame, keyCol: String, ordered: Boolean = false,
      numPartitions: Int = 0): Handle[String] = {
    requireString(df, keyCol)
    if (ordered)
      buildHandle(df, keyCol, StringCodec, ordered = true, numPartitions)(
        implicitly[ClassTag[String]], KeySerializer.StringLexSerializer)
    else buildHandle(df, keyCol, StringCodec, ordered = false, numPartitions)
  }

  /** RANGE-PARTITIONED string handle: keys globally sorted in UTF-8
    * binary order (RangePartitioner under
    * [[KeySerializer.Utf8StringOrdering]] — NOT Java's UTF-16 natural
    * order, which diverges beyond the BMP) with lex-keyed radix tries
    * inside each partition, so a pushed string BETWEEN prunes to only
    * the partitions whose key interval overlaps — the string twin of
    * [[indexRangePartitioned]]. */
  def indexStringRangePartitioned(df: DataFrame, keyCol: String,
      numPartitions: Int): Handle[String] = {
    requireString(df, keyCol)
    implicit val ord: Ordering[String] = KeySerializer.Utf8StringOrdering
    implicit val ser: KeySerializer[String] = KeySerializer.StringLexSerializer
    val idx = IndexedRDD.rangePartitioned(
      pairs(df, keyCol, StringCodec), numPartitions)
    new Handle(idx.cached, keyCol, df.schema, ordered = true, StringCodec)
  }

  /** Index by a STRING column holding canonical UUIDs: keys serialize
    * as 16 bytes (msb‖lsb) instead of 36 chars; pushed equality/IN
    * routes into partition-pruned point reads. Keys ride
    * [[KeySerializer.UuidLexSerializer]] (raw big-endian, byte order ==
    * canonical-string order) and the build REJECTS non-canonical
    * values, so `ordered = true` handles answer SQL `min/max(keyCol)`
    * from radix descents AND claim pushed ranges with canonical
    * literals — both in the STRING column's own order. */
  def indexUuid(df: DataFrame, keyCol: String, ordered: Boolean = false,
      numPartitions: Int = 0): Handle[java.util.UUID] = {
    requireString(df, keyCol)
    buildHandle(df, keyCol, UuidCodec, ordered, numPartitions)(
      implicitly[ClassTag[java.util.UUID]], KeySerializer.UuidLexSerializer)
  }

  /** RANGE-PARTITIONED uuid handle: canonical-UUID string keys globally
    * sorted in canonical-string order ([[KeySerializer.UuidLexOrdering]]
    * — NOT `UUID.compareTo`'s signed order, which disagrees on the top
    * bit) with 16-byte-keyed radix tries inside each partition: a
    * pushed BETWEEN with canonical literals prunes to the overlapping
    * partitions — the uuid twin of [[indexStringRangePartitioned]]. */
  def indexUuidRangePartitioned(df: DataFrame, keyCol: String,
      numPartitions: Int): Handle[java.util.UUID] = {
    requireString(df, keyCol)
    implicit val ord: Ordering[java.util.UUID] = KeySerializer.UuidLexOrdering
    implicit val ser: KeySerializer[java.util.UUID] = KeySerializer.UuidLexSerializer
    val idx = IndexedRDD.rangePartitioned(
      pairs(df, keyCol, UuidCodec), numPartitions)
    new Handle(idx.cached, keyCol, df.schema, ordered = true, UuidCodec)
  }

  /** Index by a decimal(p, 0) key column as BigInt keys (the
    * reference's first-class BigInt keys — reference
    * KeySerializer.scala:69-80 — at the SQL surface): pushed
    * equality/IN routes into partition-pruned point reads. Range
    * predicates stay with Spark (the BigInt encoding is
    * length-prefixed, not order-preserving). */
  def indexBigInt(df: DataFrame, keyCol: String,
      numPartitions: Int = 0): Handle[BigInt] = {
    val codec = codecFor(df.schema, keyCol) match {
      case bc: BigIntCodec => bc
      case _ => throw new IllegalArgumentException(
        s"decimal(p,0) key column required, got ${df.schema(keyCol).dataType.catalogString}")
    }
    buildHandle(df, keyCol, codec, ordered = false, numPartitions)(
      implicitly[ClassTag[BigInt]], KeySerializer.BigIntSerializer)
  }

  // ------------------------------------------------------------ composite

  /** Per-column key machinery for composite builds: codec + serializer
    * + class tag, matched by column TYPE (uuid strings on request).
    * String components always ride the lex serializer so an ordered
    * composite's byte order is lexicographic (a, b). */
  private[sql] final case class KeySpec[T](codec: KeyCodec[T],
      ser: KeySerializer[T], tag: ClassTag[T])

  private def specFor(schema: StructType, col: String, uuid: Boolean): KeySpec[_] =
    schema(col).dataType match {
      case dt @ (LongType | IntegerType | ShortType | ByteType |
                 TimestampType | TimestampNTZType | DateType) =>
        KeySpec[Long](new LongCodec(dt), KeySerializer.LongSerializer,
          implicitly[ClassTag[Long]])
      case StringType if uuid =>
        KeySpec[java.util.UUID](UuidCodec, KeySerializer.UuidLexSerializer,
          implicitly[ClassTag[java.util.UUID]])
      case StringType =>
        KeySpec[String](StringCodec, KeySerializer.StringLexSerializer,
          implicitly[ClassTag[String]])
      case dt: DecimalType if dt.scale == 0 =>
        KeySpec[BigInt](new BigIntCodec(dt.precision),
          KeySerializer.BigIntSerializer, implicitly[ClassTag[BigInt]])
      case dt: DecimalType if dt.scale > 0 && dt.precision <= 18 =>
        KeySpec[Long](new ScaledDecimalCodec(dt.precision, dt.scale),
          KeySerializer.LongSerializer, implicitly[ClassTag[Long]])
      case dt @ (DoubleType | FloatType) =>
        KeySpec[Double](new DoubleCodec(dt), KeySerializer.DoubleSerializer,
          implicitly[ClassTag[Double]])
      case other => throw new IllegalArgumentException(
        s"unsupported composite key column type ${other.catalogString} for $col")
    }

  private def specForTag(schema: StructType, col: String, tag: String): KeySpec[_] =
    tag match {
      case "uuid" => specFor(schema, col, uuid = true)
      case _ => specFor(schema, col, uuid = false)
    }

  /** COMPOSITE two-column key handle (reference treats Tuple2 keys as
    * first-class — Tuple2Serializer, reference KeySerializer.scala:
    * 145-176): rows are indexed by the (leading, second) key pair
    * through [[KeySerializer.ConcatTuple2Serializer]] (component
    * prefix-freedom makes the unprefixed concatenation both prefix-free
    * and, for order-preserving components, lexicographically
    * order-preserving — variable-width string leads included), and
    * pushed predicates route as
    *
    *  - conjunctive equality/IN on BOTH columns → partition-pruned
    *    `multiget` over the cross product of the pushed key sets;
    *  - equality or range on the LEADING column alone (ordered
    *    handles) → radix-trie range scan over the tuple byte space —
    *    a leading-column interval is one contiguous byte range;
    *  - leading equality/IN × second-column range (ordered handles) →
    *    one disjoint trie interval per leading value in a single
    *    multiRange pass;
    *  - anything else → indexed full scan, Spark re-applies residuals.
    */
  class CompositeHandle[A, B](val idx: IndexedRDD[(A, B), InternalRow],
      val keyColA: String, val keyColB: String, val schema: StructType,
      val ordered: Boolean,
      private[sql] val codecA: KeyCodec[A], private[sql] val codecB: KeyCodec[B])(
      implicit private[sql] val ctA: ClassTag[A],
      private[sql] val ctB: ClassTag[B],
      private[sql] val serA: KeySerializer[A],
      private[sql] val serB: KeySerializer[B])
      extends Serializable with StatsCapable with JoinableHandle
      with ZoneMapped with TopKServable with SecondaryCapable[(A, B)] {
    override protected def secTag: ClassTag[(A, B)] = implicitly
    override protected def secondaryForbiddenCols: Set[String] =
      Set(keyColA, keyColB)
    override private[sql] def filteredAggFor(secCol: String, aggCol: String)
        : Option[Any => Option[GroupAgg]] =
      secondaryFilteredAggFor(secCol, aggCol)

    private[sql] implicit val tupSer: KeySerializer[(A, B)] =
      new KeySerializer.ConcatTuple2Serializer[A, B](serA, serB)
    private[sql] val tupleOrd: Ordering[(A, B)] =
      Ordering.Tuple2(codecA.ord, codecB.ord)

    override private[sql] def idxAny: IndexedRDD[Any, InternalRow] =
      idx.asInstanceOf[IndexedRDD[Any, InternalRow]]
    override private[sql] def joinKeyCols: Seq[String] = Seq(keyColA, keyColB)
    override private[sql] def keyTypeTag: String =
      s"composite:${codecTag(codecA)},${codecTag(codecB)}"
    override private[sql] def zoneKeyCols: Set[String] =
      // under a Morton layout the key lanes do NOT serve interval
      // filters (no natural-order descent), so the key columns are
      // zone-mapped like any clustered value column — per-partition
      // min/max of both dims are tight 2-D boxes there, and the zone
      // path is what prunes box queries. COW ops preserve the
      // partitioner, so the permission survives DML.
      if (idx.partitioner.exists(p =>
          p.isInstanceOf[graft.IndexedRDD.MortonPartitioner] ||
            p.isInstanceOf[graft.IndexedRDD.RankZPartitioner]))
        Set.empty
      else Set(keyColA, keyColB)

    /** Z-ORDERED rebuild (the engine under `OPTIMIZE t ZORDER BY (a,
      * b)`): redistribute this handle's rows so each partition holds a
      * z-CONTIGUOUS (Morton-contiguous) slice of the (a, b) key space
      * — equal-depth bounds sampled from the data — then re-index per
      * partition. One corpus shuffle, same cost class as any base
      * rewrite. Key routing stays exact (the partitioner is a pure key
      * function); leading-range descents decline (not a
      * RangePartitioner) and 2-D box queries prune through zone maps
      * on the key columns instead — call `analyzeZones(a, b)` on the
      * result (the catalog OPTIMIZE does). Both key components must be
      * integral/temporal (Long-coded). `swapped` = the interleave
      * leads with `keyColB`. */
    def zOrdered(swapped: Boolean = false): CompositeHandle[A, B] = {
      require(codecA.isInstanceOf[LongCodec] && codecB.isInstanceOf[LongCodec],
        "ZORDER needs integral/temporal key components — " +
          s"($keyColA, $keyColB) are ${codecTag(codecA)}/${codecTag(codecB)}")
      val bits = 31
      val parts = math.max(1, idx.partitions.length)
      val pairs = idx.asInstanceOf[RDD[((Long, Long), InternalRow)]]
      def z(k: (Long, Long)): Long =
        if (swapped) graft.operators.ZOrder.interleave(k._2, k._1, bits)
        else graft.operators.ZOrder.interleave(k._1, k._2, bits)
      // equal-depth bounds from a bounded sample (what RangePartitioner
      // does): O(parts) driver bytes regardless of corpus size
      val sample = pairs.keys.map(z)
        .takeSample(withReplacement = false, num = math.max(1024, parts * 64))
        .sorted
      val bounds =
        if (sample.isEmpty) Array.empty[Long]
        else {
          val step = sample.length.toDouble / parts
          (1 until parts).map(i =>
            sample(math.min(sample.length - 1, (i * step).toInt)))
            .distinct.toArray
        }
      val mp = new graft.IndexedRDD.MortonPartitioner(bounds, bits, swapped)
      val redist = pairs.partitionBy(mp)
        .asInstanceOf[RDD[((A, B), InternalRow)]]
      new CompositeHandle[A, B](IndexedRDD(redist).cached,
        keyColA, keyColB, schema, ordered = false, codecA, codecB)
    }

    /** RANK-SPACE z-ordered rebuild — serves `OPTIMIZE ... ZORDER BY`
      * when a key component is NOT Long-coded (strings, UUIDs,
      * decimals), where the raw-bit [[zOrdered]] interleave cannot
      * apply: each component maps to its equal-depth bucket rank
      * first (see [[CompositeNHandle.zOrderedN]] — same kernel).
      * `swapped` = `keyColB` leads the interleave. */
    def zOrderedRank(swapped: Boolean = false): CompositeHandle[A, B] = {
      val perm = if (swapped) Array(1, 0) else Array(0, 1)
      val cods = Array[KeyCodec[_]](codecA, codecB)
      val ords = perm.map(i => cods(i).ord.asInstanceOf[Ordering[Any]])
      val parts = math.max(1, idx.partitions.length)
      val sample = idx.keys
        .takeSample(withReplacement = false,
          num = math.max(1024, parts * 64))
      def comp(k: Any, i: Int): Any = {
        val t = k.asInstanceOf[(A, B)]
        if (i == 0) t._1 else t._2
      }
      val mp = IndexedFrame.rankZFor(sample.asInstanceOf[Array[Any]],
        comp, ords, perm, parts)
      val redist = idx.asInstanceOf[RDD[((A, B), InternalRow)]]
        .partitionBy(mp)
      new CompositeHandle[A, B](IndexedRDD(redist).cached,
        keyColA, keyColB, schema, ordered = false, codecA, codecB)
    }

    private def keyedProbe(probe: RDD[InternalRow], iA: Int,
        iB: Int): RDD[((A, B), InternalRow)] = {
      val cA = codecA
      val cB = codecB
      probe.mapPartitions(_.flatMap { r =>
        if (r.isNullAt(iA) || r.isNullAt(iB)) Iterator.empty
        else Iterator.single(((cA.fromRow(r, iA), cB.fromRow(r, iB)), r.copy()))
      })
    }
    private def keyedProbeNullable(probe: RDD[InternalRow], iA: Int,
        iB: Int): RDD[(Any, InternalRow)] = {
      val cA = codecA
      val cB = codecB
      probe.mapPartitions(_.map { r =>
        (if (r.isNullAt(iA) || r.isNullAt(iB)) null
         else ((cA.fromRow(r, iA), cB.fromRow(r, iB)): Any), r.copy())
      })
    }
    override private[sql] def lookupJoinRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean): RDD[(InternalRow, InternalRow)] =
      if (!keepMisses)
        idx.lookupJoinStream(keyedProbe(probe, keyIdxs(0), keyIdxs(1)))(
          (_, v, u) => (v, u))
      else
        idx.lookupJoinStreamNullable(
          keyedProbeNullable(probe, keyIdxs(0), keyIdxs(1)))(
          (_, v, u) => (v, u), u => (null.asInstanceOf[InternalRow], u))
    override private[sql] def lookupSemiRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] = {
      val cA = codecA
      val cB = codecB
      val iA = keyIdxs(0)
      val iB = keyIdxs(1)
      val keys = probe.mapPartitions(_.flatMap { r =>
        if (r.isNullAt(iA) || r.isNullAt(iB)) Iterator.empty
        else Iterator.single((cA.fromRow(r, iA), cB.fromRow(r, iB)))
      })
      idx.lookupSemiStream(keys, anti).map(_._2)
    }
    override private[sql] def lookupProbeFilter(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] =
      if (!anti)
        idx.lookupJoinStream(keyedProbe(probe, keyIdxs(0), keyIdxs(1)))((_, _, u) => u)
      else
        idx.lookupJoinStreamNullable(
          keyedProbeNullable(probe, keyIdxs(0), keyIdxs(1)))(
          (_, _, _) => null.asInstanceOf[InternalRow], u => u).filter(_ != null)

    private def localPairProbes(probeRows: Array[InternalRow],
        keyIdxs: Array[Int]): (Seq[((A, B), InternalRow)], Seq[InternalRow]) = {
      val cA = codecA
      val cB = codecB
      val iA = keyIdxs(0)
      val iB = keyIdxs(1)
      val (nulls, keyed) =
        probeRows.partition(r => r.isNullAt(iA) || r.isNullAt(iB))
      (keyed.toSeq.map(r => ((cA.fromRow(r, iA), cB.fromRow(r, iB)), r)),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))
    }
    override private[sql] def lookupJoinRowsLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[RDD[(InternalRow, InternalRow)]] = {
      val (probes, nulls) = localPairProbes(probeRows, keyIdxs)
      Some(
        if (!keepMisses) idx.lookupJoinLocal(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocal(probes, nulls)(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }
    override private[sql] def lookupProbeFilterLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        anti: Boolean): Option[RDD[InternalRow]] = {
      val (probes, nulls) = localPairProbes(probeRows, keyIdxs)
      Some(
        if (!anti) idx.lookupJoinLocal(probes)((_, _, u) => u)
        else idx.lookupJoinLocal(probes, nulls)(
          (_, _, _) => null.asInstanceOf[InternalRow],
          Some((u: InternalRow) => u)).filter(_ != null))
    }
    override private[sql] def lookupJoinRowsLocalCollect(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[Array[(InternalRow, InternalRow)]] = {
      val (probes, nulls) = localPairProbes(probeRows, keyIdxs)
      Some(
        if (!keepMisses) idx.lookupJoinLocalCollect(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocalCollect(probes, nulls)(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }

    override private[sql] def lookupSecondaryCols: Set[String] = secondaryColSet
    override private[sql] def lookupJoinRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupJoinRows(col, probe, keyIdx).get
    override private[sql] def lookupOuterRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupOuterRows(col, probe, keyIdx).get

    override private[sql] def prefixLookupCapable: Boolean =
      ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
    override private[sql] def lookupJoinRowsByPrefix(probe: RDD[InternalRow],
        keyIdx: Int): RDD[(InternalRow, InternalRow)] = {
      val cA = codecA
      val bMin = codecB.minKey
      val keyed: RDD[(((A, B), Option[(A, B)]), InternalRow)] =
        probe.mapPartitions(_.flatMap { r =>
          if (r.isNullAt(keyIdx)) Iterator.empty
          else {
            val a = cA.fromRow(r, keyIdx)
            // the entity's whole tuple run: [(a, minB), (succ a, minB))
            Iterator.single((((a, bMin), cA.succ(a).map(ua => (ua, bMin))),
              r.copy()))
          }
        })
      idx.lookupRangeJoinStream(keyed)((_, v, u) => (v, u))(
        implicitly, implicitly, tupSer)
    }


    /** The tuple encoding's byte order is lexicographic (a, b) when
      * order-preserving, so the byte-extreme tuple's first component IS
      * the leading column's natural extremum. min/max of the SECOND
      * column alone are not index-answerable and fall through to the
      * default planner. */
    override private[sql] def statsKeyCol: Option[String] =
      if (ordered && tupSer.isOrderPreserving) Some(keyColA) else None
    // memoized like the single-key handle: the index never mutates, so
    // the first stats job answers every later stats query driver-side
    @transient private lazy val statsFull: (Long, Option[Any], Option[Any]) = {
      val (c, mn, mx) = idx.keyStats()
      (c, mn.map(t => codecA.toExternalSql(t._1)),
        mx.map(t => codecA.toExternalSql(t._1)))
    }
    // reloaded handles carry the save-time exact count, so the first
    // stats/planning touch launches NO job at all
    @transient private[sql] var presetStatsCount: Option[Long] = None
    @transient private lazy val statsCount: Long =
      presetStatsCount.getOrElse(idx.count())
    override private[sql] def statsAll(
        withExtrema: Boolean): (Long, Option[Any], Option[Any]) =
      if (withExtrema) statsFull else (statsCount, None, None)
    override private[sql] def markStats(): Unit = { lastScanKind = "stats" }

    /** The bounded LEADING-column interval `fs` pins down, when every
      * conjunct is an A-range/equality (IsNotNull on either key column
      * is vacuous — no null key components are stored). Tuple-space
      * form `[(aLo, minB), (aHi, minB))` — exact because the tuple
      * order is lexicographic. Needs B's domain minimum (BigInt
      * components have none and fall through to the scan path). Any B
      * predicate needs row inspection and falls through too. */
    private def boundedLeadIntervalOf(
        fs: Seq[Filter]): Option[Option[((A, B), (A, B))]] = {
      if (!ordered || !tupSer.isOrderPreserving || fs.isEmpty) return None
      val minBOpt = Try(codecB.minKey).toOption
      if (minBOpt.isEmpty) return None
      val minB = minBOpt.get
      val ivs = fs.map {
        case IsNotNull(c) if c == keyColA || c == keyColB => Some(Iv[A](None, None))
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codecA.ord)
      if (iv.empty) Some(None)
      else (iv.from, iv.to) match {
        case (Some(lo), Some(hi)) => Some(Some(((lo, minB), (hi, minB))))
        case _ => None // unbounded side: leave it to the scan path
      }
    }

    // memoized like the single-key handle: counts/extrema on an
    // immutable snapshot never go stale (LRU-capped driver state)
    @transient private lazy val rangeCountMemo =
      new java.util.LinkedHashMap[((A, B), (A, B)), java.lang.Long](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[((A, B), (A, B)), java.lang.Long]): Boolean =
          size > 64
      }
    /** `SELECT count(*) WHERE a BETWEEN ...` on a (ts, id)-style layout:
      * pruned radix descents over the leading-interval tuple range —
      * values never read, rows never ship. The time-bounded count every
      * 100 TB events table gets asked for. */
    override private[sql] def rangeCountFor(fs: Seq[Filter]): Option[() => Long] =
      boundedLeadIntervalOf(fs).map {
        case None => () => 0L
        case Some((lo, hi)) => () =>
          rangeCountMemo.synchronized {
            Option(rangeCountMemo.get((lo, hi)))
          } match {
            case Some(c) => c.longValue()
            case None =>
              val c = idx.rangeCount(lo, hi)(tupSer)
              rangeCountMemo.synchronized {
                rangeCountMemo.put((lo, hi), java.lang.Long.valueOf(c)); ()
              }
              c
          }
      }
    @transient private lazy val rangeExtremaMemo =
      new java.util.LinkedHashMap[((A, B), (A, B)), (Option[Any], Option[Any])](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[((A, B), (A, B)), (Option[Any], Option[Any])])
            : Boolean = size > 64
      }
    /** `GROUP BY a COUNT(*)` on the LEADING key column: per-partition
      * key-run counting (values never examined) + a reduce of the tiny
      * (group, count) pairs — the "events per user/day" aggregate with
      * no data-row exchange. Optional leading-interval conjuncts
      * restrict the groups; non-leading predicates fall through.
      * Secondary-indexed columns route to posting lengths. */
    /** Bounded memo of CACHED grouped-pushdown result RDDs on this
      * IMMUTABLE snapshot: a repeated identical grouped query reuses
      * the cached O(groups) result instead of re-walking the key
      * stream — the dashboard-repeat shape, the same snapshot-memo
      * soundness argument as the probe/top-k memos (COW mutations
      * return a NEW handle, so entries never invalidate). LRU-capped
      * at 8 lanes; evicted entries unpersist. */
    @transient private lazy val groupedResultMemo =
      new java.util.LinkedHashMap[(String, Option[Any], Option[Any]), RDD[_]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Option[Any], Option[Any]), RDD[_]])
            : Boolean = {
          val evict = size() > 8
          if (evict) e.getValue.unpersist(blocking = false)
          evict
        }
      }
    /** Structural (lane, lo, hi) keys — interpolated-string signatures
      * could collide for string-keyed bounds containing the separator. */
    private def memoGrouped[T](sig: (String, Option[Any], Option[Any]))(
        compute: => RDD[T]): RDD[T] =
      groupedResultMemo.synchronized {
        groupedResultMemo.get(sig) match {
          case null =>
            // O(groups) rows spread over the full shuffle fan-out:
            // narrow-merge to a handful of partitions so every REPEAT
            // collect pays a few task launches, not one per shuffle
            // partition
            val r0 = compute
            val r = r0.coalesce(math.min(8, math.max(1, r0.getNumPartitions)))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
            groupedResultMemo.put(sig, r)
            r
          case r => r.asInstanceOf[RDD[T]]
        }
      }

    override private[sql] def groupCountsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long)]] = {
      if (col != keyColA) return secondaryGroupCountsFor(col, fs)
      val ivs = fs.map {
        case IsNotNull(c) if c == keyColA || c == keyColB => Some(Iv[A](None, None))
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codecA.ord)
      val ordA = codecA.ord
      val dt = schema(keyColA).dataType
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some(() =>
        if (isEmpty) idx.context.emptyRDD[(Any, Long)]
        else memoGrouped(("gc", lo.map(x => x: Any), hi.map(x => x: Any))) {
          val unbounded = lo.isEmpty && hi.isEmpty
          val partial = idx.partitionsRDD.mapPartitions { pit =>
            if (!pit.hasNext) Iterator.empty
            else {
              val m = new java.util.HashMap[Any, java.lang.Long]()
              pit.next().iterator.foreach { case (k, _) =>
                val a = k._1
                if (unbounded || (lo.forall(l => ordA.gteq(a, l)) &&
                    hi.forall(h => ordA.lt(a, h)))) {
                  val prev = m.get(a)
                  m.put(a, if (prev == null) 1L else prev.longValue() + 1L)
                }
              }
              import scala.jdk.CollectionConverters._
              m.entrySet().iterator().asScala
                .map(e => (e.getKey: Any, e.getValue.longValue()))
            }
          }
          partial.reduceByKey(_ + _).map { case (a, c) => (toCatalystKey(dt, a), c) }
        })
    }

    override private[sql] def colsAreFullKey(cols: Seq[String]): Boolean =
      cols.length == 2 && cols.toSet == Set(keyColA, keyColB)

    /** Ordered range-partitioned layout: partitions hold DISJOINT
      * CONTIGUOUS tuple ranges and tries stream in key order, so each
      * partition's distinct-leading-value runs are locally countable
      * and a leading value spans only ADJACENT partitions. */
    private def leadRunsServable: Boolean =
      ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(_.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])

    /** `count(DISTINCT leading)`: ONE job collects per-partition
      * (run count, first, last) — O(partitions) driver state, zero
      * rows read, zero shuffle — then subtracts the runs that continue
      * across a partition boundary (a value spanning p partitions is
      * counted p times and joined p−1 times). Memoized on the
      * immutable snapshot: repeats cost zero jobs. */
    @transient private lazy val leadDistinctMemo: Long = {
      val ordA = codecA.ord
      val bounds = idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
        if (!pit.hasNext) Iterator.empty
        else {
          val it = pit.next().iterator
          if (!it.hasNext) Iterator.empty
          else {
            var runs = 0L
            var first: A = null.asInstanceOf[A]
            var last: A = null.asInstanceOf[A]
            var any = false
            it.foreach { case (k, _) =>
              val a = k._1
              if (!any) { first = a; any = true; runs = 1L }
              else if (!ordA.equiv(last, a)) runs += 1
              last = a
            }
            Iterator.single((pid, runs, first, last))
          }
        }
      }.collect().sortBy(_._1)
      val joins = bounds.iterator.sliding(2).withPartial(false).count {
        case Seq((_, _, _, lastPrev), (_, _, firstCur, _)) =>
          ordA.equiv(lastPrev, firstCur)
        case _ => false
      }
      bounds.iterator.map(_._2).sum - joins
    }
    override private[sql] def countDistinctFor(col: String): Option[() => Long] = {
      if (col != keyColA)
        return if (col == keyColB) None else secondaryCountDistinct(col)
      if (!leadRunsServable) return None
      Some(() => leadDistinctMemo)
    }

    /** `GROUP BY f(leading) → count(*)[, min/max(leading)]` on the
      * composite layout — `date_trunc('day', ts)` rollups on the
      * (ts, id) time-series index: bucket stats off the TUPLE-KEY
      * stream (values never read), one (bucket, stats)-pair exchange.
      * Filters must all be leading-column bounds. */
    override private[sql] def exprGroupStatsFor(col: String,
        bucketFactory: () => Any => Any, fs: Seq[Filter],
        withExtrema: Boolean): Option[() => RDD[(Any, Long, Any, Any)]] = {
      if (col != keyColA) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyColA => Some(Iv[A](None, None))
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codecA.ord)
      val dtA = schema(keyColA).dataType
      Some(exprGroupStatsThunk[(A, B), A](idx, codecA.ord,
        a => toCatalystKey(dtA, a), (kk: (A, B)) => kk._1,
        bucketFactory, iv.from, iv.to, iv.empty, withExtrema))
    }

    /** `SELECT DISTINCT leading [WHERE leading-bounds]` with ZERO
      * shuffle: job 1 collects per-partition boundary values
      * (O(partitions) driver state), job 2 streams each trie's run
      * heads in key order, dropping a partition's first head when it
      * continues the previous partition's last run. The met interval
      * filters identically on both sides of a boundary (same value ⇒
      * same verdict), so the drop set stays valid under filters. */
    override private[sql] def distinctValuesFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[Any]] = {
      if (col != keyColA || !leadRunsServable) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyColA || c == keyColB => Some(Iv[A](None, None))
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codecA.ord)
      val ordA = codecA.ord
      val dtA = schema(keyColA).dataType
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      Some { () =>
        if (isEmpty) idx.context.emptyRDD[Any]
        else {
          val bounds = idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
            if (!pit.hasNext) Iterator.empty
            else {
              val it = pit.next().iterator
              if (!it.hasNext) Iterator.empty
              else {
                var first: A = null.asInstanceOf[A]
                var last: A = null.asInstanceOf[A]
                var any = false
                it.foreach { case (k, _) =>
                  if (!any) { first = k._1; any = true }
                  last = k._1
                }
                Iterator.single((pid, first, last))
              }
            }
          }.collect().sortBy(_._1)
          val drop: Set[Int] = bounds.iterator.sliding(2).withPartial(false)
            .collect {
              case Seq((_, _, lastPrev), (pid, firstCur, _))
                  if ordA.equiv(lastPrev, firstCur) => pid
            }.toSet
          val dropB = idx.context.broadcast(drop)
          idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
            if (!pit.hasNext) Iterator.empty
            else {
              var prevSet = false
              var prev: A = null.asInstanceOf[A]
              val heads = pit.next().iterator.map(_._1._1).filter { a =>
                val isNew = !prevSet || !ordA.equiv(prev, a)
                prev = a
                prevSet = true
                isNew
              }
              val kept = if (dropB.value.contains(pid)) heads.drop(1) else heads
              kept.filter(a => lo.forall(l => ordA.gteq(a, l)) &&
                  hi.forall(h => ordA.lt(a, h)))
                .map(a => toCatalystKey(dtA, a))
            }
          }
        }
      }
    }

    override private[sql] def groupStatCol(col: String): Option[String] =
      if (col == keyColA) Some(keyColB) else None

    private[sql] def groupTopNServable: Boolean = leadRunsServable

    /** Per-group top-n — `row_number() OVER (PARTITION BY a ORDER BY
      * b) <= n` for EVERY group at once, served straight off the
      * layout: the tuple order clusters each a-run contiguously and
      * already sorted by b, so job 2 streams each trie once and emits
      * the first n rows per run with their ranks — NO shuffle, NO
      * sort, NO per-group window state, at most n rows per group ever
      * materialized. Job 1 is the boundary pass: O(partitions) driver
      * state assigns each partition's FIRST run its rank offset (rows
      * of the same leading value in earlier partitions — a run spans
      * only ADJACENT partitions under range partitioning). The
      * "latest/first n events per user across all users" query, at any
      * corpus size: Catalyst's default exchanges and sorts EVERY row. */
    private[sql] def groupTopN(n: Int): RDD[(InternalRow, Int)] = {
      val ordA = codecA.ord
      val bounds = idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
        if (!pit.hasNext) Iterator.empty
        else {
          val it = pit.next().iterator
          if (!it.hasNext) Iterator.empty
          else {
            var first: A = null.asInstanceOf[A]
            var last: A = null.asInstanceOf[A]
            var cntLast = 0L
            var any = false
            it.foreach { case (k, _) =>
              val a = k._1
              if (!any) { first = a; last = a; cntLast = 1L; any = true }
              else if (ordA.equiv(a, last)) cntLast += 1
              else { last = a; cntLast = 1L }
            }
            Iterator.single((pid, first, last, cntLast))
          }
        }
      }.collect().sortBy(_._1)
      // rank offset of each partition's first run: rows of that value
      // carried in from preceding partitions
      val offsets = Map.newBuilder[Int, Long]
      var carry = 0L
      var prevLast: Option[A] = None
      bounds.foreach { case (pid, first, last, cntLast) =>
        val off = if (prevLast.exists(ordA.equiv(_, first))) carry else 0L
        if (off > 0) offsets += pid -> off
        // rows of lastA seen so far: a single-run partition extends the
        // carried prefix; otherwise lastA began inside this partition
        carry = (if (ordA.equiv(first, last)) off else 0L) + cntLast
        prevLast = Some(last)
      }
      val offB = idx.context.broadcast(offsets.result())
      val nn = n
      idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
        if (!pit.hasNext) Iterator.empty
        else {
          val off0 = offB.value.getOrElse(pid, 0L)
          var cur: A = null.asInstanceOf[A]
          var curSet = false
          var firstRun = true
          var pos = 0L
          pit.next().iterator.flatMap { case (k, row) =>
            val a = k._1
            if (!curSet || !ordA.equiv(cur, a)) {
              if (curSet) firstRun = false
              cur = a
              curSet = true
              pos = if (firstRun) off0 else 0L
            }
            pos += 1
            if (pos <= nn) Iterator.single((row, pos.toInt))
            else Iterator.empty
          }
        }
      }
    }

    /** `GROUP BY leading → count(*), min(second), max(second)` — the
      * per-entity timeline summary ("per user: event count, first and
      * last seen") answered from key tuples alone: per-partition
      * (count, minB, maxB) partials over the key stream (values NEVER
      * deserialized), then one reduceByKey of O(groups) triples — the
      * same partial-aggregate exchange shape Catalyst would emit, minus
      * every data row. Same leading-interval gating as
      * [[groupCountsFor]]. */
    override private[sql] def groupStatsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long, Any, Any)]] = {
      if (col != keyColA) return None
      val ivs = fs.map {
        case IsNotNull(c) if c == keyColA || c == keyColB => Some(Iv[A](None, None))
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f)
      }
      if (ivs.exists(_.isEmpty)) return None
      val iv = meet(ivs.map(_.get), codecA.ord)
      val ordA = codecA.ord
      val ordB = codecB.ord
      val dtA = schema(keyColA).dataType
      val dtB = schema(keyColB).dataType
      val lo = iv.from
      val hi = iv.to
      val isEmpty = iv.empty
      val streamRuns = leadRunsServable
      Some(() =>
        if (isEmpty) idx.context.emptyRDD[(Any, Long, Any, Any)]
        else memoGrouped(("gs", lo.map(x => x: Any), hi.map(x => x: Any))) {
          val unbounded = lo.isEmpty && hi.isEmpty
          val partial = idx.partitionsRDD.mapPartitions { pit =>
            if (!pit.hasNext) Iterator.empty
            else if (streamRuns) {
              // ordered layout: runs are contiguous and b-sorted, so
              // each run folds streaming — min = first b, max = last
              // b, no hashing, no per-key map state; the reduce below
              // only ever merges partition-BOUNDARY runs
              val out = scala.collection.mutable.ArrayBuffer
                .empty[(A, (Long, B, B))]
              var cur: A = null.asInstanceOf[A]
              var curSet = false
              var cnt = 0L
              var mnB: B = null.asInstanceOf[B]
              var mxB: B = null.asInstanceOf[B]
              def flush(): Unit =
                if (curSet && cnt > 0) out += ((cur, (cnt, mnB, mxB)))
              pit.next().iterator.foreach { case (k, _) =>
                val a = k._1
                if (!curSet || !ordA.equiv(cur, a)) {
                  flush()
                  cur = a
                  curSet = true
                  cnt = 0L
                }
                if (unbounded || (lo.forall(l => ordA.gteq(a, l)) &&
                    hi.forall(h => ordA.lt(a, h)))) {
                  if (cnt == 0L) mnB = k._2
                  mxB = k._2
                  cnt += 1
                }
              }
              flush()
              out.iterator
            } else {
              val m = new java.util.HashMap[A, (Long, B, B)]()
              pit.next().iterator.foreach { case (k, _) =>
                val a = k._1
                if (unbounded || (lo.forall(l => ordA.gteq(a, l)) &&
                    hi.forall(h => ordA.lt(a, h)))) {
                  val prev = m.get(a)
                  if (prev == null) m.put(a, (1L, k._2, k._2))
                  else m.put(a, (prev._1 + 1L,
                    if (ordB.lt(k._2, prev._2)) k._2 else prev._2,
                    if (ordB.gt(k._2, prev._3)) k._2 else prev._3))
                }
              }
              import scala.jdk.CollectionConverters._
              m.entrySet().iterator().asScala
                .map(e => (e.getKey, e.getValue))
            }
          }
          partial.reduceByKey { (x, y) =>
            (x._1 + y._1,
              if (ordB.lt(x._2, y._2)) x._2 else y._2,
              if (ordB.gt(x._3, y._3)) x._3 else y._3)
          }.map { case (a, (c, mnB, mxB)) =>
            (toCatalystKey(dtA, a), c, toCatalystKey(dtB, mnB),
              toCatalystKey(dtB, mxB))
          }
        })
    }

    /** min/max of the LEADING column under its own pushed interval: the
      * byte-extreme tuples' first components, from two bounded O(depth)
      * descents. */
    override private[sql] def rangeExtremaFor(
        fs: Seq[Filter]): Option[() => (Option[Any], Option[Any])] =
      boundedLeadIntervalOf(fs).map {
        case None => () => (None, None)
        case Some((lo, hi)) => () =>
          rangeExtremaMemo.synchronized {
            Option(rangeExtremaMemo.get((lo, hi)))
          } match {
            case Some(r) => r
            case None =>
              val (mn, mx) = idx.rangeExtrema(lo, hi)(tupSer)
              val r = (mn.map(t => codecA.toExternalSql(t._1)),
                mx.map(t => codecA.toExternalSql(t._1)))
              rangeExtremaMemo.synchronized {
                rangeExtremaMemo.put((lo, hi), r); ()
              }
              r
          }
      }

    /** `ORDER BY a[, b] LIMIT n`: a range-partitioned composite layout
      * is globally sorted in lexicographic (a, b) order, so a uniform-
      * direction sort on the pair — or on the leading column alone
      * (ties broken deterministically by b) — reads the covering
      * partition prefix/suffix only. */
    override private[sql] def topKCapable: Boolean =
      ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(_.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
    override private[sql] def topKCols: Seq[String] = Seq(keyColA, keyColB)
    override protected def fetchOrderedRows(n: Int, asc: Boolean): Seq[InternalRow] =
      idx.takeOrderedByKey(n, asc)(tupSer).toSeq.map(_._2)
    override protected def markTopK(): Unit = {
      lastScanKind = "topk"
      lastPointLookupKeys = -1
    }

    @transient private lazy val maxKeyMemo: Option[(A, B)] = idx.maxKey()

    /** Composite keyset pagination: `WHERE a >= cursor ORDER BY a[, b]
      * LIMIT n` (time-series export pages) and `WHERE a = X AND b >
      * cursor ORDER BY b LIMIT n` (PER-ENTITY TIMELINE pages — a
      * user's activity feed, a document's version history). Claimable
      * when the conjuncts are leading-column interval bounds, or one
      * exact leading equality plus second-column bounds; anything else
      * needs row inspection and falls through. topKCapable already
      * implies order-preserving components, so both codecs have domain
      * minima. */
    override private[sql] def topKFilterClaimable(fs: Seq[Filter]): Boolean =
      topKCapable && fs.forall {
        case IsNotNull(c) => c == keyColA || c == keyColB
        case f => boundsOn(keyColA, codecA, eqAsPrefix = true, f).isDefined
      }

    /** (pinned A value, met B interval) when `fs` is exactly one exact
      * leading-column equality plus optional second-column bounds —
      * the per-entity timeline claim. A normalizing leading codec
      * (uuid) never claims: the probe could return rows whose raw
      * string differs from the literal, and no residual filter runs
      * above this node. */
    private def pinnedLeadOf(fs: Seq[Filter]): Option[(A, Iv[B])] = {
      if (!codecA.exactLiterals) return None
      var aEq: Option[A] = None
      var ok = true
      val bIvs = scala.collection.mutable.ArrayBuffer.empty[Iv[B]]
      fs.foreach {
        case IsNotNull(c) if c == keyColA || c == keyColB => ()
        case EqualTo(c, v) if c == keyColA && v != null =>
          Try(codecA.fromLiteral(v)).toOption match {
            case Some(k) if aEq.forall(codecA.ord.equiv(_, k)) => aEq = Some(k)
            case _ => ok = false
          }
        case f => boundsOn(keyColB, codecB, eqAsPrefix = false, f) match {
          case Some(iv) => bIvs += iv
          case None => ok = false
        }
      }
      if (!ok) None else aEq.map(a => (a, meet(bIvs.toSeq, codecB.ord)))
    }

    override private[sql] def topKClaimable(sortCols: Seq[String],
        fs: Seq[Filter]): Boolean =
      topKCapable && sortCols.nonEmpty && (
        (topKCols.take(sortCols.length) == sortCols && topKFilterClaimable(fs)) ||
          ((sortCols == Seq(keyColB) ||
            topKCols.take(sortCols.length) == sortCols) &&
            pinnedLeadOf(fs).isDefined))

    /** Close an unbounded-above scan that starts at `from` at succ of
      * the max tuple (by B, else carry into A); the all-domain-max
      * tuple has no successor and merges in as an exact corner probe. */
    private def closeAtMax(from: (A, B)): (Option[(A, B)], Option[(A, B)]) =
      maxKeyMemo match {
        case None => (None, None)
        case Some(mk) if tupleOrd.lt(mk, from) => (None, None)
        case Some(mk) =>
          codecB.succ(mk._2).map(b2 => (mk._1, b2))
            .orElse(codecA.succ(mk._1).map(a2 => (a2, codecB.minKey))) match {
            case Some(end) => (Some(end), None)
            case None => (Some(mk), Some(mk))
          }
      }

    private def serveTupleRange(from: (A, B), toOpt: Option[(A, B)],
        corner: Option[(A, B)], n: Int, asc: Boolean): Seq[InternalRow] =
      toOpt match {
        case None => Nil
        case Some(to) =>
          val body =
            idx.takeOrderedByKeyInRange(from, to, n, asc)(tupSer).toSeq.map(_._2)
          corner match {
            case None => body
            case Some(ck) =>
              val cRow = idx.multiget(Array(ck)).values.toSeq
              (if (asc) body ++ cRow else cRow ++ body).take(n)
          }
      }

    override protected def fetchOrderedRowsInRange(fs: Seq[Filter], n: Int,
        asc: Boolean): Seq[InternalRow] = pinnedLeadOf(fs) match {
      case Some((a, bIv)) =>
        // per-entity page: one contiguous tuple range under the pinned A
        if (bIv.empty) return Nil
        val from = (a, bIv.from.getOrElse(codecB.minKey))
        val (toOpt, corner) = bIv.to match {
          case Some(t) => (Some((a, t)), None)
          case None => codecA.succ(a) match {
            case Some(a2) => (Some((a2, codecB.minKey)), None)
            // a IS the domain max: the global close cannot overshoot
            case None => closeAtMax(from)
          }
        }
        serveTupleRange(from, toOpt, corner, n, asc)
      case None =>
        val ivs = fs.flatMap(f => boundsOn(keyColA, codecA, eqAsPrefix = true, f))
        val iv = meet(ivs, codecA.ord)
        if (iv.empty) return Nil
        val minB = codecB.minKey
        val from = (iv.from.getOrElse(codecA.minKey), minB)
        val (toOpt, corner) = iv.to match {
          case Some(t) => (Some((t, minB)), None)
          case None => closeAtMax(from)
        }
        serveTupleRange(from, toOpt, corner, n, asc)
    }

    /** DISTRIBUTED copy-on-write upsert — the composite twin of
      * [[Handle.upsertFrame]]: only the delta shuffles to the index's
      * pair partitioning; the corpus never moves. Columns must match
      * this handle's schema by name and type. */
    def upsertFrame(updates: DataFrame): CompositeHandle[A, B] = {
      // catalogString ignores nullability metadata (containsNull et
      // al) — the InternalRow layout is identical either way, and an
      // array-literal update frame legitimately differs there
      val got = updates.schema.map(f => (f.name, f.dataType.catalogString))
      val want = schema.map(f => (f.name, f.dataType.catalogString))
      require(got == want,
        s"update schema $got must match handle schema $want")
      new CompositeHandle[A, B](
        idx.multiputRDD(compositePairs(updates, keyColA, keyColB, codecA, codecB)),
        keyColA, keyColB, schema, ordered, codecA, codecB)
    }

    /** Snapshot compaction — see [[Handle.compacted]]. */
    def compacted: CompositeHandle[A, B] =
      new CompositeHandle[A, B](idx.compacted(),
        keyColA, keyColB, schema, ordered, codecA, codecB)

    /** Post-build re-skew — see [[Handle.reskewed]]. */
    private[sql] def reskewed(maxRowsPerPartition: Long): CompositeHandle[A, B] = {
      val r = idx.reskewed(maxRowsPerPartition, ordered)
      if (r eq idx) this
      else new CompositeHandle[A, B](r, keyColA, keyColB, schema, ordered,
        codecA, codecB)
    }

    /** Schema evolution — see [[Handle.withWidenedSchema]]. */
    private[sql] def withWidenedSchema(newSchema: StructType): CompositeHandle[A, B] = {
      IndexedFrame.validateWiden(schema, newSchema)
      if (newSchema.length == schema.length) return this
      val f = new WidenRow(schema.fields.map(_.dataType), newSchema)
      new CompositeHandle[A, B](idx.mapValues(f(_)),
        keyColA, keyColB, newSchema, ordered, codecA, codecB)
    }

    /** General evolution — see [[Handle.withRemappedSchema]]; either
      * key component may be renamed, never dropped or type-changed. */
    private[sql] def withRemappedSchema(newSchema: StructType,
        positions: Array[Int]): CompositeHandle[A, B] = {
      IndexedFrame.validateRemap(schema, newSchema, positions)
      val names = Seq(keyColA, keyColB).map { k =>
        val pos = positions.indexOf(schema.fieldIndex(k))
        require(pos >= 0, s"cannot drop key column '$k'")
        require(newSchema.fields(pos).dataType == schema(k).dataType,
          s"cannot change the type of key column '$k'")
        newSchema.fields(pos).name
      }
      if (IndexedFrame.remapIsNameOnly(schema, newSchema, positions))
        new CompositeHandle[A, B](idx, names.head, names(1), newSchema,
          ordered, codecA, codecB)
      else {
        val f = new RemapRow(schema.fields.map(_.dataType), newSchema, positions)
        new CompositeHandle[A, B](idx.mapValues(f(_)),
          names.head, names(1), newSchema, ordered, codecA, codecB)
      }
    }

    /** Delta-cost sidecar transplant across one DML statement — the
      * composite twin of [[Handle.maintainSidecarsFrom]]. */
    private[sql] def maintainSidecarsFrom(oldAny: AnyRef,
        del: Option[DataFrame], up: Option[DataFrame]): Unit = {
      val old = oldAny.asInstanceOf[CompositeHandle[A, B]]
      implicit val kt: ClassTag[(A, B)] = secTag
      val (ca, cb) = (codecA, codecB)
      val delKeys = del.map(_.queryExecution.toRdd.map(r =>
        (ca.fromRow(r, 0), cb.fromRow(r, 1))))
      val upKeys = up.map(u =>
        compositePairs(u, keyColA, keyColB, ca, cb).map(_._1))
      maintainSecondariesFrom(old, delKeys, upKeys)
      widenZonesFrom(old, upKeys.map { ks =>
        idx.lookupJoinStream(ks.map((_, ())))((_, row, _) => row)
          .mapPartitionsWithIndex((pid, it) => it.map(r => (pid, r)))
      })
    }

    /** DISTRIBUTED copy-on-write delete by (a, b) key pairs: `keys`
      * must be a two-column DataFrame typed like (keyColA, keyColB), in
      * that order. Unknown pairs are ignored, matching SQL DELETE. */
    def deleteFrame(keys: DataFrame): CompositeHandle[A, B] = {
      require(keys.schema.length == 2 &&
          keys.schema(0).dataType == schema(keyColA).dataType &&
          keys.schema(1).dataType == schema(keyColB).dataType,
        s"(${schema(keyColA).dataType.catalogString}, " +
          s"${schema(keyColB).dataType.catalogString}) key columns " +
          s"required, got ${keys.schema.map(_.dataType.catalogString)}")
      val (ca, cb) = (codecA, codecB)
      val kRdd = keys.queryExecution.toRdd.map { r =>
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalArgumentException("null delete key component")
        (ca.fromRow(r, 0), cb.fromRow(r, 1))
      }
      new CompositeHandle[A, B](idx.deleteRDD(kRdd),
        keyColA, keyColB, schema, ordered, codecA, codecB)
    }

    def toDF(implicit spark: SparkSession): DataFrame =
      spark.baseRelationToDataFrame(new CompositeRelation(this)(spark.sqlContext))

    /** SQL `MERGE INTO` on the COMPOSITE key — the two-column twin of
      * the single-key [[Handle.mergeFrame]], matched on BOTH key
      * columns (`ON t.a = s.<srcA> AND t.b = s.<srcB>`). Same clause
      * presence/order rules, same Column addressing (`col("t.x")` /
      * `col("s.x")`), same delta-cost execution: one left lookup join,
      * one COW delete pass, one COW upsert pass, all computed against
      * the original snapshot with key-disjoint change sets. `WHEN NOT
      * MATCHED BY SOURCE` rides the `notBySource*` arguments exactly
      * as on [[Handle.mergeFrame]] (plain target column names, served
      * by the corpus-kept anti join — the corpus never shuffles). */
    def mergeFrame(source: DataFrame, sourceKeyA: String, sourceKeyB: String,
        deleteWhen: Option[Column] = None,
        updateWhen: Option[Column] = None,
        updateSet: Map[String, Column] = Map.empty,
        insertWhen: Option[Column] = None,
        insertValues: Map[String, Column] = Map.empty,
        insertAll: Boolean = false,
        notBySourceDeleteWhen: Option[Column] = None,
        notBySourceUpdateWhen: Option[Column] = None,
        notBySourceUpdateSet: Map[String, Column] = Map.empty)(
        implicit spark: SparkSession): CompositeHandle[A, B] = {
      val ms = mergeChangeSets(source, sourceKeyA, sourceKeyB, deleteWhen, updateWhen,
        updateSet, insertWhen, insertValues, insertAll,
        notBySourceDeleteWhen, notBySourceUpdateWhen, notBySourceUpdateSet)
      val afterDel = ms.del.map(deleteFrame).getOrElse(this)
      val result = ms.ups.map(afterDel.upsertFrame).getOrElse(afterDel)
      if (ms.persisted) {
        result.idx.cached.count() // one pass over the persisted join
        ms.release()
      }
      result
    }

    /** [[mergeFrame]]'s change sets WITHOUT application — the durable
      * catalog-table DML path writes both frames as the table's delta
      * log first, then applies from disk so replay is bit-exact. */
    private[sql] def mergeChangeSets(source: DataFrame, sourceKeyA: String, sourceKeyB: String,
        deleteWhen: Option[Column],
        updateWhen: Option[Column],
        updateSet: Map[String, Column],
        insertWhen: Option[Column],
        insertValues: Map[String, Column],
        insertAll: Boolean,
        notBySourceDeleteWhen: Option[Column],
        notBySourceUpdateWhen: Option[Column],
        notBySourceUpdateSet: Map[String, Column])(
        implicit spark: SparkSession): MergeSets = {
      import org.apache.spark.sql.functions.{col => fCol}
      require(!updateSet.contains(keyColA) && !updateSet.contains(keyColB),
        "MERGE may not update a key column")
      val joined = source.alias("s").join(toDF.alias("t"),
        fCol(s"s.$sourceKeyA") === fCol(s"t.$keyColA") &&
          fCol(s"s.$sourceKeyB") === fCol(s"t.$keyColB"), "left")
      if (auditMergePlans)
        lastMergePlan = joined.queryExecution.executedPlan.toString
      val matched = fCol(s"t.$keyColA").isNotNull
      // see the single-key mergeFrame: persist + eager snapshot when
      // multiple change sets read the joined view, so the source plan
      // executes once
      val reads = Seq(deleteWhen.isDefined, updateSet.nonEmpty,
        insertAll || insertValues.nonEmpty).count(identity)
      if (reads >= 2)
        joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a merge may carry ONLY NOT-MATCHED-BY-SOURCE clauses — the
      // matched/insert machinery then contributes nothing
      val hasMatchedSide = deleteWhen.isDefined || updateSet.nonEmpty ||
        insertAll || insertValues.nonEmpty
      require(hasMatchedSide || notBySourceDeleteWhen.isDefined ||
        notBySourceUpdateSet.nonEmpty, "MERGE needs at least one WHEN clause")
      val cs =
        if (hasMatchedSide)
          mergeClauses(joined, matched, schema, deleteWhen, updateWhen,
            updateSet, insertWhen, insertValues, insertAll)
        else MergeChangeSets(org.apache.spark.sql.functions.lit(false),
          hasDelete = false, None)
      val nbsBoth =
        notBySourceDeleteWhen.isDefined && notBySourceUpdateSet.nonEmpty
      // both NBS clause kinds read the anti join (delete keys and
      // update rows are separate consumers) — persist it so the
      // corpus-kept anti pass executes ONCE, mirroring the
      // matched-side joined cache
      val unmatched =
        if (notBySourceDeleteWhen.isDefined || notBySourceUpdateSet.nonEmpty)
          Some {
            val u =
            toDF.alias("t").join(
              source.select(fCol(sourceKeyA), fCol(sourceKeyB)).alias("s"),
              fCol(s"t.$keyColA") === fCol(s"s.$sourceKeyA") &&
                fCol(s"t.$keyColB") === fCol(s"s.$sourceKeyB"), "left_anti")
            if (nbsBoth)
              u.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else u
          }
        else None
      val nbs = unmatched.map(u => nbsClauses(
          u, Seq(keyColA, keyColB), schema, notBySourceDeleteWhen,
          notBySourceUpdateWhen, notBySourceUpdateSet))
        .getOrElse(NbsChangeSets(None, None))
      val matchedDel =
        if (cs.hasDelete) Some(joined.filter(cs.delC)
          .select(fCol(s"t.$keyColA").as(keyColA),
            fCol(s"t.$keyColB").as(keyColB)))
        else None
      val allDel = (matchedDel ++ nbs.delKeys).reduceOption(_ unionByName _)
      val allUps = (cs.upserts ++ nbs.updRows).reduceOption(_ unionByName _)
      MergeSets(allDel, allUps, reads >= 2 || nbsBoth,
        () => {
          if (reads >= 2) joined.unpersist(blocking = false)
          if (nbsBoth) unmatched.foreach(_.unpersist(blocking = false))
          ()
        })
    }

    /** Per-key point-in-time read — the versioned-dimension ("SCD")
      * lookup on an `(id, ts)` layout: the row for leading key `a`
      * whose second key is the LARGEST value ≤ `t`, or empty if `a`
      * has no version at-or-before `t`. ONE bounded
      * [[graft.IndexedRDD.floorEntry]] pass over the tuple byte space
      * (the floor of `(a, succ t)` is either `a`'s latest version ≤ t
      * or some earlier leading key — one driver-side check tells them
      * apart) returns the row with its key, so no second probe job
      * runs. Requires an ordered handle. */
    def asOf(a: Any, t: Any)(implicit spark: SparkSession): DataFrame = {
      require(ordered && tupSer.isOrderPreserving,
        "asOf needs an ordered composite handle with order-preserving keys")
      val ka = codecA.fromLiteral(a)
      val kb = codecB.fromLiteral(t)
      // strict upper bound in tuple order: (a, succ t); when t is the
      // b-domain max, everything of leading key a qualifies — bound at
      // (succ a, minB) instead, falling back to the global max entry
      val floor: Option[((A, B), InternalRow)] = codecB.succ(kb) match {
        case Some(ub) => idx.floorEntry((ka, ub))(tupSer)
        case None => codecA.succ(ka) match {
          case Some(ua) => idx.floorEntry((ua, codecB.minKey))(tupSer)
          case None => idx.maxEntry()(tupSer)
        }
      }
      val hit = floor.filter { case ((fa, _), _) => codecA.ord.equiv(fa, ka) }
      lastScanKind = "asof"
      rowDF(hit.map(_._2), schema)
    }

    /** BATCH point-in-time join — the feature-store primitive: for
      * every probe row (entity, t), the LATEST version row of that
      * entity with time <= t, emitted as probe columns ++ version
      * columns. Inner semantics by default (probes with no version, or
      * with a null entity/time, emit nothing — SQL's as-of condition
      * is never true on null); `keepMisses` gives LEFT-OUTER semantics
      * instead: every probe row kept, version columns null-extended. Each probe row routes to the partitions
      * overlapping its entity's `[(a, minB), (a, succ t))` tuple
      * interval — ONE partition unless the entity's versions straddle
      * a boundary — and runs one O(depth) bounded floor descent; a
      * tiny per-probe reduce picks the boundary-spanning winner. The
      * versions corpus never moves and is never scanned: cost scales
      * with the probe batch. Catalyst's equivalent is a join on entity
      * (corpus shuffle!) plus a per-entity window max. Probe column
      * dtypes must match the key columns'; output column names must
      * not collide (rename probe columns first). */
    def asOfJoinFrame(probe: DataFrame, entityCol: String, timeCol: String,
        keepMisses: Boolean = false)(
        implicit spark: SparkSession): DataFrame = {
      require(ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]]),
        "asOfJoinFrame needs a range-partitioned ordered composite handle")
      require(probe.schema(entityCol).dataType == schema(keyColA).dataType &&
        probe.schema(timeCol).dataType == schema(keyColB).dataType,
        s"probe ($entityCol, $timeCol) must match the key dtypes " +
          s"(${schema(keyColA).dataType.catalogString}, " +
          s"${schema(keyColB).dataType.catalogString})")
      require(probe.schema.fieldNames.toSet
        .intersect(schema.fieldNames.toSet).isEmpty,
        "probe and version column names must not collide")
      val ia = probe.schema.fieldIndex(entityCol)
      val ib = probe.schema.fieldIndex(timeCol)
      val cA = codecA
      val cB = codecB
      val keyed: RDD[(((A, B), Option[(A, B)]), InternalRow)] =
        probe.queryExecution.toRdd.mapPartitions(_.flatMap { r =>
          if (r.isNullAt(ia) || r.isNullAt(ib)) {
            // LEFT-OUTER keeps null-keyed probes as guaranteed misses:
            // an EMPTY interval routes once and floors to None
            if (keepMisses)
              Iterator.single((((cA.minKey, cB.minKey),
                Some((cA.minKey, cB.minKey)): Option[(A, B)]), r.copy()))
            else Iterator.empty
          } else {
            val a = cA.fromRow(r, ia)
            val t = cB.fromRow(r, ib)
            val lo = (a, cB.minKey)
            // strict tuple upper bound (a, succ t); t at the b-domain
            // max bounds at (succ a, minB); a also at the max =>
            // unbounded above
            val ub: Option[(A, B)] = cB.succ(t) match {
              case Some(s2) => Some((a, s2))
              case None => cA.succ(a).map(ua => (ua, cB.minKey))
            }
            Iterator.single(((lo, ub), r.copy()))
          }
        })
      val outSchema = org.apache.spark.sql.types.StructType(
        probe.schema.fields ++ schema.fields.map(_.copy(nullable = true)))
      val types = outSchema.fields.map(_.dataType)
      val nVersion = schema.length
      val rows = idx.lookupFloorStream(keyed)(implicitly, tupSer)
        .mapPartitions { it =>
          val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
          val nullVersion: InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(nVersion)
          val proj = UnsafeProjection.create(types)
          it.flatMap {
            case (Some((_, v)), u) =>
              Iterator.single(proj(joined(u, v)): InternalRow)
            case (None, u) =>
              if (keepMisses)
                Iterator.single(proj(joined(u, nullVersion)): InternalRow)
              else Iterator.empty
          }
        }
      org.apache.spark.sql.graftbridge.ExpressionBridge
        .internalDF(spark, rows, outSchema)
    }
  }

  /** Keyed internal-row pairs for a composite build. */
  private def compositePairs[A, B](df: DataFrame, keyColA: String, keyColB: String,
      ca: KeyCodec[A], cb: KeyCodec[B]): RDD[((A, B), InternalRow)] = {
    val (ia, ib) = (df.schema.fieldIndex(keyColA), df.schema.fieldIndex(keyColB))
    df.queryExecution.toRdd.mapPartitions(_.map { r =>
      if (r.isNullAt(ia) || r.isNullAt(ib))
        throw new IllegalArgumentException(
          s"null key in composite ($keyColA, $keyColB)")
      ((ca.fromRow(r, ia), cb.fromRow(r, ib)), r.copy(): InternalRow)
    })
  }

  /** Shared composite build: hash-partitioned (optionally at a forced
    * count for co-partitioned zip joins), ordered, or — with
    * `rangeParts > 0` — globally range-partitioned in lexicographic
    * (a, b) order. */
  private def buildComposite[A, B](df: DataFrame, keyColA: String, keyColB: String,
      sa: KeySpec[A], sb: KeySpec[B], ordered: Boolean, numPartitions: Int,
      rangeParts: Int): CompositeHandle[A, B] = {
    implicit val cta: ClassTag[A] = sa.tag
    implicit val ctb: ClassTag[B] = sb.tag
    implicit val serA: KeySerializer[A] = sa.ser
    implicit val serB: KeySerializer[B] = sb.ser
    implicit val tupSer: KeySerializer[(A, B)] =
      new KeySerializer.ConcatTuple2Serializer[A, B](serA, serB)
    val raw = compositePairs(df, keyColA, keyColB, sa.codec, sb.codec)
    val idx =
      if (rangeParts > 0) {
        implicit val ord: Ordering[(A, B)] = Ordering.Tuple2(sa.codec.ord, sb.codec.ord)
        IndexedRDD.rangePartitioned(raw, rangeParts)
      } else {
        val p =
          if (numPartitions > 0)
            raw.partitionBy(new org.apache.spark.HashPartitioner(numPartitions))
          else raw
        if (ordered) IndexedRDD.ordered(p) else IndexedRDD(p)
      }
    new CompositeHandle[A, B](idx.cached, keyColA, keyColB, df.schema,
      ordered || rangeParts > 0, sa.codec, sb.codec)
  }

  private def integralSpec(df: DataFrame, c: String, caller: String): KeySpec[Long] =
    df.schema(c).dataType match {
      case dt @ (LongType | IntegerType | ShortType | ByteType |
                 TimestampType | TimestampNTZType | DateType) =>
        KeySpec[Long](new LongCodec(dt), KeySerializer.LongSerializer,
          implicitly[ClassTag[Long]])
      case other => throw new IllegalArgumentException(
        s"$caller requires integral or temporal columns, got ${other.catalogString} for $c; " +
          "use indexCompositeAny for string/uuid components")
    }

  /** Index a DataFrame by TWO integral key columns (composite key,
    * uniqueness enforced over the pair, last write wins). `ordered=true`
    * builds radix partitions so leading-column ranges push down. */
  def indexComposite(df: DataFrame, keyColA: String, keyColB: String,
      ordered: Boolean = false, numPartitions: Int = 0): CompositeHandle[Long, Long] =
    buildComposite(df, keyColA, keyColB,
      integralSpec(df, keyColA, "indexComposite"),
      integralSpec(df, keyColB, "indexComposite"), ordered, numPartitions, 0)

  /** Composite handle over ANY supported key-column pair — integral,
    * string (lex-keyed), uuid-string (name the column in `uuidCols`),
    * decimal(p,0)/BigInt. The reference's generic `Tuple2Serializer`
    * contract (ref KeySerializer.scala:145-176, any two serializable
    * key types) at the SQL surface: (string, long), (uuid, long),
    * (string, string), ... all index, push down point/lead/mixed
    * lanes (where the component orders allow), and zip-join. */
  def indexCompositeAny(df: DataFrame, keyColA: String, keyColB: String,
      ordered: Boolean = false, numPartitions: Int = 0,
      uuidCols: Set[String] = Set.empty): CompositeHandle[_, _] =
    (specFor(df.schema, keyColA, uuidCols(keyColA)),
      specFor(df.schema, keyColB, uuidCols(keyColB))) match {
      case (sa: KeySpec[a], sb: KeySpec[b]) =>
        buildComposite[a, b](df, keyColA, keyColB, sa, sb, ordered, numPartitions, 0)
    }

  /** RANGE-PARTITIONED composite handle: (a, b) pairs globally sorted
    * in lexicographic order across `numPartitions` partitions with a
    * radix tree inside each. The concatenated tuple serializer is
    * order-preserving, so pushed leading-column intervals AND the
    * a-point × b-range mixed lane prune PARTITIONS
    * (IndexedRDD.range/multiRange under a RangePartitioner) before
    * descending the per-partition tries — O(range) tasks at 100 TB,
    * the composite twin of [[indexRangePartitioned]]. */
  def indexCompositeRangePartitioned(df: DataFrame, keyColA: String,
      keyColB: String, numPartitions: Int): CompositeHandle[Long, Long] =
    buildComposite(df, keyColA, keyColB,
      integralSpec(df, keyColA, "indexCompositeRangePartitioned"),
      integralSpec(df, keyColB, "indexCompositeRangePartitioned"),
      ordered = true, 0, numPartitions)

  /** [[indexCompositeAny]] × [[indexCompositeRangePartitioned]]: a
    * range-partitioned composite over any supported key pair. */
  def indexCompositeAnyRangePartitioned(df: DataFrame, keyColA: String,
      keyColB: String, numPartitions: Int,
      uuidCols: Set[String] = Set.empty): CompositeHandle[_, _] =
    (specFor(df.schema, keyColA, uuidCols(keyColA)),
      specFor(df.schema, keyColB, uuidCols(keyColB))) match {
      case (sa: KeySpec[a], sb: KeySpec[b]) =>
        buildComposite[a, b](df, keyColA, keyColB, sa, sb,
          ordered = true, 0, numPartitions)
    }

  /** MERGE clause machinery shared by the single-key and composite
    * [[Handle.mergeFrame]]/[[CompositeHandle.mergeFrame]]: clause
    * presence, conditions, and change-set rows. SQL THREE-VALUED
    * semantics for clause conditions — a clause whose condition is
    * not TRUE is SKIPPED and the row falls through to the next clause
    * (a NULL delete condition must not swallow the row from the
    * update clause; `coalesce(cond, false)` pins that down). */
  private[sql] final case class MergeChangeSets(delC: Column,
      hasDelete: Boolean, upserts: Option[DataFrame])
  private[sql] def mergeClauses(joined: DataFrame, matched: Column,
      schema: StructType, deleteWhen: Option[Column],
      updateWhen: Option[Column], updateSet: Map[String, Column],
      insertWhen: Option[Column], insertValues: Map[String, Column],
      insertAll: Boolean): MergeChangeSets = {
    import org.apache.spark.sql.functions.{coalesce, col => fCol, lit => fLit}
    val hasDelete = deleteWhen.isDefined
    val hasUpdate = updateSet.nonEmpty
    val hasInsert = insertAll || insertValues.nonEmpty
    require(hasDelete || hasUpdate || hasInsert,
      "MERGE needs at least one WHEN clause")
    require(updateSet.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown update columns ${updateSet.keySet -- schema.fieldNames}")
    require(insertValues.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown insert columns ${insertValues.keySet -- schema.fieldNames}")
    def isTrue(c: Column): Column = coalesce(c, fLit(false))
    val delC =
      if (hasDelete) matched && isTrue(deleteWhen.get) else fLit(false)
    val updC =
      if (hasUpdate)
        matched && !delC && isTrue(updateWhen.getOrElse(fLit(true)))
      else fLit(false)
    val insC =
      if (hasInsert) !matched && isTrue(insertWhen.getOrElse(fLit(true)))
      else fLit(false)
    val updRows = joined.filter(updC).select(schema.fieldNames.toSeq.map { f =>
      updateSet.getOrElse(f, fCol(s"t.$f")).as(f) }: _*)
    val insRows = joined.filter(insC).select(schema.fieldNames.toSeq.map { f =>
      (if (insertAll) fCol(s"s.$f")
       else insertValues.getOrElse(f, fLit(null).cast(schema(f).dataType)))
        .as(f) }: _*)
    val upserts = (hasUpdate, hasInsert) match {
      case (false, false) => None
      case (true, false) => Some(updRows)
      case (false, true) => Some(insRows)
      case (true, true) => Some(updRows.unionByName(insRows))
    }
    MergeChangeSets(delC, hasDelete, upserts)
  }

  /** `WHEN NOT MATCHED BY SOURCE` change sets, shared by the three
    * `mergeFrame`s: clauses over the target rows whose key appears in
    * NO source row (`unmatched` — the corpus-kept anti join of the
    * handle against the source keys, which never shuffles the corpus).
    * Conditions and update expressions are Columns over PLAIN target
    * column names (SQL forbids source references here). Same
    * three-valued condition handling and delete-before-update clause
    * order as the matched clauses; the SQL rewrite pins textual order
    * into the conditions before calling in. Key-disjoint from every
    * matched/insert change set by construction — unmatched keys are in
    * the target and not in the source. */
  /** A MERGE reduced to its two physical passes: the delete-key frame
    * and the upsert-row frame, both lazy and computed against the
    * pre-merge snapshot. `persisted` says the joined view was cached
    * (multi-clause merges) — the consumer must materialize every
    * change set ONCE (apply + count, or write to disk) and then call
    * `release`. Shared by `mergeFrame` (in-memory application) and the
    * durable catalog-table DML path (which writes both frames as the
    * table's delta log BEFORE applying, so a reopened session replays
    * to the identical state). */
  private[sql] final case class MergeSets(del: Option[DataFrame],
      ups: Option[DataFrame], persisted: Boolean, release: () => Unit)

  private[sql] final case class NbsChangeSets(delKeys: Option[DataFrame],
      updRows: Option[DataFrame])
  private[sql] def nbsClauses(unmatched: DataFrame, keyCols: Seq[String],
      schema: StructType, deleteWhen: Option[Column],
      updateWhen: Option[Column], updateSet: Map[String, Column])
      : NbsChangeSets = {
    import org.apache.spark.sql.functions.{coalesce, col => fCol, lit => fLit}
    require(keyCols.forall(k => !updateSet.contains(k)),
      "MERGE may not update a key column")
    require(updateSet.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown update columns ${updateSet.keySet -- schema.fieldNames}")
    def isTrue(c: Column): Column = coalesce(c, fLit(false))
    val hasDel = deleteWhen.isDefined
    val hasUpd = updateSet.nonEmpty
    val delC = if (hasDel) isTrue(deleteWhen.get) else fLit(false)
    val updC =
      if (hasUpd) !delC && isTrue(updateWhen.getOrElse(fLit(true)))
      else fLit(false)
    val delKeys =
      if (hasDel) Some(unmatched.filter(delC).select(keyCols.map(fCol): _*))
      else None
    val updRows =
      if (hasUpd) Some(unmatched.filter(updC).select(
        schema.fieldNames.toSeq.map(f =>
          updateSet.getOrElse(f, fCol(f)).as(f)): _*))
      else None
    NbsChangeSets(delKeys, updRows)
  }

  /** Estimated bytes of a handle-backed relation for Catalyst's
    * `sizeInBytes` stat: exact row count × the schema's default row
    * width (Spark's own per-type estimates), floored at 1 and
    * SATURATING on multiply — a 100 TB handle must report "huge",
    * never wrap negative and read as broadcastable. */
  private[sql] def relationSize(rowCount: Long, schema: StructType): Long =
    try math.max(1L, Math.multiplyExact(rowCount,
      schema.map(_.dataType.defaultSize).sum.toLong + 8L))
    catch { case _: ArithmeticException => Long.MaxValue }

  /** Rows already on the driver as a one-slice RDD, for consumers that
    * need an RDD: a parent operator of [[IndexedPoint.IndexedPointExec]]
    * (joins, unions), or a point select planned by `buildScan` in a
    * session without the point strategy. A root-level collect of a
    * driver lane never comes here and runs no job over the rows. */
  private[sql] def localRows(sc: org.apache.spark.SparkContext,
      rows: Seq[InternalRow]): RDD[InternalRow] = sc.parallelize(rows, 1)

  /** A range lane's trie scan plus the rows of its exact corner probes
    * (each corner is an interval's own inclusive endpoint, so corner
    * rows never duplicate scanned rows). */
  private[sql] def withCorners(body: RDD[InternalRow],
      corners: Iterable[InternalRow]): RDD[InternalRow] =
    if (corners.isEmpty) body
    else body.union(localRows(body.sparkContext, corners.toSeq))

  /**
   * The scan contract of the three handle relations. A pushed filter
   * set routes to one lane; the DRIVER lanes — primary point/IN probes,
   * secondary point and range probes, and probe-memo hits of either —
   * end with their whole result on the driver, so
   * [[IndexedPoint.IndexedPointStrategy]] serves them without a job
   * over the rows, and a memo hit with no job at all. `buildScan`
   * (the plain DataSource path) serves every lane as an RDD.
   */
  private[sql] trait DriverLanes extends BaseRelation with PrunedFilteredScan {

    /** Job-free, at planning time: do `filters` route to a driver lane?
      * Records the lane in the handle's routing fields when they do. */
    private[sql] def markDriverLane(filters: Array[Filter]): Boolean

    /** Runs the driver lane `filters` route to: full-schema rows, a
      * superset of the matches whenever a filter is not claimed in
      * `unhandledFilters`. None when `filters` pick a scan lane or a
      * secondary probe is over its budget: [[scanRows]] serves then. */
    private[sql] def driverRows(filters: Array[Filter]): Option[Array[InternalRow]]

    /** The scan lanes (ranges, zone maps, projections, full scans), for
      * filter sets [[driverRows]] does not serve. */
    private[sql] def scanRows(filters: Array[Filter]): RDD[InternalRow]

    override def buildScan(requiredColumns: Array[String],
        filters: Array[Filter]): RDD[Row] = {
      val rows = driverRows(filters) match {
        case Some(hit) => localRows(sqlContext.sparkContext, hit.toIndexedSeq)
        case None => scanRows(filters)
      }
      // prune columns with one reused per-partition projection; rows
      // are consumed streaming by the scan node (which re-projects), so
      // no per-row copy is needed
      val fields = requiredColumns.map(schema.fieldIndex).map(i =>
        BoundReference(i, schema.fields(i).dataType, schema.fields(i).nullable))
      rows.mapPartitions { it =>
        val proj = UnsafeProjection.create(fields.toIndexedSeq)
        it.map(r => proj(r))
      }.asInstanceOf[RDD[Row]]
    }
  }

  /** Driver-side probe budgets for the composite relation: above
    * [[PointKeyBudget]] cross-product keys the point lane bails (two
    * 10k-element IN lists would otherwise ship 10^8 probe keys to the
    * executors); above [[MixedLeadCap]] distinct leading values the
    * mixed a-point × b-range lane bails. Bailing is always sound —
    * the filters stay "unhandled" and Spark re-applies them above the
    * wider lane that serves instead. */
  private[sql] val PointKeyBudget = 10000L
  private[sql] val MixedLeadCap = 64

  private[sql] class CompositeRelation[A, B](
      private[sql] val h: CompositeHandle[A, B])(
      @transient override val sqlContext: SQLContext)
      extends BaseRelation with DriverLanes {

    override def schema: StructType = h.schema
    override def needConversion: Boolean = false

    /** See [[IndexedRelation.sizeInBytes]]: exact memoized count ×
      * default row width, so small handles broadcast unhinted. */
    override def sizeInBytes: Long = IndexedFrame.relationSize(
      h.statsAll(withExtrema = false)._1, schema)

    import h.{codecA, codecB, tupSer, tupleOrd}

    /** Point key set pushed on ONE of the two key columns. */
    private def pointKeysOn[T](col: String, codec: KeyCodec[T],
        f: Filter): Option[Set[T]] = f match {
      case EqualTo(`col`, null) => Some(Set.empty)
      case EqualTo(`col`, v) => Some(Try(codec.fromLiteral(v)).toOption.toSet)
      case In(`col`, vs) =>
        Some(vs.iterator.filter(_ != null)
          .flatMap(v => Try(codec.fromLiteral(v)).toOption).toSet)
      case _ => None
    }

    /** The access path for one pushed filter set. `unhandledFilters`
      * and `buildScan` both route through this, so the filters the
      * relation CLAIMS are exactly the ones the chosen lane ENFORCES. */
    private sealed trait Lane
    private case class PointLane(as: Set[A], bs: Set[B]) extends Lane
    /** a ∈ as (≤ [[MixedLeadCap]]) × one b-interval: one disjoint trie
      * interval per leading value, served in one multiRange pass. */
    private case class MixedLane(as: Seq[A], bIv: Iv[B]) extends Lane
    private case class LeadLane(iv: Iv[A]) extends Lane
    private case object FullLane extends Lane

    /** Trie ranges need the TUPLE byte order to be the lexicographic
      * (a, b) order — true for every ordered build of order-preserving
      * components, checked rather than assumed. */
    private def rangeReady: Boolean = h.ordered && tupSer.isOrderPreserving

    private def aBounds(f: Filter): Option[Iv[A]] =
      boundsOn(h.keyColA, codecA, eqAsPrefix = true, f)
    private def bBounds(f: Filter): Option[Iv[B]] =
      boundsOn(h.keyColB, codecB, eqAsPrefix = false, f)

    private def chooseLane(filters: Array[Filter]): Lane = {
      val aSets = filters.flatMap(pointKeysOn(h.keyColA, codecA, _))
      val bSets = filters.flatMap(pointKeysOn(h.keyColB, codecB, _))
      val bIvs = if (rangeReady) filters.flatMap(bBounds) else Array.empty[Iv[B]]
      val leadIvs = if (rangeReady) filters.flatMap(aBounds) else Array.empty[Iv[A]]
      lazy val as = aSets.reduce(_ intersect _)
      if (aSets.nonEmpty && bSets.nonEmpty) {
        val bs = bSets.reduce(_ intersect _)
        if (as.size.toLong * bs.size <= PointKeyBudget) return PointLane(as, bs)
      }
      if (aSets.nonEmpty && bIvs.nonEmpty && as.size <= MixedLeadCap)
        return MixedLane(as.toSeq.sorted(codecA.ord), meet(bIvs.toSeq, codecB.ord))
      if (leadIvs.nonEmpty) LeadLane(meet(leadIvs.toSeq, codecA.ord))
      else FullLane
    }

    override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
      chooseLane(filters) match {
        case _: PointLane =>
          // multiget enforces every pushed point filter exactly (AND
          // semantics via set intersection + cross product) — but only
          // codecs with exact literal semantics may CLAIM them (a
          // normalizing codec's probe can return a row whose raw string
          // differs from the literal); ranges pushed alongside are
          // re-applied by Spark above the probe either way
          filters.filter(f =>
            !(codecA.exactLiterals && pointKeysOn(h.keyColA, codecA, f).isDefined) &&
              !(codecB.exactLiterals && pointKeysOn(h.keyColB, codecB, f).isDefined))
        case _: MixedLane =>
          // a-point sets (intersected, exact-literal codecs only) and
          // b-intervals (intersected; rangeLiteral already gated
          // faithfulness) are enforced exactly by the per-leading-value
          // trie scans
          filters.filter(f =>
            !(codecA.exactLiterals && pointKeysOn(h.keyColA, codecA, f).isDefined) &&
              bBounds(f).isEmpty)
        case _: LeadLane =>
          // leading-column intervals (equality included) are enforced
          // exactly by the trie range scan; everything else re-applies
          filters.filter(f => aBounds(f).isEmpty)
        case FullLane => filters
      }

    /** Tuple intervals + exact corner probes closing an unbounded-above
      * scan that starts at `from`: scan to succ(maxKey) when defined,
      * else to maxKey with maxKey probed exactly (only the
      * all-domain-max tuple lacks a successor). One O(depth) maxKey
      * descent, only on unbounded-above scans. */
    private def closeAbove(from: (A, B)): (Seq[((A, B), (A, B))], Seq[(A, B)]) =
      h.idx.maxKey() match {
        case None => (Nil, Nil) // empty index
        case Some(mk) if tupleOrd.lt(mk, from) => (Nil, Nil)
        case Some(mk) =>
          codecB.succ(mk._2).map(b2 => (mk._1, b2))
            .orElse(codecA.succ(mk._1).map(a2 => (a2, codecB.minKey))) match {
            case Some(end) => (Seq((from, end)), Nil)
            case None => (Seq((from, mk)), Seq(mk))
          }
      }

    /** One multiRange pass over the live intervals + one multiget for
      * corner keys. */
    private def serve(ivs: Seq[((A, B), (A, B))],
        corners: Seq[(A, B)]): RDD[InternalRow] = {
      val live = ivs.filter { case (f, t) => tupleOrd.lt(f, t) }
      val body: RDD[InternalRow] =
        if (live.isEmpty) sqlContext.sparkContext.emptyRDD[InternalRow]
        else h.idx.multiRange(live).map(_._2)
      withCorners(body, h.idx.multiget(corners.toArray).values)
    }

    override private[sql] def markDriverLane(filters: Array[Filter]): Boolean =
      chooseLane(filters) match {
        case PointLane(as, bs) => h.markLane("point", as.size * bs.size); true
        // no KEY lane applies: secondary-indexed VALUE columns route
        // equality/IN (and ranges on ordered secondaries) through point
        // probes, exactly like the single-key relation
        case FullLane => h.markSecondaryLane(filters)
        case _ => false
      }

    override private[sql] def driverRows(
        filters: Array[Filter]): Option[Array[InternalRow]] = {
      h.lastProbeMemoHit = false
      chooseLane(filters) match {
        case PointLane(as, bs) =>
          val keys = (for (a <- as; b <- bs) yield (a, b)).toArray
          h.markLane("point", keys.length)
          Some(h.idx.multiget(keys).values.toArray)
        case FullLane => h.secondaryRows(filters)
        case _ => None
      }
    }

    override private[sql] def scanRows(filters: Array[Filter]): RDD[InternalRow] =
      chooseLane(filters) match {
        case _: PointLane =>
          throw new IllegalStateException("point lanes are served by driverRows")
        case MixedLane(as, bIv) =>
          h.markLane("range", -1)
          if (bIv.empty || as.isEmpty) {
            sqlContext.sparkContext.emptyRDD[InternalRow]
          } else {
            val bFrom = bIv.from.getOrElse(codecB.minKey)
            // one disjoint tuple interval per leading value — a single
            // multiRange pass, each interval one O(depth) trie descent
            val parts = as.map { a =>
              bIv.to match {
                case Some(bt) => (Seq(((a, bFrom), (a, bt))), Nil)
                case None => codecA.succ(a) match {
                  // unbounded-above b: close at the next leading value
                  case Some(a2) => (Seq(((a, bFrom), (a2, codecB.minKey))), Nil)
                  case None => closeAbove((a, bFrom)) // a == domain max
                }
              }
            }
            serve(parts.flatMap(_._1), parts.flatMap(_._2))
          }
        case LeadLane(iv) =>
          h.markLane("range", -1)
          if (iv.empty) {
            sqlContext.sparkContext.emptyRDD[InternalRow]
          } else {
            // tuple range [(from, minB), (to, minB)) covers every
            // second-column value for leading keys in [from, to)
            val from = (iv.from.getOrElse(codecA.minKey), codecB.minKey)
            val (ivs, corners) = iv.to match {
              case Some(at) => (Seq((from, (at, codecB.minKey))), Nil)
              case None => closeAbove(from)
            }
            serve(ivs, corners)
          }
        case FullLane =>
          h.lastPointLookupKeys = -1
          // the z-order sort projection serves boxed full lanes on ANY
          // key arity; zone maps prune the composite full lane exactly
          // like the single-key one (Spark re-applies the filters above
          // either way)
          IndexedFrame.zProjServe(sqlContext, h.zProjection,
              h.schema, h.joinKeyCols, filters) match {
            case Some((kept, rdd)) =>
              h.lastScanKind = "full_zproj"
              h.setZoneKept(kept)
              rdd
            case None => h.zoneKeeps(filters) match {
              case Some(keep) =>
                h.lastScanKind = "full_zone"
                h.setZoneKept(keep.count(identity))
                org.apache.spark.rdd.PartitionPruningRDD.create(
                  h.idx.map(_._2), keep(_))
              case None =>
                h.lastScanKind = "full"
                h.idx.map(_._2)
            }
          }
      }
  }

  // =====================================================================
  // N-ary composite keys (arity >= 3): `(tenant, entity, ts)` and wider
  // =====================================================================

  /** Handle over an N-COLUMN composite key: rows are key-unique over
    * the column tuple, stored under the prefix-free
    * [[graft.keys.KeySerializer.ConcatNSerializer]] encoding — which
    * is order-preserving in lexicographic column order whenever every
    * component serializer preserves its own (the 2-ary proof applied
    * left to right) — so point gets and leading-PREFIX interval scans
    * route exactly like the two-column handle's lanes at ANY arity:
    *
    *  - conjunctive equality/IN on EVERY key column → partition-pruned
    *    `multiget` over the (budget-capped) cross product;
    *  - equality on the first m columns + optional range on column
    *    m+1 (ordered handles) → one contiguous tuple-space interval
    *    per pinned prefix, served in a single multiRange pass —
    *    partition-pruned under range partitioning;
    *  - anything else → indexed full scan.
    *
    * The relation claims NOTHING in `unhandledFilters`: Spark
    * re-applies every predicate above the routed read, so each lane is
    * sound by construction (the per-lane exactness claims the 2-column
    * handle makes are a pure optimization, addable per-lane later). */
  /** Build a [[graft.IndexedRDD.RankZPartitioner]] from a bounded key
    * sample: per-dimension equal-depth bucket edges (256 buckets/dim)
    * plus sampled z bounds — O(parts + dims) driver bytes regardless
    * of corpus size, the same cost class as [[CompositeHandle.zOrdered]]'s
    * sampling. `comp(key, i)` extracts key component `i`; `perm(d)` is
    * the component z-dimension `d` reads (ZORDER BY column order). */
  private[sql] def rankZFor(sample: Array[_ <: Any], comp: (Any, Int) => Any,
      ords: Array[Ordering[Any]], perm: Array[Int],
      parts: Int): graft.IndexedRDD.RankZPartitioner = {
    val nb = 256
    val edges: Array[Array[Any]] = perm.indices.map { d =>
      val vals = sample.map(k => comp(k, perm(d))).sortWith(ords(d).lt)
      if (vals.isEmpty) Array.empty[Any]
      else {
        val step = vals.length.toDouble / nb
        (1 until nb).map(i => vals(math.min(vals.length - 1, (i * step).toInt)))
          .distinct.toArray[Any]
      }
    }.toArray
    val probe = new graft.IndexedRDD.RankZPartitioner(edges, ords, perm,
      Array.empty[Long])
    val zs = sample.map(k => probe.zOf(k)).sorted
    val bounds =
      if (zs.isEmpty) Array.empty[Long]
      else {
        val step = zs.length.toDouble / parts
        (1 until parts).map(i => zs(math.min(zs.length - 1, (i * step).toInt)))
          .distinct.toArray
      }
    new graft.IndexedRDD.RankZPartitioner(edges, ords, perm, bounds)
  }

  class CompositeNHandle private[sql] (
      val idx: IndexedRDD[Seq[Any], InternalRow],
      val keyCols: Seq[String], val schema: StructType, val ordered: Boolean,
      private[sql] val specs: IndexedSeq[KeySpec[Any]])(
      implicit private[sql] val tupSer: KeySerializer[Seq[Any]])
      extends Serializable with TopKServable with JoinableHandle
      with StatsCapable with SecondaryCapable[Seq[Any]] with ZoneMapped {
    override protected def secTag: ClassTag[Seq[Any]] = implicitly
    override protected def secondaryForbiddenCols: Set[String] = keyCols.toSet
    override private[sql] def filteredAggFor(secCol: String, aggCol: String)
        : Option[Any => Option[GroupAgg]] =
      secondaryFilteredAggFor(secCol, aggCol)
    override private[sql] def zoneKeyCols: Set[String] =
      // under a z-curve layout the key lanes do NOT serve interval
      // filters, so key columns zone-map like clustered value columns
      // (see [[CompositeHandle.zoneKeyCols]]) — the zone path is what
      // prunes N-dim box queries
      if (idx.partitioner.exists(
          _.isInstanceOf[graft.IndexedRDD.RankZPartitioner])) Set.empty
      else keyCols.toSet
    private[sql] def codecs: IndexedSeq[KeyCodec[Any]] = specs.map(_.codec)
    private[sql] val tupleOrd: Ordering[Seq[Any]] =
      new graft.keys.KeySerializer.SeqLexOrdering(specs.map(_.codec.ord))
    def toDF(implicit spark: SparkSession): DataFrame =
      spark.baseRelationToDataFrame(new CompositeNRelation(this)(spark.sqlContext))

    /** Internal rows of `df` keyed by the N-column tuple (layout must
      * match this handle's schema) — the N-ary [[compositePairs]]. */
    private def keyedRows(df: DataFrame): RDD[(Seq[Any], InternalRow)] = {
      val idxs = keyCols.map(schema.fieldIndex).toArray
      val cs = specs.map(_.codec)
      val colsDesc = keyCols.mkString(", ")
      df.queryExecution.toRdd.mapPartitions(_.map { r =>
        val parts = new Array[Any](idxs.length)
        var i = 0
        while (i < idxs.length) {
          if (r.isNullAt(idxs(i)))
            throw new IllegalArgumentException(
              s"null key in composite ($colsDesc)")
          parts(i) = cs(i).fromRow(r, idxs(i))
          i += 1
        }
        (scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): Seq[Any],
          r.copy(): InternalRow)
      })
    }

    /** DISTRIBUTED copy-on-write upsert at arity N — the
      * [[CompositeHandle.upsertFrame]] contract on the N-column key:
      * only the delta shuffles, the corpus never moves. */
    def upsertFrame(updates: DataFrame): CompositeNHandle = {
      // catalogString ignores nullability metadata (containsNull et
      // al) — the InternalRow layout is identical either way, and an
      // array-literal update frame legitimately differs there
      val got = updates.schema.map(f => (f.name, f.dataType.catalogString))
      val want = schema.map(f => (f.name, f.dataType.catalogString))
      require(got == want,
        s"update schema $got must match handle schema $want")
      new CompositeNHandle(idx.multiputRDD(keyedRows(updates)),
        keyCols, schema, ordered, specs)
    }

    /** Snapshot compaction — see [[Handle.compacted]]. */
    def compacted: CompositeNHandle =
      new CompositeNHandle(idx.compacted(), keyCols, schema, ordered, specs)

    /** Z-ORDERED rebuild at arity N (the engine under `OPTIMIZE t
      * ZORDER BY (a, b, c, ...)` naming all key columns): redistribute
      * so each partition holds a z-CONTIGUOUS slice of RANK SPACE —
      * every component maps to its equal-depth bucket rank (quantile
      * edges frozen into the partitioner, so skew in any dimension
      * cannot collapse the curve) and the ranks interleave. Works for
      * ANY ordered component type (strings, UUIDs, decimals — not just
      * the 2×Long [[CompositeHandle.zOrdered]] fast path). One corpus
      * shuffle; key routing stays exact (pure key function);
      * leading-range descents decline and N-dim box queries prune
      * through zone maps on the key columns — call `analyzeZones` on
      * the result (the catalog OPTIMIZE does). `dimOrder` = the ZORDER
      * BY column order (a permutation of `keyCols`; the first column
      * leads the interleave). */
    def zOrderedN(dimOrder: Seq[String]): CompositeNHandle = {
      require(dimOrder.toSet == keyCols.toSet &&
        dimOrder.size == keyCols.size,
        s"ZORDER BY must name exactly the composite key columns " +
          s"(${keyCols.mkString(", ")}) once each")
      val perm = dimOrder.map(keyCols.indexOf).toArray
      val ords = perm.map(i => codecs(i).ord.asInstanceOf[Ordering[Any]])
      val parts = math.max(1, idx.partitions.length)
      val pairs = idx.asInstanceOf[RDD[(Seq[Any], InternalRow)]]
      val sample = pairs.keys
        .takeSample(withReplacement = false,
          num = math.max(1024, parts * 64))
      val mp = IndexedFrame.rankZFor(sample.asInstanceOf[Array[Any]],
        (k, i) => k.asInstanceOf[Seq[Any]](i), ords, perm, parts)
      val redist = pairs.partitionBy(mp)
      new CompositeNHandle(IndexedRDD(redist).cached,
        keyCols, schema, ordered = false, specs)
    }

    /** Post-build re-skew — see [[Handle.reskewed]]. */
    private[sql] def reskewed(maxRowsPerPartition: Long): CompositeNHandle = {
      val r = idx.reskewed(maxRowsPerPartition, ordered)
      if (r eq idx) this
      else new CompositeNHandle(r, keyCols, schema, ordered, specs)
    }

    /** Schema evolution — see [[Handle.withWidenedSchema]]. */
    private[sql] def withWidenedSchema(newSchema: StructType): CompositeNHandle = {
      IndexedFrame.validateWiden(schema, newSchema)
      if (newSchema.length == schema.length) return this
      val f = new WidenRow(schema.fields.map(_.dataType), newSchema)
      new CompositeNHandle(idx.mapValues(f(_)),
        keyCols, newSchema, ordered, specs)
    }

    /** General evolution — see [[Handle.withRemappedSchema]]; key
      * components may be renamed, never dropped or type-changed. */
    private[sql] def withRemappedSchema(newSchema: StructType,
        positions: Array[Int]): CompositeNHandle = {
      IndexedFrame.validateRemap(schema, newSchema, positions)
      val names = keyCols.map { k =>
        val pos = positions.indexOf(schema.fieldIndex(k))
        require(pos >= 0, s"cannot drop key column '$k'")
        require(newSchema.fields(pos).dataType == schema(k).dataType,
          s"cannot change the type of key column '$k'")
        newSchema.fields(pos).name
      }
      if (IndexedFrame.remapIsNameOnly(schema, newSchema, positions))
        new CompositeNHandle(idx, names, newSchema, ordered, specs)
      else {
        val f = new RemapRow(schema.fields.map(_.dataType), newSchema, positions)
        new CompositeNHandle(idx.mapValues(f(_)),
          names, newSchema, ordered, specs)
      }
    }

    /** Delta-cost sidecar transplant across one DML statement — the
      * N-ary twin of [[Handle.maintainSidecarsFrom]]. */
    private[sql] def maintainSidecarsFrom(oldAny: AnyRef,
        del: Option[DataFrame], up: Option[DataFrame]): Unit = {
      val old = oldAny.asInstanceOf[CompositeNHandle]
      val cs = specs.map(_.codec)
      val delKeys = del.map(_.queryExecution.toRdd.map { r =>
        val parts = new Array[Any](cs.length)
        var i = 0
        while (i < cs.length) { parts(i) = cs(i).fromRow(r, i); i += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): Seq[Any]
      })
      val upKeys = up.map(u => keyedRows(u).map(_._1))
      maintainSecondariesFrom(old, delKeys, upKeys)
      widenZonesFrom(old, upKeys.map { ks =>
        idx.lookupJoinStream(ks.map((_, ())))((_, row, _) => row)
          .mapPartitionsWithIndex((pid, it) => it.map(r => (pid, r)))
      })
    }

    /** DISTRIBUTED copy-on-write delete by full key tuples: `keys` is
      * an N-column DataFrame typed like the key columns, in key order.
      * Unknown tuples are ignored, matching SQL DELETE. */
    def deleteFrame(keys: DataFrame): CompositeNHandle = {
      require(keys.schema.length == keyCols.length &&
          keyCols.indices.forall(i =>
            keys.schema(i).dataType == schema(keyCols(i)).dataType),
        s"${keyCols.map(c => schema(c).dataType.catalogString)} key columns " +
          s"required, got ${keys.schema.map(_.dataType.catalogString)}")
      val cs = specs.map(_.codec)
      val kRdd = keys.queryExecution.toRdd.map { r =>
        val parts = new Array[Any](cs.length)
        var i = 0
        while (i < cs.length) {
          if (r.isNullAt(i))
            throw new IllegalArgumentException("null delete key component")
          parts(i) = cs(i).fromRow(r, i)
          i += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): Seq[Any]
      }
      new CompositeNHandle(idx.deleteRDD(kRdd), keyCols, schema, ordered, specs)
    }

    /** SQL `MERGE INTO` on the N-column key — [[Handle.mergeFrame]]'s
      * contract matched on EVERY key column (`ON t.k1 = s.<src1> AND
      * ... AND t.kn = s.<srcn>`). Same clause rules, same s/t Column
      * addressing, same delta cost and single-pass source execution. */
    def mergeFrame(source: DataFrame, sourceKeys: Seq[String],
        deleteWhen: Option[Column] = None,
        updateWhen: Option[Column] = None,
        updateSet: Map[String, Column] = Map.empty,
        insertWhen: Option[Column] = None,
        insertValues: Map[String, Column] = Map.empty,
        insertAll: Boolean = false,
        notBySourceDeleteWhen: Option[Column] = None,
        notBySourceUpdateWhen: Option[Column] = None,
        notBySourceUpdateSet: Map[String, Column] = Map.empty)(
        implicit spark: SparkSession): CompositeNHandle = {
      val ms = mergeChangeSets(source, sourceKeys, deleteWhen, updateWhen,
        updateSet, insertWhen, insertValues, insertAll,
        notBySourceDeleteWhen, notBySourceUpdateWhen, notBySourceUpdateSet)
      val afterDel = ms.del.map(deleteFrame).getOrElse(this)
      val result = ms.ups.map(afterDel.upsertFrame).getOrElse(afterDel)
      if (ms.persisted) {
        result.idx.cached.count() // one pass over the persisted join
        ms.release()
      }
      result
    }

    /** [[mergeFrame]]'s change sets WITHOUT application — the durable
      * catalog-table DML path writes both frames as the table's delta
      * log first, then applies from disk so replay is bit-exact. */
    private[sql] def mergeChangeSets(source: DataFrame, sourceKeys: Seq[String],
        deleteWhen: Option[Column],
        updateWhen: Option[Column],
        updateSet: Map[String, Column],
        insertWhen: Option[Column],
        insertValues: Map[String, Column],
        insertAll: Boolean,
        notBySourceDeleteWhen: Option[Column],
        notBySourceUpdateWhen: Option[Column],
        notBySourceUpdateSet: Map[String, Column])(
        implicit spark: SparkSession): MergeSets = {
      import org.apache.spark.sql.functions.{col => fCol}
      require(sourceKeys.length == keyCols.length,
        s"one source key column per key column (${keyCols.length}), " +
          s"got ${sourceKeys.length}")
      require(keyCols.forall(k => !updateSet.contains(k)),
        "MERGE may not update a key column")
      val joined = source.alias("s").join(toDF.alias("t"),
        keyCols.zip(sourceKeys).map { case (t, s0) =>
          fCol(s"s.$s0") === fCol(s"t.$t")
        }.reduce(_ && _), "left")
      if (auditMergePlans)
        lastMergePlan = joined.queryExecution.executedPlan.toString
      val matched = fCol(s"t.${keyCols.head}").isNotNull
      val reads = Seq(deleteWhen.isDefined, updateSet.nonEmpty,
        insertAll || insertValues.nonEmpty).count(identity)
      if (reads >= 2)
        joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a merge may carry ONLY NOT-MATCHED-BY-SOURCE clauses — the
      // matched/insert machinery then contributes nothing
      val hasMatchedSide = deleteWhen.isDefined || updateSet.nonEmpty ||
        insertAll || insertValues.nonEmpty
      require(hasMatchedSide || notBySourceDeleteWhen.isDefined ||
        notBySourceUpdateSet.nonEmpty, "MERGE needs at least one WHEN clause")
      val cs =
        if (hasMatchedSide)
          mergeClauses(joined, matched, schema, deleteWhen, updateWhen,
            updateSet, insertWhen, insertValues, insertAll)
        else MergeChangeSets(org.apache.spark.sql.functions.lit(false),
          hasDelete = false, None)
      val nbsBoth =
        notBySourceDeleteWhen.isDefined && notBySourceUpdateSet.nonEmpty
      // both NBS clause kinds read the anti join (delete keys and
      // update rows are separate consumers) — persist it so the
      // corpus-kept anti pass executes ONCE, mirroring the
      // matched-side joined cache
      val unmatched =
        if (notBySourceDeleteWhen.isDefined || notBySourceUpdateSet.nonEmpty)
          Some {
            val u =
            toDF.alias("t").join(
              source.select(sourceKeys.map(fCol): _*).alias("s"),
              keyCols.zip(sourceKeys).map { case (t, s0) =>
                fCol(s"t.$t") === fCol(s"s.$s0")
              }.reduce(_ && _), "left_anti")
            if (nbsBoth)
              u.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else u
          }
        else None
      val nbs = unmatched.map(u => nbsClauses(
          u, keyCols, schema, notBySourceDeleteWhen,
          notBySourceUpdateWhen, notBySourceUpdateSet))
        .getOrElse(NbsChangeSets(None, None))
      val matchedDel =
        if (cs.hasDelete) Some(joined.filter(cs.delC)
          .select(keyCols.map(c => fCol(s"t.$c").as(c)): _*))
        else None
      val allDel = (matchedDel ++ nbs.delKeys).reduceOption(_ unionByName _)
      val allUps = (cs.upserts ++ nbs.updRows).reduceOption(_ unionByName _)
      MergeSets(allDel, allUps, reads >= 2 || nbsBoth,
        () => {
          if (reads >= 2) joined.unpersist(blocking = false)
          if (nbsBoth) unmatched.foreach(_.unpersist(blocking = false))
          ()
        })
    }

    // ----- JoinableHandle: lookup/zip joins on the full N-column key.
    // keyIdxs arrives with one probe column per key column, in key
    // order — the strategy's probeFor machinery is arity-generic.
    override private[sql] def idxAny: IndexedRDD[Any, InternalRow] =
      idx.asInstanceOf[IndexedRDD[Any, InternalRow]]
    override private[sql] def joinKeyCols: Seq[String] = keyCols
    override private[sql] def keyTypeTag: String =
      s"compositeN:${specs.map(s => codecTag(s.codec)).mkString(",")}"

    private def keyOf(r: InternalRow, idxs: Array[Int]): Seq[Any] = {
      val parts = new Array[Any](idxs.length)
      var i = 0
      while (i < idxs.length) { parts(i) = specs(i).codec.fromRow(r, idxs(i)); i += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(parts)
    }
    private def keyedProbeN(probe: RDD[InternalRow],
        idxs: Array[Int]): RDD[(Seq[Any], InternalRow)] = {
      val self = this
      probe.mapPartitions(_.flatMap { r =>
        if (idxs.exists(r.isNullAt)) Iterator.empty
        else Iterator.single((self.keyOf(r, idxs), r.copy()))
      })
    }
    private def keyedProbeNullableN(probe: RDD[InternalRow],
        idxs: Array[Int]): RDD[(Any, InternalRow)] = {
      val self = this
      probe.mapPartitions(_.map { r =>
        (if (idxs.exists(r.isNullAt)) null else (self.keyOf(r, idxs): Any),
          r.copy())
      })
    }
    override private[sql] def lookupJoinRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], keepMisses: Boolean): RDD[(InternalRow, InternalRow)] =
      if (!keepMisses)
        idx.lookupJoinStream(keyedProbeN(probe, keyIdxs))((_, v, u) => (v, u))
      else
        idx.lookupJoinStreamNullable(keyedProbeNullableN(probe, keyIdxs))(
          (_, v, u) => (v, u), u => (null.asInstanceOf[InternalRow], u))
    override private[sql] def lookupSemiRows(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] = {
      val self = this
      val keys = probe.mapPartitions(_.flatMap { r =>
        if (keyIdxs.exists(r.isNullAt)) Iterator.empty
        else Iterator.single(self.keyOf(r, keyIdxs))
      })
      idx.lookupSemiStream(keys, anti).map(_._2)
    }
    override private[sql] def lookupProbeFilter(probe: RDD[InternalRow],
        keyIdxs: Array[Int], anti: Boolean): RDD[InternalRow] =
      if (!anti)
        idx.lookupJoinStream(keyedProbeN(probe, keyIdxs))((_, _, u) => u)
      else
        idx.lookupJoinStreamNullable(keyedProbeNullableN(probe, keyIdxs))(
          (_, _, _) => null.asInstanceOf[InternalRow], u => u).filter(_ != null)
    override private[sql] def lookupJoinRowsLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[RDD[(InternalRow, InternalRow)]] = {
      val (nulls, keyed) = probeRows.partition(r => keyIdxs.exists(r.isNullAt))
      val probes = keyed.toSeq.map(r => (keyOf(r, keyIdxs), r))
      Some(
        if (!keepMisses) idx.lookupJoinLocal(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocal(probes,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }
    override private[sql] def lookupProbeFilterLocal(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        anti: Boolean): Option[RDD[InternalRow]] = {
      val (nulls, keyed) = probeRows.partition(r => keyIdxs.exists(r.isNullAt))
      val probes = keyed.toSeq.map(r => (keyOf(r, keyIdxs), r))
      Some(
        if (!anti) idx.lookupJoinLocal(probes)((_, _, u) => u)
        else idx.lookupJoinLocal(probes,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, _, _) => null.asInstanceOf[InternalRow],
          Some((u: InternalRow) => u)).filter(_ != null))
    }
    override private[sql] def lookupJoinRowsLocalCollect(
        probeRows: Array[InternalRow], keyIdxs: Array[Int],
        keepMisses: Boolean): Option[Array[(InternalRow, InternalRow)]] = {
      val (nulls, keyed) = probeRows.partition(r => keyIdxs.exists(r.isNullAt))
      val probes = keyed.toSeq.map(r => (keyOf(r, keyIdxs), r))
      Some(
        if (!keepMisses) idx.lookupJoinLocalCollect(probes)((_, v, u) => (v, u))
        else idx.lookupJoinLocalCollect(probes,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(nulls))(
          (_, v, u) => (v, u),
          Some((u: InternalRow) => (null.asInstanceOf[InternalRow], u))))
    }
    override private[sql] def lookupSecondaryCols: Set[String] = secondaryColSet
    override private[sql] def lookupJoinRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupJoinRows(col, probe, keyIdx).get
    override private[sql] def lookupOuterRowsBySecondary(col: String,
        probe: RDD[InternalRow], keyIdx: Int): RDD[(InternalRow, InternalRow)] =
      secLookupOuterRows(col, probe, keyIdx).get

    // ----- StatsCapable: no-scan aggregates at arity N. count(*) =
    // the index size; min/max of the LEADING column = the byte-extreme
    // tuples' heads (lexicographic order); GROUP BY leading count(*)
    // and count(DISTINCT leading) from key runs — values never read.
    override private[sql] def statsKeyCol: Option[String] =
      if (ordered && tupSer.isOrderPreserving) Some(keyCols.head) else None
    // see the single-key twin: save-time count -> zero-job stats
    @transient private[sql] var presetStatsCount: Option[Long] = None
    @transient private lazy val statsCountN: Long =
      presetStatsCount.getOrElse(idx.count())
    @transient private lazy val statsFullN: (Long, Option[Any], Option[Any]) = {
      val (c, mn, mx) = idx.keyStats()(tupSer)
      (c, mn.map(t => specs(0).codec.toExternalSql(t.head)),
        mx.map(t => specs(0).codec.toExternalSql(t.head)))
    }
    override private[sql] def statsAll(
        withExtrema: Boolean): (Long, Option[Any], Option[Any]) =
      if (withExtrema) statsFullN else (statsCountN, None, None)
    override private[sql] def markStats(): Unit = { lastScanKind = "stats" }

    private def leadRunsServableN: Boolean =
      ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])

    /** `count(DISTINCT leading)`: per-partition (run count, first,
      * last) minus boundary-continuing runs — the 2-ary algorithm with
      * the tuple head as the run key. Memoized on the snapshot. */
    @transient private lazy val leadDistinctMemoN: Long = {
      val ordA = specs(0).codec.ord
      val bounds = idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
        if (!pit.hasNext) Iterator.empty
        else {
          val it = pit.next().iterator
          if (!it.hasNext) Iterator.empty
          else {
            var runs = 0L
            var first: Any = null
            var last: Any = null
            var any = false
            it.foreach { case (k, _) =>
              val a = k.head
              if (!any) { first = a; any = true; runs = 1L }
              else if (!ordA.equiv(last, a)) runs += 1
              last = a
            }
            Iterator.single((pid, runs, first, last))
          }
        }
      }.collect().sortBy(_._1)
      val joins = bounds.iterator.sliding(2).withPartial(false).count {
        case Seq((_, _, _, lastPrev), (_, _, firstCur, _)) =>
          ordA.equiv(lastPrev, firstCur)
        case _ => false
      }
      bounds.iterator.map(_._2).sum - joins
    }
    override private[sql] def countDistinctFor(col: String): Option[() => Long] =
      if (col == keyCols.head && leadRunsServableN) Some(() => leadDistinctMemoN)
      else None

    override private[sql] def colsAreFullKey(cols: Seq[String]): Boolean =
      cols.length == keyCols.length && cols.toSet == keyCols.toSet

    override private[sql] def groupStatCol(col: String): Option[String] =
      if (col == keyCols.head && keyCols.length >= 2) Some(keyCols(1)) else None

    /** `GROUP BY leading → count(*), min(second), max(second)` from
      * key tuples alone — the per-entity summary at arity N: on the
      * ordered range-partitioned layout runs are contiguous and
      * second-column-sorted, so each run folds streaming; otherwise a
      * per-partition hash partial. Same v1 gating as
      * [[groupCountsFor]] (vacuous IsNotNull only). */
    override private[sql] def groupStatsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long, Any, Any)]] = {
      if (col != keyCols.head || keyCols.length < 2) return None
      val keySet = keyCols.toSet
      val vacuous = fs.forall {
        case IsNotNull(c) => keySet.contains(c)
        case _ => false
      }
      if (!vacuous) return None
      val ordA = specs(0).codec.ord
      val ordB = specs(1).codec.ord
      val dtA = schema(keyCols.head).dataType
      val dtB = schema(keyCols(1)).dataType
      val streamRuns = leadRunsServableN
      Some(() => {
        val partial = idx.partitionsRDD.mapPartitions { pit =>
          if (!pit.hasNext) Iterator.empty
          else if (streamRuns) {
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Any, (Long, Any, Any))]
            var cur: Any = null
            var curSet = false
            var cnt = 0L
            var mnB: Any = null
            var mxB: Any = null
            def flush(): Unit =
              if (curSet && cnt > 0) out += ((cur, (cnt, mnB, mxB)))
            pit.next().iterator.foreach { case (k, _) =>
              val a = k.head
              if (!curSet || !ordA.equiv(cur, a)) {
                flush()
                cur = a
                curSet = true
                cnt = 0L
              }
              if (cnt == 0L) mnB = k(1)
              mxB = k(1)
              cnt += 1
            }
            flush()
            out.iterator
          } else {
            val m = new java.util.HashMap[Any, (Long, Any, Any)]()
            pit.next().iterator.foreach { case (k, _) =>
              val a = k.head
              val b = k(1)
              val prev = m.get(a)
              if (prev == null) m.put(a, (1L, b, b))
              else m.put(a, (prev._1 + 1L,
                if (ordB.lt(b, prev._2)) b else prev._2,
                if (ordB.gt(b, prev._3)) b else prev._3))
            }
            import scala.jdk.CollectionConverters._
            m.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
          }
        }
        partial.reduceByKey { (x, y) =>
          (x._1 + y._1,
            if (ordB.lt(x._2, y._2)) x._2 else y._2,
            if (ordB.gt(x._3, y._3)) x._3 else y._3)
        }.map { case (a, (c, mnB, mxB)) =>
          (toCatalystKey(dtA, a), c, toCatalystKey(dtB, mnB),
            toCatalystKey(dtB, mxB))
        }
      })
    }

    /** `SELECT DISTINCT leading` with zero shuffle: job 1 collects
      * per-partition boundary values, job 2 streams run heads dropping
      * boundary continuations — the 2-ary algorithm at arity N
      * (unfiltered; predicates fall through to the scan plans). */
    override private[sql] def distinctValuesFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[Any]] = {
      if (col != keyCols.head || !leadRunsServableN) return None
      val keySet = keyCols.toSet
      val vacuous = fs.forall {
        case IsNotNull(c) => keySet.contains(c)
        case _ => false
      }
      if (!vacuous) return None
      val ordA = specs(0).codec.ord
      val dtA = schema(keyCols.head).dataType
      Some { () =>
        val bounds = idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
          if (!pit.hasNext) Iterator.empty
          else {
            val it = pit.next().iterator
            if (!it.hasNext) Iterator.empty
            else {
              var first: Any = null
              var last: Any = null
              var any = false
              it.foreach { case (k, _) =>
                if (!any) { first = k.head; any = true }
                last = k.head
              }
              Iterator.single((pid, first, last))
            }
          }
        }.collect().sortBy(_._1)
        val drop: Set[Int] = bounds.iterator.sliding(2).withPartial(false)
          .collect {
            case Seq((_, _, lastPrev), (pid, firstCur, _))
                if ordA.equiv(lastPrev, firstCur) => pid
          }.toSet
        val dropB = idx.context.broadcast(drop)
        idx.partitionsRDD.mapPartitionsWithIndex { (pid, pit) =>
          if (!pit.hasNext) Iterator.empty
          else {
            var prevSet = false
            var prev: Any = null
            val heads = pit.next().iterator.map(_._1.head).filter { a =>
              val isNew = !prevSet || !ordA.equiv(prev, a)
              prev = a
              prevSet = true
              isNew
            }
            val kept = if (dropB.value.contains(pid)) heads.drop(1) else heads
            kept.map(a => toCatalystKey(dtA, a))
          }
        }
      }
    }

    /** `GROUP BY leading → count(*)` from the key stream (values never
      * deserialized). v1 gating: only vacuous IsNotNull conjuncts on
      * key columns (no null key components are stored); any real
      * predicate falls through to the scan plans. */
    override private[sql] def groupCountsFor(col: String,
        fs: Seq[Filter]): Option[() => RDD[(Any, Long)]] = {
      if (col != keyCols.head) return None
      val keySet = keyCols.toSet
      val vacuous = fs.forall {
        case IsNotNull(c) => keySet.contains(c)
        case _ => false
      }
      if (!vacuous) return None
      val dt = schema(keyCols.head).dataType
      Some(() => {
        val partial = idx.partitionsRDD.mapPartitions { pit =>
          if (!pit.hasNext) Iterator.empty
          else {
            val m = new java.util.HashMap[Any, java.lang.Long]()
            pit.next().iterator.foreach { case (k, _) =>
              val a = k.head
              val prev = m.get(a)
              m.put(a, if (prev == null) 1L else prev.longValue() + 1L)
            }
            import scala.jdk.CollectionConverters._
            m.entrySet().iterator().asScala
              .map(e => (e.getKey: Any, e.getValue.longValue()))
          }
        }
        partial.reduceByKey(_ + _).map { case (a, c) => (toCatalystKey(dt, a), c) }
      })
    }

    /** Smallest full key strictly above every key sharing prefix `p`
      * (bump rightmost bumpable component, pad with minimums); None =
      * all-domain-max. Shared with [[CompositeNRelation]]'s interval
      * construction — ONE successor definition for asOf and
      * prefix-range scans. */
    private[sql] def succPrefixBound(p: Seq[Any]): Option[Seq[Any]] = {
      var i = p.length - 1
      while (i >= 0) {
        specs(i).codec.succ(p(i)) match {
          case Some(s2) => return Some((p.take(i) :+ s2) ++
            ((i + 1) until keyCols.length).map(j => specs(j).codec.minKey))
          case None => i -= 1
        }
      }
      None
    }

    /** Per-entity point-in-time read at ARBITRARY arity — the
      * multi-tenant versioned lookup on a `(tenant, …, ts)` layout:
      * the row whose first n−1 key columns equal `prefix` and whose
      * LAST key column is the largest value ≤ `t`, or empty when the
      * entity has no version at-or-before `t`. ONE bounded
      * [[graft.IndexedRDD.floorEntry]] pass over the tuple byte space
      * (the floor of `prefix :+ succ t` is either the entity's latest
      * version ≤ t or some earlier tuple — one driver-side prefix
      * check tells them apart) returns the row with its key — no
      * second probe job. Requires an ordered handle —
      * the 2-column [[CompositeHandle.asOf]] generalized. */
    def asOf(prefix: Seq[Any], t: Any)(implicit spark: SparkSession): DataFrame = {
      require(ordered && tupSer.isOrderPreserving,
        "asOf needs an ordered N-ary handle with order-preserving keys")
      require(prefix.length == keyCols.length - 1,
        s"asOf pins the first ${keyCols.length - 1} key columns, " +
          s"got ${prefix.length}")
      val kp: Seq[Any] = prefix.zipWithIndex.map { case (v, i) =>
        specs(i).codec.fromLiteral(v) }
      val kt = specs.last.codec.fromLiteral(t)
      val floor: Option[(Seq[Any], InternalRow)] = specs.last.codec.succ(kt) match {
        case Some(ub) => idx.floorEntry(kp :+ ub)(tupSer)
        case None => succPrefixBound(kp) match {
          case Some(b) => idx.floorEntry(b)(tupSer)
          case None => idx.maxEntry()(tupSer)
        }
      }
      val hit = floor.filter { case (fk, _) => kp.indices.forall(i =>
        specs(i).codec.ord.equiv(fk(i), kp(i))) }
      lastScanKind = "asof"
      rowDF(hit.map(_._2), schema)
    }

    /** `ORDER BY <key-column prefix> LIMIT n`: the range-partitioned
      * N-ary layout is globally sorted in lexicographic column order,
      * so a uniform-direction sort on any non-empty keyCols prefix
      * reads only the covering partition prefix/suffix — same claim
      * as the 2-column handle, at any arity. */
    override private[sql] def topKCapable: Boolean =
      ordered && tupSer.isOrderPreserving &&
        idx.partitioner.exists(
          _.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
    override private[sql] def topKCols: Seq[String] = keyCols
    override protected def fetchOrderedRows(n: Int, asc: Boolean): Seq[InternalRow] =
      idx.takeOrderedByKey(n, asc)(tupSer).toSeq.map(_._2)
    override protected def markTopK(): Unit = {
      lastScanKind = "topk"
      lastPointLookupKeys = -1
    }
  }

  private[sql] class CompositeNRelation(private[sql] val h: CompositeNHandle)(
      @transient override val sqlContext: SQLContext)
      extends BaseRelation with DriverLanes {
    override def schema: StructType = h.schema
    override def needConversion: Boolean = false

    /** See [[IndexedRelation.sizeInBytes]]: exact memoized count ×
      * default row width, so small handles broadcast unhinted. */
    override def sizeInBytes: Long = IndexedFrame.relationSize(
      h.statsAll(withExtrema = false)._1, schema)

    private val n = h.keyCols.length
    /** Trie/partition interval routing needs lexicographic byte order
      * AND a domain minimum per component (BigInt has none). */
    private lazy val rangeReady: Boolean =
      h.ordered && h.tupSer.isOrderPreserving &&
        h.specs.forall(s => Try(s.codec.minKey).isSuccess)

    /** Per-column pushed point sets, intersected across conjuncts:
      * None = no equality/IN on that column. */
    private def pointSetsFor(filters: Array[Filter]): Array[Option[Set[Any]]] =
      Array.tabulate(n) { i =>
        val col = h.keyCols(i)
        val codec = h.specs(i).codec
        val sets = filters.flatMap {
          case EqualTo(`col`, null) => Some(Set.empty[Any])
          case EqualTo(`col`, v) =>
            Some(Try(codec.fromLiteral(v)).toOption.toSet[Any])
          case In(`col`, vs) => Some(vs.iterator.filter(_ != null)
            .flatMap(v => Try(codec.fromLiteral(v)).toOption).toSet[Any])
          case _ => None
        }
        if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
      }

    private def cross(sets: Seq[Seq[Any]]): Seq[Seq[Any]] =
      sets.foldLeft(Seq(Vector.empty[Any]): Seq[Seq[Any]])((acc, s) =>
        acc.flatMap(p => s.map(v => p :+ v)))

    private sealed trait Lane
    private case class PointLane(keys: Array[Seq[Any]]) extends Lane
    /** First `m` columns pinned to each prefix; optional interval on
      * column m (None = each prefix's whole tuple run). */
    private case class PrefixLane(prefixes: Seq[Seq[Any]],
        iv: Option[Iv[Any]]) extends Lane
    private case object EmptyLane extends Lane
    private case object FullLane extends Lane

    /** Product of IN-set sizes, saturated at Long.MaxValue so wide
      * N-ary keys with huge per-column lists can never overflow to a
      * negative value and sneak past the point/prefix budgets. */
    private def satProduct(sizes: Seq[Long]): Long =
      sizes.foldLeft(1L)((acc, s) =>
        if (acc > Long.MaxValue / math.max(s, 1L)) Long.MaxValue
        else acc * s)

    private def chooseLane(filters: Array[Filter]): Lane = {
      val pts = pointSetsFor(filters)
      if (pts.exists(s => s.exists(_.isEmpty))) return EmptyLane
      if (pts.forall(_.isDefined) &&
          satProduct(pts.map(_.get.size.toLong).toSeq) <= PointKeyBudget)
        return PointLane(cross(pts.toSeq.map(_.get.toSeq)).toArray)
      if (!rangeReady) return FullLane
      // longest pinned prefix; column m (the first unpinned) may carry
      // an interval
      val m = pts.indexWhere(_.isEmpty) match { case -1 => n case i => i }
      if (m == n) return FullLane // all pinned but over the point budget
      val ivNext: Option[Iv[Any]] = {
        val col = h.keyCols(m)
        val codec = h.specs(m).codec
        val ivs = filters.toSeq.flatMap(f =>
          boundsOn(col, codec, eqAsPrefix = false, f))
        if (ivs.isEmpty) None else Some(meet(ivs, codec.ord))
      }
      if (ivNext.exists(_.empty)) return EmptyLane
      if (m == 0)
        ivNext match {
          case Some(iv) => PrefixLane(Seq(Vector.empty), Some(iv))
          case None => FullLane
        }
      else if (satProduct(pts.take(m).map(_.get.size.toLong).toSeq) > MixedLeadCap)
        FullLane
      else PrefixLane(
        cross((0 until m).map(i =>
          pts(i).get.toSeq.sorted(h.specs(i).codec.ord))), ivNext)
    }

    /** Claims mirror the 2-column relation LANE-FOR-LANE: a filter is
      * claimed exactly when the routed access path ENFORCES it — the
      * pushed equality/IN conjuncts on point-pinned columns (exact-
      * literal codecs only), the range conjuncts on the first unpinned
      * column of a prefix lane, and IsNotNull on any KEY column
      * (vacuous: the index never stores null keys). Residual filters —
      * later-column predicates, anything on a full scan — stay with
      * Spark, so at 100× scale a routed point read re-filters nothing
      * above the probe. */
    override def unhandledFilters(filters: Array[Filter]): Array[Filter] = {
      def pointOn(i: Int, f: Filter): Boolean = {
        val col = h.keyCols(i)
        h.specs(i).codec.exactLiterals && (f match {
          case EqualTo(`col`, _) => true
          case In(`col`, _) => true
          case _ => false
        })
      }
      def keyNotNull(f: Filter): Boolean = f match {
        case IsNotNull(c) => h.keyCols.contains(c)
        case _ => false
      }
      chooseLane(filters) match {
        case _: PointLane =>
          filters.filter(f =>
            !keyNotNull(f) && !(0 until n).exists(i => pointOn(i, f)))
        case PrefixLane(_, _) =>
          val pts = pointSetsFor(filters)
          val m = pts.indexWhere(_.isEmpty) match { case -1 => n case i => i }
          val colM = h.keyCols(m) // m < n: PrefixLane always has one
          val codecM = h.specs(m).codec
          filters.filter { f =>
            !keyNotNull(f) &&
              !(0 until m).exists(i => pointOn(i, f)) &&
              boundsOn(colM, codecM, eqAsPrefix = false, f).isEmpty
          }
        case _ => filters // Empty/Full: conservative, Spark re-applies
      }
    }

    private def minsFrom(i: Int): Seq[Any] =
      (i until n).map(j => h.specs(j).codec.minKey)

    /** Close an unbounded-above scan starting at `from`: one O(depth)
      * maxKey descent, corner-probing the max tuple only when it has
      * no successor (mirrors the 2-column relation's closeAbove).
      * Successor arithmetic is the handle's [[CompositeNHandle
      * .succPrefixBound]] — the same definition asOf uses. */
    private def closeAbove(from: Seq[Any])
        : (Seq[(Seq[Any], Seq[Any])], Seq[Seq[Any]]) =
      h.idx.maxKey()(h.tupSer) match {
        case None => (Nil, Nil)
        case Some(mk) if h.tupleOrd.lt(mk, from) => (Nil, Nil)
        case Some(mk) => h.succPrefixBound(mk) match {
          case Some(end) => (Seq((from, end)), Nil)
          case None => (Seq((from, mk)), Seq(mk))
        }
      }

    /** Tuple interval(s) for one pinned prefix + optional interval on
      * the next column. */
    private def intervalFor(p: Seq[Any], iv: Option[Iv[Any]])
        : (Seq[(Seq[Any], Seq[Any])], Seq[Seq[Any]]) = {
      val m = p.length
      val loVal = iv.flatMap(_.from).getOrElse(h.specs(m).codec.minKey)
      val from: Seq[Any] = (p :+ loVal) ++ minsFrom(m + 1)
      iv.flatMap(_.to) match {
        case Some(hiExcl) => (Seq((from, (p :+ hiExcl) ++ minsFrom(m + 1))), Nil)
        case None => h.succPrefixBound(p) match {
          case Some(end) => (Seq((from, end)), Nil)
          case None => closeAbove(from) // prefix at domain max (or empty)
        }
      }
    }

    private def serve(ivs: Seq[(Seq[Any], Seq[Any])],
        corners: Seq[Seq[Any]]): RDD[InternalRow] = {
      val live = ivs.filter { case (f, t) => h.tupleOrd.lt(f, t) }
      val body: RDD[InternalRow] =
        if (live.isEmpty) sqlContext.sparkContext.emptyRDD[InternalRow]
        else h.idx.multiRange(live)(h.tupSer).map(_._2)
      withCorners(body, h.idx.multiget(corners.toArray).values)
    }

    override private[sql] def markDriverLane(filters: Array[Filter]): Boolean =
      chooseLane(filters) match {
        case EmptyLane => h.markLane("point", 0); true
        case PointLane(keys) => h.markLane("point", keys.length); true
        // no KEY lane applies: secondary-indexed VALUE columns route
        // exactly like the 2-column relation's full lane
        case FullLane => h.markSecondaryLane(filters)
        case _ => false
      }

    override private[sql] def driverRows(
        filters: Array[Filter]): Option[Array[InternalRow]] = {
      h.lastProbeMemoHit = false
      chooseLane(filters) match {
        case EmptyLane =>
          h.markLane("point", 0)
          Some(Array.empty[InternalRow])
        case PointLane(keys) =>
          h.markLane("point", keys.length)
          Some(h.idx.multiget(keys).values.toArray)
        case FullLane => h.secondaryRows(filters)
        case _ => None
      }
    }

    override private[sql] def scanRows(filters: Array[Filter]): RDD[InternalRow] =
      chooseLane(filters) match {
        case EmptyLane | _: PointLane =>
          throw new IllegalStateException("point lanes are served by driverRows")
        case PrefixLane(prefixes, iv) =>
          h.markLane("range", -1)
          val parts = prefixes.map(p => intervalFor(p, iv))
          serve(parts.flatMap(_._1), parts.flatMap(_._2))
        case FullLane =>
          h.lastPointLookupKeys = -1
          // projection-boxed full lanes, then zone maps, then the plain
          // scan — same order as the other arities (never claimed;
          // Spark re-applies the predicates)
          IndexedFrame.zProjServe(sqlContext, h.zProjection,
              h.schema, h.keyCols, filters) match {
            case Some((kept, rdd)) =>
              h.lastScanKind = "full_zproj"
              h.setZoneKept(kept)
              rdd
            case None => h.zoneKeeps(filters) match {
              case Some(keep) =>
                h.lastScanKind = "full_zone"
                h.setZoneKept(keep.count(identity))
                org.apache.spark.rdd.PartitionPruningRDD.create(
                  h.idx.map(_._2), keep(_))
              case None =>
                h.lastScanKind = "full"
                h.idx.map(_._2)
            }
          }
      }
  }

  /** Index by N >= 2 key columns of any supported type (integral/
    * temporal, string, uuid-string via `uuidCols`, decimal(p,0)).
    * `ordered = true` builds radix partitions so pinned-prefix +
    * next-column-range predicates route into trie interval scans. */
  def indexCompositeN(df: DataFrame, keyCols: Seq[String],
      ordered: Boolean = false, numPartitions: Int = 0,
      uuidCols: Set[String] = Set.empty): CompositeNHandle =
    buildCompositeN(df, keyCols, ordered, numPartitions, 0, uuidCols)

  /** RANGE-PARTITIONED N-column composite: tuples globally sorted in
    * lexicographic column order, so pinned-prefix intervals prune
    * PARTITIONS before descending the per-partition tries — the N-ary
    * twin of [[indexCompositeRangePartitioned]]. */
  def indexCompositeNRangePartitioned(df: DataFrame, keyCols: Seq[String],
      numPartitions: Int, uuidCols: Set[String] = Set.empty): CompositeNHandle =
    buildCompositeN(df, keyCols, ordered = true, 0, numPartitions, uuidCols)

  private def buildCompositeN(df: DataFrame, keyCols: Seq[String],
      ordered: Boolean, numPartitions: Int, rangeParts: Int,
      uuidCols: Set[String]): CompositeNHandle = {
    require(keyCols.length >= 2, "composite key needs at least two columns")
    val specs = keyCols.toIndexedSeq.map(c =>
      specFor(df.schema, c, uuidCols(c)).asInstanceOf[KeySpec[Any]])
    implicit val tupSer: KeySerializer[Seq[Any]] =
      new graft.keys.KeySerializer.ConcatNSerializer(specs.map(_.ser))
    val idxs = keyCols.map(df.schema.fieldIndex).toArray
    val codecs = specs.map(_.codec)
    val colsDesc = keyCols.mkString(", ")
    val raw: RDD[(Seq[Any], InternalRow)] =
      df.queryExecution.toRdd.mapPartitions(_.map { r =>
        val parts = new Array[Any](idxs.length)
        var i = 0
        while (i < idxs.length) {
          if (r.isNullAt(idxs(i)))
            throw new IllegalArgumentException(s"null key in composite ($colsDesc)")
          parts(i) = codecs(i).fromRow(r, idxs(i))
          i += 1
        }
        (scala.collection.immutable.ArraySeq.unsafeWrapArray(parts): Seq[Any],
          r.copy(): InternalRow)
      })
    val idx =
      if (rangeParts > 0) {
        implicit val ord: Ordering[Seq[Any]] =
          new graft.keys.KeySerializer.SeqLexOrdering(codecs.map(_.ord))
        IndexedRDD.rangePartitioned(raw, rangeParts)
      } else {
        val p =
          if (numPartitions > 0)
            raw.partitionBy(new org.apache.spark.HashPartitioner(numPartitions))
          else raw
        if (ordered) IndexedRDD.ordered(p) else IndexedRDD(p)
      }
    new CompositeNHandle(idx.cached, keyCols, df.schema,
      ordered || rangeParts > 0, specs)
  }

  /** RANGE-PARTITIONED ordered handle: keys are globally sorted across
    * `numPartitions` partitions (RangePartitioner) with a radix tree
    * inside each, so a pushed BETWEEN prunes to only the partitions
    * whose key interval overlaps the bounds — O(range) tasks instead of
    * O(partitions). The layout of choice for range-heavy SQL at scale. */
  def indexRangePartitioned(df: DataFrame, keyCol: String,
      numPartitions: Int): Handle[Long] = {
    val codec = codecFor(df.schema, keyCol) match {
      case lc: LongCodec => lc
      case _ => throw new IllegalArgumentException("integral key column required")
    }
    val idx = IndexedRDD.rangePartitioned(pairs(df, keyCol, codec), numPartitions)
    new Handle(idx.cached, keyCol, df.schema, ordered = true, codec)
  }

  /** Persist a handle: the index itself in [[graft.IndexedRDDIO]]'s
    * one-file-per-partition layout (partitioner included) plus a
    * `_frame` meta file (key column, orderedness, codec tag, schema).
    * Reloading re-attaches everything — point reads, range pushdown,
    * and narrow joins work immediately, with no shuffle or rebuild. */
  /** The exact row count a [[save]] observed, persisted as `_count` so
    * a reloaded handle's stats (and Catalyst `sizeInBytes`) answer
    * with zero jobs. Optional on read: older saves load cleanly and
    * pay the one memoized count job as before. */
  private def writeSavedCount(fs: org.apache.hadoop.fs.FileSystem,
      path: String, n: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_count"), true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSavedCount(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val f = new org.apache.hadoop.fs.Path(path, "_count")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Persist JUST the secondary-index + zone-map sidecars of `h` under
    * `path` (sec_<i>/ dirs + the `_indexes` manifest) — the shared
    * tail of every [[save]] overload, also called directly when SQL
    * `CREATE INDEX` / `DROP INDEX` runs against a persistent catalog
    * table so the new routing survives a reopen without rewriting the
    * base. Sidecar dirs write before the manifest references them. */
  private[sql] def saveIndexSidecars(
      h: SecondaryCapable[_] with ZoneMapped, path: String,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val secs = h.secondaryEntries
    secs.zipWithIndex.foreach { case ((_, _, s), i) =>
      graft.IndexedRDDIO.save(s, s"$path/sec_$i")
    }
    val (zoneCols, zoneStats) = h.zoneSnapshot
    val out2 = new java.io.ObjectOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(path, "_indexes"), true))
    try {
      out2.writeInt(secs.size)
      secs.zipWithIndex.foreach { case ((c, rangeable, _), i) =>
        out2.writeObject(c); out2.writeBoolean(rangeable)
        out2.writeObject(s"sec_$i")
      }
      out2.writeObject(zoneCols); out2.writeObject(zoneStats)
    } finally out2.close()
  }

  def save(h: Handle[_], path: String): Unit = {
    val rows = graft.IndexedRDDIO.save(
      h.idx.asInstanceOf[graft.IndexedRDD[Any, InternalRow]], path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      org.apache.spark.graftbridge.ConfBridge.broadcast(
        h.idx.sparkContext).value)
    val out = new java.io.ObjectOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(path, "_frame"), true))
    try {
      out.writeObject(h.keyCol); out.writeBoolean(h.ordered)
      out.writeObject(codecTag(h.codec)); out.writeObject(h.schema.json)
    } finally out.close()
    // secondary indexes and zone maps ride along: each inverted index
    // saves under sec_<i>/ with the same one-file-per-partition layout
    // (its radix/hash partition structure and partitioner come back
    // with it), zones are a few driver-side bytes per partition — a
    // reloaded handle serves secondary probes and zone-pruned scans
    // immediately, no O(corpus) rebuild. `_indexes` is optional on
    // read, so pre-existing saves still load.
    writeSavedCount(fs, path, rows)
    saveIndexSidecars(h, path, fs)
  }

  /** Persist a COMPOSITE handle: same one-file-per-partition index
    * layout as the single-key [[save]], with a `_frame` meta tagged
    * "composite" carrying BOTH key columns + per-component codec tags
    * + orderedness. Reload with [[loadComposite]] — point,
    * leading-range, and mixed pushdown all work immediately from the
    * reloaded copy, no rebuild. */
  def save(h: CompositeHandle[_, _], path: String): Unit = {
    val rows = graft.IndexedRDDIO.save(
      h.idx.asInstanceOf[graft.IndexedRDD[Any, InternalRow]], path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      org.apache.spark.graftbridge.ConfBridge.broadcast(
        h.idx.sparkContext).value)
    val out = new java.io.ObjectOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(path, "_frame"), true))
    try {
      out.writeObject(h.keyColA); out.writeBoolean(h.ordered)
      out.writeObject("composite"); out.writeObject(h.schema.json)
      out.writeObject(h.keyColB)
      out.writeObject(codecTag(h.codecA)); out.writeObject(codecTag(h.codecB))
    } finally out.close()
    // secondaries and zones ride along exactly as for single-key saves
    // (both handle kinds share the SecondaryCapable/ZoneMapped traits)
    writeSavedCount(fs, path, rows)
    saveIndexSidecars(h, path, fs)
  }

  /** Persist an N-ARY composite handle: same one-file-per-partition
    * index layout, `_frame` meta tagged "compositeN" carrying the key
    * column LIST + per-component codec tags + orderedness. Reload
    * with [[loadCompositeN]] — point, prefix-range, and top-k claims
    * all work immediately from the reloaded copy, no rebuild. */
  def save(h: CompositeNHandle, path: String): Unit = {
    val rows = graft.IndexedRDDIO.save(
      h.idx.asInstanceOf[graft.IndexedRDD[Any, InternalRow]], path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri,
      org.apache.spark.graftbridge.ConfBridge.broadcast(
        h.idx.sparkContext).value)
    val out = new java.io.ObjectOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(path, "_frame"), true))
    try {
      // same four-field header as every handle kind, tag third — a
      // mismatched loader fails with the clean tag message
      out.writeObject(h.keyCols.head); out.writeBoolean(h.ordered)
      out.writeObject("compositeN"); out.writeObject(h.schema.json)
      out.writeObject(h.keyCols.toList)
      out.writeObject(h.codecs.map(codecTag).toList)
    } finally out.close()
    // secondaries and zones ride along exactly as for the other handle
    // kinds (SecondaryCapable/ZoneMapped are shared traits)
    writeSavedCount(fs, path, rows)
    saveIndexSidecars(h, path, fs)
  }

  /** Reload an N-ary composite handle saved by
    * [[save(h:CompositeNHandle*]]. */
  def loadCompositeN(spark: SparkSession, path: String): CompositeNHandle = {
    val sc = spark.sparkContext
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri, sc.hadoopConfiguration)
    val in = new java.io.ObjectInputStream(fs.open(
      new org.apache.hadoop.fs.Path(path, "_frame")))
    try {
      in.readObject() // leading key column (also first of the list)
      val ordered = in.readBoolean()
      val tag = in.readObject().asInstanceOf[String]
      val schemaJson = in.readObject().asInstanceOf[String]
      require(tag == "compositeN",
        s"not an N-ary composite handle at $path (tag '$tag')")
      val keyCols = in.readObject().asInstanceOf[List[String]]
      val tags = in.readObject().asInstanceOf[List[String]]
      val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      val specs = keyCols.zip(tags).map { case (c, t) =>
        specForTag(schema, c, t).asInstanceOf[KeySpec[Any]]
      }.toIndexedSeq
      implicit val tupSer: KeySerializer[Seq[Any]] =
        new graft.keys.KeySerializer.ConcatNSerializer(specs.map(_.ser))
      val handle = new CompositeNHandle(
        graft.IndexedRDDIO.load[Seq[Any], InternalRow](sc, path).cached,
        keyCols, schema, ordered, specs)
      handle.presetStatsCount = readSavedCount(fs, path)
      // optional sidecar: secondaries + zones re-attach, no rebuild
      val ixPath = new org.apache.hadoop.fs.Path(path, "_indexes")
      if (fs.exists(ixPath)) {
        val in2 = new java.io.ObjectInputStream(fs.open(ixPath))
        try {
          val n = in2.readInt()
          (0 until n).foreach { _ =>
            val c = in2.readObject().asInstanceOf[String]
            val rangeable = in2.readBoolean()
            val sub = in2.readObject().asInstanceOf[String]
            handle.restoreSecondaryFrom(c, rangeable, s"$path/$sub")
          }
          val zoneCols = in2.readObject().asInstanceOf[Set[String]]
          val zoneStats = in2.readObject().asInstanceOf[Map[String, Array[Zone]]]
          handle.restoreZones(zoneCols, zoneStats)
        } finally in2.close()
      }
      handle
    } finally in.close()
  }

  /** Reload a composite handle saved by [[save(h:CompositeHandle*]].
    * The single-key header (four fields) is read and the tag CHECKED
    * before any composite-only field, so pointing this at a single-key
    * save fails with the clean "not a composite handle" message rather
    * than a raw stream error. */
  def loadComposite(spark: SparkSession, path: String): CompositeHandle[_, _] = {
    val sc = spark.sparkContext
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri, sc.hadoopConfiguration)
    val in = new java.io.ObjectInputStream(fs.open(
      new org.apache.hadoop.fs.Path(path, "_frame")))
    try {
      val keyColA = in.readObject().asInstanceOf[String]
      val ordered = in.readBoolean()
      val tag = in.readObject().asInstanceOf[String]
      val schemaJson = in.readObject().asInstanceOf[String]
      require(tag == "composite",
        s"not a composite handle at $path (tag '$tag'); use load")
      val keyColB = in.readObject().asInstanceOf[String]
      val tagA = in.readObject().asInstanceOf[String]
      val tagB = in.readObject().asInstanceOf[String]
      val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      val handle = (specForTag(schema, keyColA, tagA),
          specForTag(schema, keyColB, tagB)) match {
        case (sa: KeySpec[a], sb: KeySpec[b]) =>
          implicit val cta: ClassTag[a] = sa.tag
          implicit val ctb: ClassTag[b] = sb.tag
          implicit val serA: KeySerializer[a] = sa.ser
          implicit val serB: KeySerializer[b] = sb.ser
          implicit val tupSer: KeySerializer[(a, b)] =
            new KeySerializer.ConcatTuple2Serializer[a, b](serA, serB)
          new CompositeHandle[a, b](
            graft.IndexedRDDIO.load[(a, b), InternalRow](sc, path).cached,
            keyColA, keyColB, schema, ordered, sa.codec, sb.codec)
      }
      handle.presetStatsCount = readSavedCount(fs, path)
      // optional sidecar: secondaries + zones re-attach, no rebuild
      val ixPath = new org.apache.hadoop.fs.Path(path, "_indexes")
      if (fs.exists(ixPath)) {
        val in2 = new java.io.ObjectInputStream(fs.open(ixPath))
        try {
          val n = in2.readInt()
          (0 until n).foreach { _ =>
            val c = in2.readObject().asInstanceOf[String]
            val rangeable = in2.readBoolean()
            val sub = in2.readObject().asInstanceOf[String]
            handle.restoreSecondaryFrom(c, rangeable, s"$path/$sub")
          }
          val zoneCols = in2.readObject().asInstanceOf[Set[String]]
          val zoneStats = in2.readObject().asInstanceOf[Map[String, Array[Zone]]]
          handle.restoreZones(zoneCols, zoneStats)
        } finally in2.close()
      }
      handle
    } finally in.close()
  }

  /** Reload a saved handle (see [[save]]); the key type is restored
    * from the saved codec tag. */
  def load(spark: SparkSession, path: String): Handle[_] = {
    val sc = spark.sparkContext
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri, sc.hadoopConfiguration)
    val in = new java.io.ObjectInputStream(fs.open(
      new org.apache.hadoop.fs.Path(path, "_frame")))
    val (keyCol, ordered, tag, schemaJson) =
      try (in.readObject().asInstanceOf[String], in.readBoolean(),
        in.readObject().asInstanceOf[String], in.readObject().asInstanceOf[String])
      finally in.close()
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val handle: Handle[_] = tag match {
      case "long" =>
        val codec = codecFor(schema, keyCol).asInstanceOf[LongCodec]
        new Handle[Long](graft.IndexedRDDIO.load[Long, InternalRow](sc, path).cached,
          keyCol, schema, ordered, codec)
      case "string" if ordered =>
        // ordered string handles are keyed by the LEX serializer; the
        // reloaded handle must probe and range with the same encoding
        new Handle[String](graft.IndexedRDDIO.load[String, InternalRow](
          sc, path)(implicitly[ClassTag[String]],
          KeySerializer.StringLexSerializer, implicitly[ClassTag[InternalRow]]).cached,
          keyCol, schema, ordered, StringCodec)(
          implicitly[ClassTag[String]], KeySerializer.StringLexSerializer)
      case "string" =>
        new Handle[String](graft.IndexedRDDIO.load[String, InternalRow](sc, path).cached,
          keyCol, schema, ordered, StringCodec)
      case "uuid" =>
        new Handle[java.util.UUID](
          graft.IndexedRDDIO.load[java.util.UUID, InternalRow](sc, path).cached,
          keyCol, schema, ordered, UuidCodec)(
          implicitly[ClassTag[java.util.UUID]], KeySerializer.UuidLexSerializer)
      case "bigint" =>
        val codec = codecFor(schema, keyCol).asInstanceOf[BigIntCodec]
        new Handle[BigInt](
          graft.IndexedRDDIO.load[BigInt, InternalRow](sc, path).cached,
          keyCol, schema, ordered, codec)(
          implicitly[ClassTag[BigInt]], KeySerializer.BigIntSerializer)
      case "composite" => throw new IllegalArgumentException(
        s"composite handle at $path: use loadComposite")
    }
    handle.presetStatsCount = readSavedCount(fs, path)
    // re-attach persisted secondary indexes + zone maps, if the save
    // carried them (`_indexes` is optional: older saves load cleanly)
    val ixPath = new org.apache.hadoop.fs.Path(path, "_indexes")
    if (fs.exists(ixPath)) {
      val in2 = new java.io.ObjectInputStream(fs.open(ixPath))
      try {
        val n = in2.readInt()
        (0 until n).foreach { _ =>
          val c = in2.readObject().asInstanceOf[String]
          val rangeable = in2.readBoolean()
          val sub = in2.readObject().asInstanceOf[String]
          handle.restoreSecondaryFrom(c, rangeable, s"$path/$sub")
        }
        val zoneCols = in2.readObject().asInstanceOf[Set[String]]
        val zoneStats = in2.readObject().asInstanceOf[Map[String, Array[Zone]]]
        handle.restoreZones(zoneCols, zoneStats)
      } finally in2.close()
    }
    handle
  }

  private[sql] class IndexedRelation[K](private[sql] val h: Handle[K])(
      @transient override val sqlContext: SQLContext)
      extends BaseRelation with DriverLanes {

    override def schema: StructType = h.schema

    /** Rows out of buildScan are already UnsafeRow — no external
      * conversion layer. */
    override def needConversion: Boolean = false

    /** Handle-exact cardinality to Catalyst: memoized row count ×
      * schema default row width. Without this, a v1 relation reports
      * `defaultSizeInBytes` (effectively infinite) and a small handle
      * in a mixed plan never gets broadcast without a hint; with it,
      * JoinSelection's autoBroadcast threshold sees the true size. The
      * count is the O(partitions) stats job on the immutable snapshot,
      * memoized on the handle — first planning pays it once. */
    override def sizeInBytes: Long = IndexedFrame.relationSize(
      h.statsAll(withExtrema = false)._1, schema)

    /** A literal the codec cannot parse (e.g. a non-UUID string against
      * a uuid handle) equals no stored key — a non-match, not an error. */
    private def parsed(v: Any): Option[K] =
      scala.util.Try(h.codec.fromLiteral(v)).toOption

    private def pointKeys(f: Filter): Option[Set[K]] = f match {
      case EqualTo(h.keyCol, null) => Some(Set.empty) // NULL never matches
      case EqualTo(h.keyCol, v) => Some(parsed(v).toSet)
      // NULL/unparseable elements in an IN list never match — drop them
      case In(h.keyCol, vs) =>
        Some(vs.iterator.filter(_ != null).flatMap(parsed).toSet)
      case _ => None
    }

    /** Range pushdown is sound exactly when the trie's byte order is
      * the column's comparison order: ordered handles whose serializer
      * is order-preserving (integral sign-flip, lex strings, canonical
      * uuids — never the hash-layout length-prefixed encodings). */
    private def rangeCapable: Boolean = h.ordered && h.kSer.isOrderPreserving

    private def kBounds(f: Filter): Option[Iv[K]] =
      boundsOn(h.keyCol, h.codec, eqAsPrefix = false, f)

    override def unhandledFilters(filters: Array[Filter]): Array[Filter] = {
      // range filters are fully handled ONLY on range-capable handles
      // AND when no point filter is pushed alongside them — the point
      // branch of buildScan ignores bounds, so mixed predicates must be
      // re-applied by Spark above the scan. A NORMALIZING codec (uuid)
      // never claims point filters: the probe may return a row whose
      // string form differs from the literal, so Spark must re-check
      // the original predicate; its RANGE claims are already gated to
      // faithful (canonical) literals by KeyCodec.rangeLiteral.
      val anyPoint = filters.exists(f => pointKeys(f).isDefined)
      filters.filter(f => !(h.codec.exactLiterals && pointKeys(f).isDefined) &&
        !(rangeCapable && !anyPoint && kBounds(f).isDefined))
    }

    /** Pushed point filters' key set (AND semantics: intersected across
      * filters); None when no point filter is pushed. */
    private def pointKeySet(filters: Array[Filter]): Option[Array[K]] = {
      val keySets = filters.flatMap(pointKeys)
      if (keySets.isEmpty) None
      else Some(keySets.reduce(_ intersect _).toArray(h.kTag))
    }

    private def keyRanges(filters: Array[Filter]): Array[Iv[K]] =
      if (rangeCapable) filters.flatMap(kBounds) else Array.empty[Iv[K]]

    // lane precedence: primary point keys, then key ranges, then
    // secondary probes (equality/IN on any secondary, ranges on ORDERED
    // secondaries), then the full lanes
    override private[sql] def markDriverLane(filters: Array[Filter]): Boolean =
      pointKeySet(filters) match {
        case Some(keys) => h.markLane("point", keys.length); true
        case None => keyRanges(filters).isEmpty && h.markSecondaryLane(filters)
      }

    override private[sql] def driverRows(
        filters: Array[Filter]): Option[Array[InternalRow]] = {
      h.lastProbeMemoHit = false
      pointKeySet(filters) match {
        case Some(keys) =>
          h.markLane("point", keys.length)
          // PRIMARY point probes memoize like secondary probes (sound:
          // the handle is an immutable snapshot) — a repeated key set,
          // the dashboard shape, skips the pruned probe job and answers
          // driver-side with zero jobs
          val sig = "pk:" + keys.sorted(h.codec.ord).iterator
            .map(k => { val t = String.valueOf(k); s"${t.length}:$t" })
            .mkString(",")
          Some(h.probeMemoGet(sig) match {
            case Some((_, memoRows, _)) =>
              h.lastProbeMemoHit = true
              memoRows
            case None =>
              val hit = h.idx.multiget(keys).values.toArray
              h.probeMemoPut(sig, keys, hit, usedRange = false)
              hit
          })
        case None =>
          if (keyRanges(filters).nonEmpty) None else h.secondaryRows(filters)
      }
    }

    override private[sql] def scanRows(filters: Array[Filter]): RDD[InternalRow] = {
      val ivs = keyRanges(filters)
      if (ivs.nonEmpty) {
        // intersect all pushed bounds into one half-open interval
        val iv = meet(ivs.toSeq, h.codec.ord)
        h.markLane("range", -1)
        if (iv.empty) {
          sqlContext.sparkContext.emptyRDD[InternalRow]
        } else {
          val from = iv.from.getOrElse(h.codec.minKey)
          // unbounded above closes at succ(maxKey) — one O(depth)
          // descent; only a domain-max key lacks a successor and is
          // probed exactly instead (corner rows never duplicate the
          // scan: the corner IS the scan's own inclusive endpoint)
          val (ranges, corners) = iv.to match {
            case Some(t) => (Seq((from, t)), Nil)
            case None => h.idx.maxKey()(h.kSer) match {
              case None => (Nil, Nil) // empty index
              case Some(mk) if h.codec.ord.lt(mk, from) => (Nil, Nil)
              case Some(mk) => h.codec.succ(mk) match {
                case Some(end) => (Seq((from, end)), Nil)
                case None => (Seq((from, mk)), Seq(mk))
              }
            }
          }
          val live = ranges.filter { case (f, t) => h.codec.ord.lt(f, t) }
          val body: RDD[InternalRow] =
            if (live.isEmpty) sqlContext.sparkContext.emptyRDD[InternalRow]
            else h.idx.range(live.head._1, live.head._2)(h.kSer).map(_._2)
          withCorners(body, h.idx.multiget(corners.toArray(h.kTag)).values)
        }
      } else {
        h.lastPointLookupKeys = -1
        // no key predicate (or a secondary probe over budget). Preference
        // order for the full lane: the z-order SORT PROJECTION when one
        // is attached and the pushed filters box its columns (reads only
        // the zb directories whose Morton cell intersects the box — the
        // value-column ZORDER read path), then zone maps (partition
        // skipping on the primary), then the plain scan. Spark re-applies
        // every filter above, so each is a sound superset read.
        IndexedFrame.zProjServe(sqlContext, h.zProjection, h.schema,
            Seq(h.keyCol), filters) match {
          case Some((kept, rdd)) =>
            h.lastScanKind = "full_zproj"
            h.lastZoneKept = kept
            rdd
          case None => h.zoneKeeps(filters) match {
            case Some(keep) =>
              h.lastScanKind = "full_zone"
              h.lastZoneKept = keep.count(identity)
              org.apache.spark.rdd.PartitionPruningRDD.create(
                h.idx.map(_._2), keep(_))
            case None =>
              h.lastScanKind = "full"
              h.idx.map(_._2)
          }
        }
      }
    }
  }
}

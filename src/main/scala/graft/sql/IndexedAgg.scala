package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
  BoundReference, Expression, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count,
  Max, Min, Percentile}
import org.apache.spark.sql.catalyst.expressions.And
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.sources

/**
 * No-scan aggregate STATS through SQL: on an indexed handle,
 * `count(*)` is the O(partitions) sum of per-partition INDEX SIZES
 * (mirroring the reference's O(partitions) `count`, reference
 * IndexedRDD.scala:66-68), and — on an ORDERED handle — `min(key)` /
 * `max(key)` are one O(depth) leftmost/rightmost radix descent per
 * partition. Catalyst's own plan scans every cached row into a
 * partial + final hash aggregate; the index already knows.
 *
 * The strategy claims exactly `Aggregate([], stats, relation)` where
 * every aggregate is count(*), min(key) or max(key) — optionally under
 * attribute-only Projects — and nothing else: any Filter, grouping,
 * distinct, or non-key min/max falls through to the default planner.
 */
object IndexedAgg {

  /** Register the strategy on a session (idempotent). */
  def enable(spark: SparkSession): Unit =
    GraftStrategies.install(spark, Seq(IndexedCountStrategy))

  sealed trait Stat extends Serializable
  case object CountStat extends Stat
  case object MinStat extends Stat
  case object MaxStat extends Stat
  /** `count(DISTINCT col)` answered from index sizes (primary key →
    * the index itself; secondary → the inverted index; composite
    * leading → boundary-adjusted run counts). */
  final case class CountDistinctStat(col: String) extends Stat
  /** EXACT `percentile(key, p)` / `median(key)` answered by rank
    * selection on the ordered layout (no sort, no shuffle, no
    * all-values-to-one-aggregator). `fracs` is the requested fraction
    * list (scalar form = 1 element, array form = several); `specIdx`
    * indexes into the combined percentile thunk's result. */
  final case class PercentileStat(col: String, fracs: Seq[Double],
      specIdx: Int = -1) extends Stat
  /** `sum(col)` / `avg(col)` answered from index structure: the key's
    * memoized key-stream sum, or an ordered secondary's Σ value·weight
    * over the histogram. Integral columns; ANSI (checked arithmetic,
    * overflow errors like Spark's) and TRY (overflow → NULL) modes —
    * LEGACY's silent wraparound is not reproduced and falls through. */
  final case class SumStat(col: String, tryMode: Boolean) extends Stat
  final case class AvgStat(col: String, tryMode: Boolean) extends Stat
  /** `count(col)` (non-null rows) from Σ posting lengths / the index
    * size; `min/max(col)` of an ORDERED secondary from one O(depth)
    * inverted-index descent each. */
  final case class CountColStat(col: String) extends Stat
  final case class SecMinStat(col: String) extends Stat
  final case class SecMaxStat(col: String) extends Stat

  /** One entry of an index-answerable `GROUP BY g` aggregate list. */
  private[sql] sealed trait GKind extends Serializable
  private[sql] case object GGroup extends GKind // the grouping column itself
  private[sql] case object GCount extends GKind // count(1)
  private[sql] case object GMin extends GKind // min(groupStatCol)
  private[sql] case object GMax extends GKind // max(groupStatCol)

  object IndexedCountStrategy extends SparkStrategy {

    /** A bare indexed relation (single-key OR composite) under
      * attribute-only Projects — a Filter anywhere disqualifies (rows
      * would need inspection). */
    private def bareRelation(p: LogicalPlan): Option[IndexedFrame.StatsCapable] = p match {
      case lr: LogicalRelation => lr.relation match {
        case rel: IndexedFrame.IndexedRelation[_] => Some(rel.h)
        case rel: IndexedFrame.CompositeRelation[_, _] => Some(rel.h)
        case rel: IndexedFrame.CompositeNRelation => Some(rel.h)
        case _ => None
      }
      case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
        bareRelation(child)
      case _ => None
    }

    private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      }

    private def fpType(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }

    private def scaledDecimalType(
        dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        d.scale > 0 && d.precision <= 18
      case _ => false
    }

    private def statOf(a: Alias, h: IndexedFrame.StatsCapable): Option[Stat] = a.child match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) => Some(CountStat)
          // count(col) = the non-null row count: index size for the
          // key (never null), Σ posting lengths for a secondary —
          // servability validated at claim time
          case Count(Seq(a: AttributeReference)) =>
            Some(CountColStat(a.name))
          // min/max of exactly the column whose natural order the index
          // serves (ordered single-key handles with an order-preserving
          // serializer — UUID handles included, their extremum converts
          // back to the canonical string; composite handles' LEADING
          // column). An ORDERED SECONDARY column answers from the
          // inverted index instead. Everything else scans.
          case Min(k: AttributeReference)
              if h.statsKeyCol.contains(k.name) => Some(MinStat)
          case Max(k: AttributeReference)
              if h.statsKeyCol.contains(k.name) => Some(MaxStat)
          case Min(k: AttributeReference) => Some(SecMinStat(k.name))
          case Max(k: AttributeReference) => Some(SecMaxStat(k.name))
          // exact percentile/median: `median(c)` reaches the planner
          // as Percentile(c, 0.5) (RuntimeReplaceable). Foldable
          // percentage only (scalar or array literal after constant
          // folding), unit frequency, natural order. Column
          // servability (key rank selection / ordered-secondary
          // histogram) is validated at claim time by percentilesFor.
          // sum/avg of an integral column under ANSI (the structure
          // path uses checked Long arithmetic, so overflow errors just
          // like Spark's) or TRY (overflow → NULL). LEGACY's silent
          // wraparound is not reproduced: falls through to the scan.
          // Column servability is validated at claim time.
          // fp columns claim in ANY eval mode — double/float sums have
          // no overflow semantics for the modes to differ on. SCALED
          // decimals (p <= 18) claim like integrals: the histogram
          // folds unscaled longs exactly and re-wraps the scale.
          case su: org.apache.spark.sql.catalyst.expressions.aggregate.Sum
              if su.child.isInstanceOf[AttributeReference] &&
                (fpType(su.child.dataType) ||
                  ((integralType(su.child.dataType) ||
                      scaledDecimalType(su.child.dataType)) &&
                    su.evalContext.evalMode != org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)) =>
            Some(SumStat(su.child.asInstanceOf[AttributeReference].name,
              su.evalContext.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
          case av: org.apache.spark.sql.catalyst.expressions.aggregate.Average
              if av.child.isInstanceOf[AttributeReference] &&
                (fpType(av.child.dataType) ||
                  (integralType(av.child.dataType) &&
                    av.evalMode != org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)) =>
            Some(AvgStat(av.child.asInstanceOf[AttributeReference].name,
              av.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
          case p: Percentile
              if p.child.isInstanceOf[AttributeReference] &&
                !p.reverse && p.frequencyExpression.foldable &&
                p.percentageExpression.foldable &&
                (p.frequencyExpression.eval() match {
                  case 1L | 1 => true; case _ => false
                }) =>
            val col = p.child.asInstanceOf[AttributeReference].name
            p.percentageExpression.eval() match {
              case d: Double => Some(PercentileStat(col, Seq(d)))
              case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
                scala.util.Try(ad.toDoubleArray.toSeq).toOption
                  .map(PercentileStat(col, _))
              case _ => None
            }
          case _ => None
        }
      // count(DISTINCT <full primary key>) == count(*) (keys unique,
      // never null); a single other column defers to countDistinctFor
      // (validated at claim time — secondary/leading structure only)
      case ae: AggregateExpression if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(children)
              if children.forall(_.isInstanceOf[AttributeReference]) =>
            val cols = children.map(_.asInstanceOf[AttributeReference].name)
            if (h.colsAreFullKey(cols)) Some(CountStat)
            else if (cols.length == 1) Some(CountDistinctStat(cols.head))
            else None
          case _ => None
        }
      case _ => None
    }

    /** A key-filtered indexed relation under attribute-only Projects:
      * the Filter's conjuncts, each translated to a datasource filter
      * (so the interval algebra is EXACTLY the scan path's), plus the
      * handle. Untranslatable conjuncts disqualify. */
    private def filteredRelation(
        p: LogicalPlan): Option[(Seq[sources.Filter], IndexedFrame.StatsCapable)] =
      p match {
        case logical.Filter(cond, child) =>
          bareRelation(child).flatMap { h =>
            def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
                : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
              e match {
                case And(l, r) => conjuncts(l) ++ conjuncts(r)
                case other => Seq(other)
              }
            val translated = conjuncts(cond).map(ExpressionBridge.translateFilter)
            if (translated.forall(_.isDefined))
              Some((translated.map(_.get), h))
            else None
          }
        case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
          filteredRelation(child)
        case _ => None
      }

    /** The shape `PullOutGroupingExpressions` leaves for a COMPLEX
      * grouping expression — `Aggregate [_groupingexpression], …,
      * Project [f(col) AS _groupingexpression]` — when `f` is a
      * deterministic non-aggregate expression of exactly ONE column:
      * yields (f, the plan under the Project). Attribute passthroughs
      * beside the alias are fine; anything else disqualifies. */
    private def pulledGrouping(p: LogicalPlan, ga: AttributeReference)
        : Option[(Expression, LogicalPlan)] = p match {
      case Project(projs, inner) =>
        projs.filter(!_.isInstanceOf[Attribute]) match {
          case Seq(al: Alias) if al.exprId == ga.exprId &&
              !al.child.isInstanceOf[Attribute] && al.child.deterministic &&
              al.child.references.size == 1 &&
              !al.child.exists(_.isInstanceOf[AggregateExpression]) &&
              // plan expressions (scalar subqueries etc.) pass the
              // three gates above but the LOGICAL form cannot eval in
              // the interpreted bucketFactory — reject so the default
              // planner (which rewrites them) keeps the query
              !al.child.exists(_.isInstanceOf[
                org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) =>
            Some((al.child, inner))
          case _ => None
        }
      case _ => None
    }

    /** Classify one aggregate-list entry: the grouping column itself,
      * `count(1)`, or min/max of the one column whose per-group extrema
      * the handle's structure answers ([[IndexedFrame.StatsCapable
      * .groupStatCol]]); None disqualifies. */
    private def groupedKind(e: org.apache.spark.sql.catalyst.expressions.NamedExpression,
        ga: AttributeReference, h: IndexedFrame.StatsCapable): Option[GKind] = e match {
      case a: AttributeReference if a.exprId == ga.exprId => Some(GGroup)
      case al: Alias => al.child match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Count(Seq(Literal(1, _))) => Some(GCount)
            case Min(c: AttributeReference)
                if h.groupStatCol(ga.name).contains(c.name) => Some(GMin)
            case Max(c: AttributeReference)
                if h.groupStatCol(ga.name).contains(c.name) => Some(GMax)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

    /** Claim `WHERE secCol = v [AND secCol IS NOT NULL]` — or `secCol
      * IN (v1, ..)` — + a stats list drawn from {sum/avg/count/min/max
      * (aggCol), count(*)} over ONE aggCol: plans
      * [[IndexedFilteredAggExec]] against the handle's grouped
      * filtered-agg memo, or None to fall through. IN-list probes
      * look every value up and combine driver-side. */
    private def filteredAggClaim(fs: Seq[sources.Filter],
        h: IndexedFrame.StatsCapable,
        aggs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        : Option[SparkPlan] = {
      val preds = fs.collect {
        case sources.EqualTo(c, v) => (c, Seq(v))
        case sources.In(c, vs) => (c, vs.toSeq.filter(_ != null))
      }
      val secIn = preds match {
        case Seq((c, vs)) if fs.forall {
            case sources.EqualTo(_, _) | sources.In(_, _) => true
            case sources.IsNotNull(cc) => cc == c
            case _ => false
          } => Some((c, vs))
        case _ => None
      }
      secIn.flatMap { case (sc, vs) =>
        val stats = aggs.map(a => statOf(a.asInstanceOf[Alias], h))
        if (stats.exists(_.isEmpty)) None
        else {
          val ss = stats.map(_.get)
          val aggCols = ss.collect {
            case SumStat(c, _) => c
            case AvgStat(c, _) => c
            case CountColStat(c) => c
            case SecMinStat(c) => c
            case SecMaxStat(c) => c
          }.distinct
          val shapeOk = ss.forall {
            case SumStat(_, _) | AvgStat(_, _) | CountColStat(_) | CountStat |
                 SecMinStat(_) | SecMaxStat(_) => true
            case _ => false
          }
          if (!shapeOk || aggCols.length != 1 || aggCols.head == sc) None
          else h.filteredAggFor(sc, aggCols.head).map { lookup =>
            IndexedFilteredAggExec(aggs.map(_.toAttribute), h, ss,
              () => IndexedFrame.combineGroupAggs(vs.flatMap(lookup)))
          }
        }
      }
    }

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      // GROUP BY one column, result exprs drawn from {that column,
      // count(1)}: answered from index structure when the handle can —
      // composite leading-column key runs, or secondary posting lengths
      // under a null-excluding bound (see groupCountsFor)
      case Aggregate(Seq(ga: AttributeReference), aggs, child, _)
          if aggs.nonEmpty && aggs.length <= 4 && pulledGrouping(child, ga).isDefined =>
        // GROUP BY f(key) for an arbitrary deterministic expression of
        // the key alone (`date_trunc('day', ts)`, `key % n`, casts):
        // bucket counts off the KEY stream — data rows never read,
        // only (bucket, count) pairs exchange. Correctness never
        // depends on f's monotonicity; an ordered layout just makes
        // the per-partition fold O(runs). f is evaluated by CATALYST'S
        // OWN interpreter bound to the key slot, so semantics
        // (timezones, overflow, null-in null-out) match the scan plan
        // exactly.
        val (g, inner) = pulledGrouping(child, ga).get
        val relOpt0: Option[(Seq[sources.Filter], IndexedFrame.StatsCapable)] =
          bareRelation(inner).map(h => (Nil: Seq[sources.Filter], h))
            .orElse(filteredRelation(inner))
        relOpt0.flatMap { case (fs, h) =>
          val keyAttr = g.references.head
          // min/max must be of THE KEY COLUMN f groups over — the
          // per-bucket key extrema ride the same stream for free
          // (daily first/last-event summaries)
          val kinds: Seq[Option[GKind]] = aggs.map {
            case a: AttributeReference if a.exprId == ga.exprId => Some(GGroup)
            case al: Alias => al.child match {
              case a: AttributeReference if a.exprId == ga.exprId => Some(GGroup)
              case ae: AggregateExpression
                  if !ae.isDistinct && ae.filter.isEmpty =>
                ae.aggregateFunction match {
                  case Count(Seq(Literal(1, _))) => Some(GCount)
                  case Min(c: AttributeReference)
                      if c.exprId == keyAttr.exprId => Some(GMin)
                  case Max(c: AttributeReference)
                      if c.exprId == keyAttr.exprId => Some(GMax)
                  case _ => None
                }
              case _ => None
            }
            case _ => None
          }
          if (kinds.exists(_.isEmpty)) None
          else {
            val ks = kinds.map(_.get)
            val bound = g.transform {
              case _: AttributeReference =>
                BoundReference(0, keyAttr.dataType, nullable = false)
            }
            val factory: () => Any => Any = () => {
              val row = new GenericInternalRow(1)
              (k: Any) => { row.update(0, k); bound.eval(row) }
            }
            val wantExtrema = ks.exists(k => k == GMin || k == GMax)
            h.exprGroupStatsFor(keyAttr.name, factory, fs, wantExtrema)
              .map { t =>
                if (wantExtrema)
                  IndexedGroupStatsExec(aggs.map(_.toAttribute), ks, h, t)
                    : SparkPlan
                else
                  IndexedGroupCountExec(aggs.map(_.toAttribute),
                    ks.map(_ == GGroup), h,
                    () => t().map { case (b, c, _, _) => (b, c) }): SparkPlan
              }
          }
        }.map(_ :: Nil).getOrElse(Nil)
      case Aggregate(Seq(ga: AttributeReference), aggs, child, _)
          if aggs.nonEmpty && aggs.length <= 4 =>
        val relOpt: Option[(Seq[sources.Filter], IndexedFrame.StatsCapable)] =
          bareRelation(child).map(h => (Nil: Seq[sources.Filter], h))
            .orElse(filteredRelation(child))
        relOpt.flatMap { case (fs, h) =>
          val kinds = aggs.map(groupedKind(_, ga, h))
          if (kinds.exists(_.isEmpty)) None
          else {
            val ks = kinds.map(_.get)
            val out = aggs.map(_.toAttribute)
            if (ks == Seq(GGroup))
              // pure DISTINCT: unique-by-structure enumeration first
              // (no aggregate, no exchange), grouped counts as the
              // fallback shape (secondary postings under a
              // null-excluding bound)
              h.distinctValuesFor(ga.name, fs)
                .map(t => IndexedDistinctExec(out, h, t): SparkPlan)
                .orElse(h.groupCountsFor(ga.name, fs).map(t =>
                  IndexedGroupCountExec(out, ks.map(_ == GGroup), h, t)))
            else if (ks.exists(k => k == GMin || k == GMax))
              h.groupStatsFor(ga.name, fs).map(t =>
                IndexedGroupStatsExec(out, ks, h, t): SparkPlan)
            else
              h.groupCountsFor(ga.name, fs).map(t =>
                IndexedGroupCountExec(out, ks.map(_ == GGroup), h, t): SparkPlan)
          }
        }.map(_ :: Nil).getOrElse(Nil)
      // `.distinct().count()` arrives as count(*) OVER a
      // single-column distinct aggregate: when that column's distinct
      // cardinality is index-answerable (primary key / secondary /
      // composite leading), the whole tree is one memoized number —
      // zero jobs on repeats, instead of enumerate + two-phase count
      case Aggregate(Nil, Seq(al: Alias),
          Aggregate(Seq(ga: AttributeReference), innerAggs, child, _), _)
          if (innerAggs.isEmpty || (innerAggs.length == 1 &&
            innerAggs.head.toAttribute.exprId == ga.exprId)) &&
            (al.child match {
              case ae: AggregateExpression
                  if !ae.isDistinct && ae.filter.isEmpty =>
                ae.aggregateFunction match {
                  case Count(Seq(Literal(1, _))) => true
                  case Count(Seq(a: AttributeReference)) =>
                    // count(col) over the distinct col: the distinct
                    // set has no null iff the structure excludes nulls
                    // (keys never null; inverted indexes drop nulls) —
                    // BUT a secondary's distinct set from the DEFAULT
                    // planner may contain a NULL row that count(col)
                    // would skip while count(*) counts. Only claim
                    // count(*): reject count(col) here.
                    false
                  case _ => false
                }
              case _ => false
            }) =>
        bareRelation(child) match {
          case Some(h) =>
            // count(*) over DISTINCT col == count(DISTINCT col) only
            // when col can hold no NULL row in the distinct set — true
            // for the structures countDistinctFor serves EXCEPT
            // nullable secondaries (their distinct set owes a NULL
            // row that the inverted index drops). Gate on either the
            // full key or a non-nullable column.
            val colOk = h.colsAreFullKey(Seq(ga.name)) || !ga.nullable
            if (!colOk) Nil
            else h.countDistinctFor(ga.name).map { thunk =>
              IndexedStatsExec(Seq(al.toAttribute), h,
                Seq(CountDistinctStat(ga.name)), Seq(thunk)) :: Nil
            }.getOrElse(Nil)
          case None => Nil
        }
      case Aggregate(Nil, aggs, child, _) if aggs.nonEmpty &&
          aggs.forall(_.isInstanceOf[Alias]) =>
        bareRelation(child) match {
          case Some(h) =>
            val stats = aggs.map(a => statOf(a.asInstanceOf[Alias], h))
            if (stats.forall(_.isDefined)) {
              // number the percentile stats into the combined thunk's
              // result positions (one handle call serves them all)
              var pi = -1
              val ss = stats.map(_.get).map {
                case PercentileStat(c, fr, _) =>
                  pi += 1; PercentileStat(c, fr, pi)
                case s => s
              }
              val specs = ss.collect { case PercentileStat(c, fr, _) => (c, fr) }
              // each count-distinct stat must resolve to an
              // index-structure thunk; a column with no distinct
              // structure (plain value column) falls through whole
              val cd = ss.map {
                case CountDistinctStat(c) => h.countDistinctFor(c)
                case _ => Some(() => 0L) // unused placeholder
              }
              // sum/avg thunks resolve against the key or an ordered
              // secondary's histogram; unservable columns fall through
              val sa: Seq[Option[() => Option[(Any, Long)]]] = ss.map {
                case SumStat(c, _) => h.sumCountFor(c)
                case AvgStat(c, _) => h.sumCountFor(c)
                case _ => Some(() => None) // unused placeholder
              }
              val nn: Seq[Option[() => Long]] = ss.map {
                case CountColStat(c) => h.nonNullCountFor(c)
                case _ => Some(() => 0L) // unused placeholder
              }
              val se: Seq[Option[() => (Option[Any], Option[Any])]] = ss.map {
                case SecMinStat(c) => h.secondaryExtremaFor(c)
                case SecMaxStat(c) => h.secondaryExtremaFor(c)
                case _ => Some(() => (None, None)) // unused placeholder
              }
              // percentile stats need the handle to claim the whole
              // spec list (ordered + integral key); otherwise the
              // query falls through whole
              val pct: Option[Option[() => Seq[Option[Seq[Double]]]]] =
                if (specs.isEmpty) Some(None)
                else h.percentilesFor(specs).map(Some(_))
              pct match {
                case Some(pt) if cd.forall(_.isDefined) &&
                    sa.forall(_.isDefined) && nn.forall(_.isDefined) &&
                    se.forall(_.isDefined) =>
                  IndexedStatsExec(aggs.map(_.toAttribute), h, ss,
                    cd.map(_.get), pt, sa.map(_.get), nn.map(_.get),
                    se.map(_.get)) :: Nil
                case _ => Nil
              }
            } else Nil
          case None =>
            // count(*)/min(key)/max(key) over a KEY-RANGE filter:
            // count from pruned radix range descents, extrema from
            // BOUNDED first/last-in-range descents — values never read
            filteredRelation(child) match {
              case Some((fs, h)) =>
                // FIRST: `WHERE secCol = v` + sum/avg/count(aggCol)
                // from the grouped filtered-agg memo — one fold job per
                // (secCol, aggCol) snapshot pair, then every probe for
                // ANY value answers driver-side with zero jobs (the
                // repeated-dashboard shape)
                filteredAggClaim(fs, h, aggs) match {
                  case Some(p) => return p :: Nil
                  case None =>
                }
                val stats = aggs.map(a => statOf(a.asInstanceOf[Alias], h))
                if (stats.forall(_.isDefined) &&
                    // filtered count(DISTINCT …) / percentile need
                    // row/rank inspection inside the interval
                    !stats.exists(s => s.get.isInstanceOf[CountDistinctStat] ||
                      s.get.isInstanceOf[PercentileStat] ||
                      s.get.isInstanceOf[SumStat] ||
                      s.get.isInstanceOf[AvgStat] ||
                      s.get.isInstanceOf[CountColStat] ||
                      s.get.isInstanceOf[SecMinStat] ||
                      s.get.isInstanceOf[SecMaxStat])) {
                  val ss = stats.map(_.get)
                  val countThunk =
                    if (ss.contains(CountStat)) h.rangeCountFor(fs)
                    else Some(() => 0L)
                  val extremaThunk =
                    if (ss.exists(s => s == MinStat || s == MaxStat))
                      h.rangeExtremaFor(fs)
                    else Some(() => (None, None): (Option[Any], Option[Any]))
                  (countThunk, extremaThunk) match {
                    case (Some(ct), Some(et)) =>
                      IndexedRangeStatsExec(aggs.map(_.toAttribute), h,
                        ss, ct, et) :: Nil
                    case _ => Nil
                  }
                } else Nil
              case _ => Nil
            }
        }
      case _ => Nil
    }
  }

  /** One row of index-answered stats: count = Σ partition sizes
    * (partition objects only, O(1) each); min/max key = one O(depth)
    * radix descent per partition, combined on the driver. Extrema
    * arrive in the column's EXTERNAL Scala form (the handle's codec
    * already inverted any key normalization — UUID → canonical string,
    * Int/Short keys narrowed back from Long) and convert to catalyst
    * through the output attribute's own type. */
  case class IndexedStatsExec(output: Seq[Attribute],
      h: IndexedFrame.StatsCapable, stats: Seq[Stat],
      cdThunks: Seq[() => Long] = Nil,
      pctThunk: Option[() => Seq[Option[Seq[Double]]]] = None,
      saThunks: Seq[() => Option[(Any, Long)]] = Nil,
      nnThunks: Seq[() => Long] = Nil,
      seThunks: Seq[() => (Option[Any], Option[Any])] = Nil)
      extends LeafExecNode {

    private def rowValues(): Seq[Any] = {
      h.markStats()
      // ONE job answers every requested stat (4 jobs/query measured 2x
      // the whole micro's latency when issued separately); the base
      // (count, extrema) job is skipped entirely when only
      // count-distinct stats were requested
      lazy val baseStats =
        h.statsAll(stats.exists(s => s == MinStat || s == MaxStat))
      // all percentile stats share ONE thunk call (and its memos);
      // a per-spec None = no rows for that column = SQL NULL
      lazy val pctVals: Seq[Option[Seq[Double]]] =
        pctThunk.map(_()).getOrElse(Nil)
      stats.zipWithIndex.map {
        case (CountStat, _) => baseStats._1
        case (MinStat, i) =>
          baseStats._2.map(CatalystTypeConverters
            .createToCatalystConverter(output(i).dataType)).orNull
        case (MaxStat, i) =>
          baseStats._3.map(CatalystTypeConverters
            .createToCatalystConverter(output(i).dataType)).orNull
        case (CountDistinctStat(_), i) => cdThunks(i)()
        case (CountColStat(_), i) => nnThunks(i)()
        case (SecMinStat(_), i) =>
          seThunks(i)()._1.map(CatalystTypeConverters
            .createToCatalystConverter(output(i).dataType)).orNull
        case (SecMaxStat(_), i) =>
          seThunks(i)()._2.map(CatalystTypeConverters
            .createToCatalystConverter(output(i).dataType)).orNull
        // TRY mode: overflow in the checked structure arithmetic
        // surfaces as NULL, matching try_sum/try_avg; ANSI lets the
        // ArithmeticException fail the query like Spark's own plan
        case (SumStat(_, tryM), i) =>
          try saThunks(i)().map(t => t._1: Any).orNull
          catch { case _: ArithmeticException if tryM => null }
        case (AvgStat(_, tryM), i) =>
          try saThunks(i)().map { t =>
            val s = t._1 match {
              case l: java.lang.Long => l.toDouble
              case d: java.lang.Double => d.doubleValue
              case other => other.asInstanceOf[Number].doubleValue
            }
            java.lang.Double.valueOf(s / t._2): Any
          }.orNull
          catch { case _: ArithmeticException if tryM => null }
        case (PercentileStat(_, _, j), i) =>
          pctVals(j).map { vs =>
            output(i).dataType match {
              case org.apache.spark.sql.types.DoubleType =>
                java.lang.Double.valueOf(vs.head): Any
              case at =>
                CatalystTypeConverters.createToCatalystConverter(at)(vs)
            }
          }.orNull
      }
    }

    /** The stats come from driver-side memos (warm after the first
      * query on the snapshot), so `.collect()`/`.show()` skip the
      * one-row job entirely — repeated dashboard polls never launch a
      * Spark job at all. */
    override def executeCollect(): Array[InternalRow] = {
      val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
      Array(proj(new GenericInternalRow(rowValues().toArray)).copy())
    }
    override def executeTake(n: Int): Array[InternalRow] =
      if (n <= 0) Array.empty else executeCollect()

    override protected def doExecute(): RDD[InternalRow] = {
      val values = rowValues()
      val types = output.map(_.dataType)
      sparkContext.parallelize(Seq(values), 1).mapPartitions { it =>
        val proj = UnsafeProjection.create(types.toArray)
        it.map(vs => proj(new GenericInternalRow(vs.toArray)): InternalRow)
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedStats ${stats.mkString("[", ", ", "]")} [no-scan: index sizes + O(depth) key descents]"
  }

  /** `count(*)` / `min(key)` / `max(key)` over a pushed key interval:
    * counts from per-partition radix range descents, extrema from
    * BOUNDED first/last-in-range descents (both partition-pruned under
    * a range partitioner) — no value is ever read or shipped. */
  case class IndexedRangeStatsExec(output: Seq[Attribute],
      h: IndexedFrame.StatsCapable, stats: Seq[Stat],
      countThunk: () => Long,
      extremaThunk: () => (Option[Any], Option[Any])) extends LeafExecNode {

    private def rowValues(): Seq[Any] = {
      h.markRangeCount()
      lazy val n = countThunk()
      lazy val (mn, mx) = extremaThunk()
      stats.zip(output).map {
        case (CountStat, _) => n
        case (MinStat, a) =>
          mn.map(CatalystTypeConverters.createToCatalystConverter(a.dataType)).orNull
        case (MaxStat, a) =>
          mx.map(CatalystTypeConverters.createToCatalystConverter(a.dataType)).orNull
        case (s, _) => // CountDistinct/Percentile never plan filtered
          throw new IllegalStateException(s"$s under a filter")
      }
    }

    /** Range counts memoize on the immutable snapshot, so repeated
      * `.collect()`s answer driver-side with no job. */
    override def executeCollect(): Array[InternalRow] = {
      val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
      Array(proj(new GenericInternalRow(rowValues().toArray)).copy())
    }
    override def executeTake(n: Int): Array[InternalRow] =
      if (n <= 0) Array.empty else executeCollect()

    override protected def doExecute(): RDD[InternalRow] = {
      val values = rowValues()
      val types = output.map(_.dataType)
      sparkContext.parallelize(Seq(values), 1).mapPartitions { it =>
        val proj = UnsafeProjection.create(types.toArray)
        it.map(vs => proj(new GenericInternalRow(vs.toArray)): InternalRow)
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedRangeStats ${stats.mkString("[", ", ", "]")} " +
        "[no-value-scan: pruned + bounded radix descents]"
  }

  /** `WHERE secCol = v` + sum/avg/count aggregates answered from the
    * handle's grouped filtered-agg memo: the first probe of a
    * (secCol, aggCol) pair pays one fold job over the primary rows,
    * every probe after that (for ANY value of secCol) is a driver-side
    * map lookup — zero jobs, zero scans. Missing value = SQL over an
    * empty set: sums/avgs NULL, counts 0. Integral overflow surfaces
    * as ANSI's ArithmeticException or TRY's NULL via the fold's sticky
    * marker. */
  case class IndexedFilteredAggExec(output: Seq[Attribute],
      h: IndexedFrame.StatsCapable, stats: Seq[Stat],
      lookup: () => Option[IndexedFrame.GroupAgg]) extends LeafExecNode {

    private def rowValues(): Seq[Any] = {
      h.markStats()
      val res = lookup()
      def sumOf(tryM: Boolean): Option[Any] = res.flatMap { r =>
        if (r.nonNull == 0) None
        else r.sum match {
          case IndexedFrame.GroupFoldOverflow =>
            if (tryM) None else throw new ArithmeticException("long overflow")
          case other => Some(other)
        }
      }
      // raw fold extrema (Long/Double) back in the OUTPUT column's type
      def emitVal(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
        (v, dt) match {
          case (l: java.lang.Long, org.apache.spark.sql.types.LongType) => l
          case (l: java.lang.Long, org.apache.spark.sql.types.IntegerType) => l.toInt
          case (l: java.lang.Long, org.apache.spark.sql.types.ShortType) => l.toShort
          case (l: java.lang.Long, org.apache.spark.sql.types.ByteType) => l.toByte
          case (d: java.lang.Double, org.apache.spark.sql.types.DoubleType) => d
          case (d: java.lang.Double, org.apache.spark.sql.types.FloatType) =>
            java.lang.Float.valueOf(d.floatValue)
          case (other, t) =>
            throw new IllegalStateException(s"extremum $other as $t")
        }
      stats.zipWithIndex.map {
        case (CountStat, _) => res.map(_.rows).getOrElse(0L)
        case (CountColStat(_), _) => res.map(_.nonNull).getOrElse(0L)
        case (SumStat(_, tryM), _) => sumOf(tryM).orNull
        case (AvgStat(_, tryM), _) =>
          sumOf(tryM).map { s =>
            val d = s match {
              case l: java.lang.Long => l.toDouble
              case d0: java.lang.Double => d0.doubleValue
              case other => other.asInstanceOf[Number].doubleValue
            }
            java.lang.Double.valueOf(d / res.get.nonNull)
          }.orNull
        case (SecMinStat(_), i) =>
          res.flatMap(_.min).map(emitVal(_, output(i).dataType)).orNull
        case (SecMaxStat(_), i) =>
          res.flatMap(_.max).map(emitVal(_, output(i).dataType)).orNull
        case (s, _) => throw new IllegalStateException(s"$s in filtered agg")
      }
    }

    /** Driver-memoized: repeated probes never launch a job. */
    override def executeCollect(): Array[InternalRow] = {
      val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
      Array(proj(new GenericInternalRow(rowValues().toArray)).copy())
    }
    override def executeTake(n: Int): Array[InternalRow] =
      if (n <= 0) Array.empty else executeCollect()

    override protected def doExecute(): RDD[InternalRow] = {
      val values = rowValues()
      val types = output.map(_.dataType)
      sparkContext.parallelize(Seq(values), 1).mapPartitions { it =>
        val proj = UnsafeProjection.create(types.toArray)
        it.map(vs => proj(new GenericInternalRow(vs.toArray)): InternalRow)
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedFilteredAgg ${stats.mkString("[", ", ", "]")} " +
        "[grouped memo: one fold job per snapshot, then zero jobs]"
  }

  /** `GROUP BY col COUNT(*)` answered from index structure: the
    * handle's (group, count) RDD — composite leading-column key runs,
    * or secondary posting lengths — projected into the aggregate's
    * output shape. DISTRIBUTED output (one row per group, spread over
    * the upstream partitions): nothing collects to the driver, and no
    * data-row exchange happens anywhere — only (group, count) pairs
    * ever move. */
  case class IndexedGroupCountExec(output: Seq[Attribute],
      isGroupCol: Seq[Boolean], h: IndexedFrame.StatsCapable,
      thunk: () => RDD[(Any, Long)]) extends LeafExecNode {

    override protected def doExecute(): RDD[InternalRow] = {
      h.markStats()
      val flags = isGroupCol.toArray
      val types = output.map(_.dataType).toArray
      thunk().mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        val row = new GenericInternalRow(flags.length)
        it.map { case (g, c) =>
          var i = 0
          while (i < flags.length) {
            row.update(i, if (flags(i)) g else c)
            i += 1
          }
          proj(row): InternalRow
        }
      }
    }

    override def simpleString(maxFields: Int): String =
      "IndexedGroupCount [index-structure counts: key runs / posting " +
        "lengths — no data-row exchange]"
  }

  /** `SELECT DISTINCT col` answered by structural uniqueness: primary
    * keys (and range-partitioned leading columns after boundary
    * dedup) are emitted straight off the index — NO aggregate operator
    * and NO exchange anywhere in the plan, values never deserialized. */
  case class IndexedDistinctExec(output: Seq[Attribute],
      h: IndexedFrame.StatsCapable,
      thunk: () => RDD[Any]) extends LeafExecNode {

    override protected def doExecute(): RDD[InternalRow] = {
      h.markStats()
      val types = output.map(_.dataType).toArray
      thunk().mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        val row = new GenericInternalRow(1)
        it.map { v =>
          row.update(0, v)
          proj(row): InternalRow
        }
      }
    }

    override def simpleString(maxFields: Int): String =
      "IndexedDistinct [structurally-unique key enumeration — no " +
        "aggregate, no exchange]"
  }

  /** `GROUP BY g → count(*), min(s), max(s)` from index structure:
    * composite key runs (s = the second key column) or secondary
    * posting arrays (s = the primary key). Data rows are never read —
    * only (group, count, min, max) tuples move. */
  case class IndexedGroupStatsExec(output: Seq[Attribute],
      kinds: Seq[GKind], h: IndexedFrame.StatsCapable,
      thunk: () => RDD[(Any, Long, Any, Any)]) extends LeafExecNode {

    override protected def doExecute(): RDD[InternalRow] = {
      h.markStats()
      val ks = kinds.toArray
      val types = output.map(_.dataType).toArray
      thunk().mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        val row = new GenericInternalRow(ks.length)
        it.map { case (g, c, mn, mx) =>
          var i = 0
          while (i < ks.length) {
            row.update(i, ks(i) match {
              case GGroup => g
              case GCount => c
              case GMin => mn
              case GMax => mx
            })
            i += 1
          }
          proj(row): InternalRow
        }
      }
    }

    override def simpleString(maxFields: Int): String =
      "IndexedGroupStats [per-group count/min/max from key runs / " +
        "posting arrays — no data rows read]"
  }
}

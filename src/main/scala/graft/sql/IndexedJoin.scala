package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference,
  AttributeSet, BindReferences, EqualTo, Expression, GenericInternalRow,
  GreaterThan, GreaterThanOrEqual, IsNotNull, JoinedRow, LessThan,
  LessThanOrEqual, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter,
  LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, ShuffleSpec, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.IndexedRDD

/**
 * SQL-visible INDEXED JOIN: a planner strategy that routes an inner
 * equi-join on the key columns of two [[IndexedFrame]] relations into
 * the engine's zip join — co-partitioned handles join with ZERO
 * shuffle and no hash-build phase (the per-partition indexes ARE the
 * build side); mismatched handles shuffle only the right side.
 *
 * Catalyst cannot do this itself: a cached/in-memory relation exposes
 * no partitioner to SQL, so the default plan is scan + Exchange both
 * sides + sort-merge or hash join. This is the reference engine's
 * signature capability (index-aware joins, reference
 * IndexedRDD.scala:277-283) surfaced through public planner API
 * (`ExperimentalMethods.extraStrategies` — no session-restart or
 * extensions config needed).
 *
 * Conjunctive conditions are supported: the key equality plans as the
 * zip join and the remaining conjuncts run as a filter directly above
 * it. LEFT / RIGHT / FULL OUTER joins on the bare key equality plan
 * the same way (unmatched kept rows null-extend in the stream; right
 * outer scans the kept side with the handles swapped). The exec node
 * reports its key-clustered [[Partitioning]] where a side is never
 * null-extended, so a parent aggregation on the join key runs WITHOUT
 * another exchange. If a lifted filter constrains a key column the
 * strategy bails — the default planner's pruned point/range index
 * scan beats any full zip join.
 */
object IndexedJoin {

  /** Register the strategy on a session (idempotent). */
  def enable(spark: SparkSession): Unit =
    GraftStrategies.install(spark, Seq(IndexedJoinStrategy))

  object IndexedJoinStrategy extends SparkStrategy {

    /** Accept an indexed relation under any stack of attribute-only
      * Projects and Filters (what column pruning and predicate pushdown
      * leave below an inner join — including the optimizer's inferred
      * `isnotnull(key)` filters). Collected filter conditions are
      * re-applied ABOVE the zip join, which is equivalent for an inner
      * join and lets the single-pass index scan serve the data. */
    private def unwrap(p: LogicalPlan): Option[(Seq[Attribute], Seq[Attribute],
        Seq[Expression], IndexedFrame.JoinableHandle)] = p match {
      case lr: LogicalRelation => lr.relation match {
        case rel: IndexedFrame.IndexedRelation[_] =>
          Some((lr.output, lr.output, Nil, rel.h))
        case rel: IndexedFrame.CompositeNRelation =>
          Some((lr.output, lr.output, Nil, rel.h))
        case _ => None
      }
      case Project(projs, child) if projs.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child).map { case (_, all, conds, h) =>
          (projs.map(_.asInstanceOf[AttributeReference]), all, conds, h)
        }
      case logical.Filter(cond, child) =>
        // SPLIT into conjuncts here: the optimizer emits composite-key
        // null guards as ONE `isnotnull(a) AND isnotnull(b)` filter,
        // and the vacuous-IsNotNull drop below matches per-conjunct —
        // an unsplit And used to read as a key-constraining residual
        // and silently bailed every composite zip join over nullable
        // (e.g. parquet-backed) sources to a shuffle join
        unwrap(child).map { case (out, all, conds, h) =>
          (out, all, conds ++ conjuncts(cond), h)
        }
      case _ => None
    }

    private def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }

    /** Assemble zip join + lifted filter + restoring project. `wanted`
      * is the Join node's expected output (original left-then-right
      * order); the physical join emits the projected columns plus
      * whatever the lifted filters reference, in scan-then-probe
      * order — a Project on top restores the exact expected output
      * when they differ. */
    private def build(kind: ZipJoinKind,
        scanAll: Seq[Attribute], scanH: IndexedFrame.JoinableHandle,
        probeAll: Seq[Attribute], probeH: IndexedFrame.JoinableHandle,
        conds: Seq[Expression], wanted: Seq[Attribute]): SparkPlan = {
      val needed = AttributeSet(conds.flatMap(_.references))
      val joinOut = (scanAll ++ probeAll).filter(a =>
        wanted.exists(_.exprId == a.exprId) || needed.contains(a))
      val join = IndexedZipJoinExec(joinOut, scanH, probeH, scanAll, probeAll, kind)
      val filtered =
        if (conds.isEmpty) join else FilterExec(conds.reduce(And), join)
      if (joinOut.map(_.exprId) == wanted.map(_.exprId)) filtered
      else ProjectExec(wanted, filtered)
    }

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case j: Join if j.condition.isDefined &&
          Seq(Inner, LeftOuter, RightOuter, FullOuter, LeftSemi, LeftAnti)
            .contains(j.joinType) =>
        (unwrap(j.left), unwrap(j.right)) match {
          case (Some((lOut, lAll, lConds, lh)), Some((rOut, rAll, rConds, rh)))
              if lh.keyTypeTag == rh.keyTypeTag =>
            // i-th left key column must equate the i-th right key column
            // (composite keys are ORDERED (a, b) tuples — a cross-pair
            // equality like lA = rB is a residual, not a zip key)
            val lKeys = lh.joinKeyCols.map(c => lAll.find(_.name == c).map(_.exprId))
            val rKeys = rh.joinKeyCols.map(c => rAll.find(_.name == c).map(_.exprId))
            def pairIndex(a: AttributeReference, b: AttributeReference): Option[Int] =
              lKeys.indices.find { i =>
                (lKeys(i).contains(a.exprId) && rKeys(i).contains(b.exprId)) ||
                  (lKeys(i).contains(b.exprId) && rKeys(i).contains(a.exprId))
              }
            val (keyEqs, residual) = conjuncts(j.condition.get).partition {
              case EqualTo(a: AttributeReference, b: AttributeReference) =>
                pairIndex(a, b).isDefined
              case _ => false
            }
            // the zip equates WHOLE keys: every component pair must be
            // covered by some conjunct, else this is a prefix join the
            // zip cannot serve
            val covered = keyEqs.flatMap {
              case EqualTo(a: AttributeReference, b: AttributeReference) => pairIndex(a, b)
              case _ => None
            }.toSet
            val allCovered = covered == lKeys.indices.toSet
            // isnotnull(key) is vacuous for an index (null keys are
            // rejected at build) — drop it from both sides
            val lKeySet = lKeys.flatten.toSet
            val rKeySet = rKeys.flatten.toSet
            def dropVacuous(conds: Seq[Expression],
                keys: Set[org.apache.spark.sql.catalyst.expressions.ExprId]) =
              conds.filterNot {
                case IsNotNull(a: AttributeReference) => keys.contains(a.exprId)
                case _ => false
              }
            val lConds2 = dropVacuous(lConds, lKeySet)
            val rConds2 = dropVacuous(rConds, rKeySet)
            // a remaining cond that CONSTRAINS a side's key column means
            // the default planner would serve that side with a pruned
            // point/range index scan — replacing it with a full zip join
            // + lifted filter would be a colossal regression; bail
            val keyConstrained =
              lConds2.exists(_.references.exists(a => lKeySet.contains(a.exprId))) ||
                rConds2.exists(_.references.exists(a => rKeySet.contains(a.exprId)))
            if (!allCovered || keyConstrained) Nil
            else {
              val lAllN = lAll.map(_.withNullability(true))
              val rAllN = rAll.map(_.withNullability(true))
              val lOutN = lOut.map(_.withNullability(true))
              val rOutN = rOut.map(_.withNullability(true))
              j.joinType match {
                case Inner =>
                  Seq(build(InnerKind, lAll, lh, rAll, rh,
                    residual ++ lConds2 ++ rConds2, lOut ++ rOut))
                // outer joins: a lifted filter on a null-extended side
                // or a non-key ON conjunct would change null-extension
                // semantics — only kept-side filters commute
                case LeftOuter if residual.isEmpty && rConds2.isEmpty =>
                  Seq(build(LeftKept, lAll, lh, rAllN, rh, lConds2, lOut ++ rOutN))
                case RightOuter if residual.isEmpty && lConds2.isEmpty =>
                  // scan the kept (right) side, null-extend the left
                  Seq(build(LeftKept, rAll, rh, lAllN, lh, rConds2, lOutN ++ rOut))
                case FullOuter if residual.isEmpty && lConds2.isEmpty && rConds2.isEmpty =>
                  Seq(build(FullKind, lAllN, lh, rAllN, rh, Nil, lOutN ++ rOutN))
                // semi/anti: existence probes against the right INDEX —
                // no right columns in the output, so residual ON
                // conjuncts or right-side filters (which change the
                // probed set) cannot be lifted; only kept-side filters
                // commute
                case LeftSemi if residual.isEmpty && rConds2.isEmpty =>
                  Seq(build(SemiKind, lAll, lh, rAll, rh, lConds2, lOut))
                case LeftAnti if residual.isEmpty && rConds2.isEmpty =>
                  Seq(build(AntiKind, lAll, lh, rAll, rh, lConds2, lOut))
                case _ => Nil
              }
            }
          // ONE side indexed (or two with incompatible key types): the
          // LOOKUP join — the probe side plans normally and shuffles to
          // the index's partitioning; the corpus is point-probed per
          // row, never scanned, never moved
          case (Some((_, lAll, lConds, lh)), _) =>
            planLookup(j, lAll, lConds, lh, j.right, corpusOnLeft = true)
          case (_, Some((_, rAll, rConds, rh))) =>
            planLookup(j, rAll, rConds, rh, j.left, corpusOnLeft = false)
          case _ => Nil
        }
      case _ => Nil
    }

    /** The LOOKUP-join claim: equi-join of an indexed corpus with an
      * ARBITRARY probe plan on the corpus's full key. Cost scales with
      * the PROBE side (one small one-sided shuffle + one O(depth)
      * point probe per row); the corpus is never scanned (except
      * corpus-kept anti, which scans locally but never shuffles) and
      * never moves — the 100 TB "join the corpus with a batch" shape.
      * Corpus-side filters lift above where they commute (inner,
      * corpus-kept semi/anti); shapes that would need them inside the
      * match set bail. Null probe keys never match: inner/semi drop
      * them at the probe; outer/anti keep them as guaranteed misses
      * (routed without probing). */
    private def planLookup(j: Join,
        corpusAll: Seq[Attribute], corpusConds: Seq[Expression],
        h: IndexedFrame.JoinableHandle, probePlan: LogicalPlan,
        corpusOnLeft: Boolean): Seq[SparkPlan] = {
      val keyCols = h.joinKeyCols
      val corpusKeys = keyCols.map(c => corpusAll.find(_.name == c).map(_.exprId))
      if (corpusKeys.exists(_.isEmpty)) return Nil
      val probeOut = probePlan.output
      val probeSet = AttributeSet(probeOut)
      val probeFor = Array.fill[Option[Attribute]](keyCols.length)(None)
      val (_, residual) = conjuncts(j.condition.get).partition {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val pair =
            if (corpusKeys.exists(_.contains(a.exprId)) && probeSet.contains(b))
              Some((a, b))
            else if (corpusKeys.exists(_.contains(b.exprId)) && probeSet.contains(a))
              Some((b, a))
            else None
          pair match {
            case Some((ca, pa)) =>
              val i = corpusKeys.indexWhere(_.contains(ca.exprId))
              if (probeFor(i).isEmpty) { probeFor(i) = Some(pa); true }
              else false
            case None => false
          }
        case _ => false
      }
      // isnotnull on corpus keys is vacuous (the index stores no null
      // keys); other corpus-side conds lift above only where they
      // commute with the join kind
      val cKeySet = corpusKeys.flatten.toSet
      val cConds = corpusConds.filterNot {
        case IsNotNull(a: AttributeReference) => cKeySet.contains(a.exprId)
        case _ => false
      }
      if (probeFor.exists(_.isEmpty)) {
        // PREFIX (leading-entity) lookup join: equality on ONLY the
        // leading composite column fetches each probed entity's WHOLE
        // tuple run — one interval-routed pruned trie range scan per
        // delivery ("each probed user's full timeline"). Inner only;
        // unclaimed conjuncts and corpus filters lift above.
        if (j.joinType == Inner && h.prefixLookupCapable &&
            probeFor.length == 2 && probeFor(0).isDefined &&
            probeFor(1).isEmpty) {
          val pAttr = probeFor(0).get
          val keyIdx = probeOut.indexWhere(_.exprId == pAttr.exprId)
          if (keyIdx >= 0) {
            val raw =
              if (corpusOnLeft) corpusAll ++ probeOut else probeOut ++ corpusAll
            val lifted = residual ++ cConds
            val needed = AttributeSet(lifted.flatMap(_.references))
            val joinOut = raw.filter(a =>
              j.output.exists(_.exprId == a.exprId) || needed.contains(a))
            val join = IndexedLookupJoinExec(joinOut, h, corpusAll,
              Array(keyIdx), corpusOnLeft, LkPrefixInner, planLater(probePlan))
            val filtered =
              if (lifted.isEmpty) join else FilterExec(lifted.reduce(And), join)
            return Seq(
              if (joinOut.map(_.exprId) == j.output.map(_.exprId)) filtered
              else ProjectExec(j.output, filtered))
          }
        }
        // SECONDARY lookup join: an equi-join on ONE secondary-indexed
        // corpus column — probe values expand through the inverted
        // index's postings into primary keys, then point-fetch corpus
        // rows. Two one-sided shuffles of probe-derived data, zero
        // corpus scans, no routing budget. Inner either orientation;
        // LEFT OUTER when the probe side is kept (misses null-extend).
        val secOuter = j.joinType == LeftOuter && !corpusOnLeft
        if (j.joinType != Inner && !secOuter) return Nil
        val secCols = h.lookupSecondaryCols
        var secPair: Option[(Attribute, Attribute)] = None
        val (secEqs, secResidual) = conjuncts(j.condition.get).partition {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if secPair.isEmpty =>
            val hit =
              if (corpusAll.exists(c => c.exprId == a.exprId &&
                  secCols.contains(c.name)) && probeSet.contains(b))
                Some((a, b))
              else if (corpusAll.exists(c => c.exprId == b.exprId &&
                  secCols.contains(c.name)) && probeSet.contains(a))
                Some((b, a))
              else None
            hit.foreach(p => secPair = Some(p))
            hit.isDefined
          case _ => false
        }
        secPair match {
          case Some((cAttr, pAttr)) =>
            val keyIdx = probeOut.indexWhere(_.exprId == pAttr.exprId)
            if (keyIdx < 0) return Nil
            val cConds0 = corpusConds.filterNot {
              case IsNotNull(a: AttributeReference) => a.exprId == cAttr.exprId
              case _ => false
            }
            // outer: corpus filters/residuals would change the match
            // set or the null-extension — only the bare shape claims
            if (secOuter && (secResidual.nonEmpty || cConds0.nonEmpty))
              return Nil
            val cAllForKind =
              if (secOuter) corpusAll.map(_.withNullability(true)) else corpusAll
            val raw =
              if (corpusOnLeft) corpusAll ++ probeOut
              else probeOut ++ cAllForKind
            val lifted = secResidual ++ cConds0
            val needed = AttributeSet(lifted.flatMap(_.references))
            val joinOut = raw.filter(a =>
              j.output.exists(_.exprId == a.exprId) || needed.contains(a))
            val colName = corpusAll.find(_.exprId == cAttr.exprId).get.name
            val join = IndexedLookupJoinExec(joinOut, h, cAllForKind,
              Array(keyIdx), corpusOnLeft,
              if (secOuter) LkSecOuter(colName) else LkSecInner(colName),
              planLater(probePlan))
            val filtered =
              if (lifted.isEmpty) join else FilterExec(lifted.reduce(And), join)
            return Seq(
              if (joinOut.map(_.exprId) == j.output.map(_.exprId)) filtered
              else ProjectExec(j.output, filtered))
          case None => ()
        }
        if (secOuter) return Nil
        // RANGE (band) lookup join: corpusKey bounded on BOTH sides by
        // deterministic probe-side expressions — each probe row routes
        // to the partitions overlapping its interval and runs one
        // pruned trie range scan. Spark's default for this non-equi
        // shape is a nested loop over the whole corpus.
        // inner only (the secondary gate above already filtered, but
        // keep the invariant local and explicit)
        if (j.joinType != Inner || corpusKeys.length != 1 ||
          !h.rangeLookupCapable) return Nil
        val keyId = corpusKeys.head.get
        val keyDt = corpusAll.find(_.exprId == keyId).get.dataType
        def probeExpr(e: Expression): Boolean =
          e.deterministic && e.references.nonEmpty &&
            e.references.subsetOf(probeSet) && e.dataType == keyDt
        var lo: Option[(Expression, Boolean)] = None
        var hi: Option[(Expression, Boolean)] = None
        val (_, bandResidual) = conjuncts(j.condition.get).partition {
          case GreaterThanOrEqual(a: AttributeReference, e)
              if a.exprId == keyId && probeExpr(e) && lo.isEmpty =>
            lo = Some((e, true)); true
          case GreaterThan(a: AttributeReference, e)
              if a.exprId == keyId && probeExpr(e) && lo.isEmpty =>
            lo = Some((e, false)); true
          case LessThanOrEqual(a: AttributeReference, e)
              if a.exprId == keyId && probeExpr(e) && hi.isEmpty =>
            hi = Some((e, true)); true
          case LessThan(a: AttributeReference, e)
              if a.exprId == keyId && probeExpr(e) && hi.isEmpty =>
            hi = Some((e, false)); true
          case LessThanOrEqual(e, a: AttributeReference)
              if a.exprId == keyId && probeExpr(e) && lo.isEmpty =>
            lo = Some((e, true)); true
          case LessThan(e, a: AttributeReference)
              if a.exprId == keyId && probeExpr(e) && lo.isEmpty =>
            lo = Some((e, false)); true
          case GreaterThanOrEqual(e, a: AttributeReference)
              if a.exprId == keyId && probeExpr(e) && hi.isEmpty =>
            hi = Some((e, true)); true
          case GreaterThan(e, a: AttributeReference)
              if a.exprId == keyId && probeExpr(e) && hi.isEmpty =>
            hi = Some((e, false)); true
          case _ => false
        }
        (lo, hi) match {
          case (Some((loE, loInc)), Some((hiE, hiInc))) =>
            val raw =
              if (corpusOnLeft) corpusAll ++ probeOut else probeOut ++ corpusAll
            val lifted = bandResidual ++ cConds
            val needed = AttributeSet(lifted.flatMap(_.references))
            val joinOut = raw.filter(a =>
              j.output.exists(_.exprId == a.exprId) || needed.contains(a))
            val smallBand = {
              val thr = org.apache.spark.sql.internal.SQLConf.get
                .autoBroadcastJoinThreshold
              thr > 0 && probePlan.stats.sizeInBytes <= thr
            }
            val join = IndexedRangeLookupJoinExec(joinOut, h, corpusAll,
              loE, hiE, loInc, hiInc, corpusOnLeft, planLater(probePlan),
              smallBand)
            val filtered =
              if (lifted.isEmpty) join else FilterExec(lifted.reduce(And), join)
            return Seq(
              if (joinOut.map(_.exprId) == j.output.map(_.exprId)) filtered
              else ProjectExec(j.output, filtered))
          case _ => return Nil
        }
      }
      val probeAttrs = probeFor.map(_.get).toSeq
      val keyIdxs = probeAttrs.map(a =>
        probeOut.indexWhere(_.exprId == a.exprId)).toArray
      if (keyIdxs.exists(_ < 0)) return Nil
      val corpusAllN = corpusAll.map(_.withNullability(true))

      def assemble(kind: LookupKind, rawOut: Seq[Attribute],
          lifted: Seq[Expression], wanted: Seq[Attribute]): Seq[SparkPlan] = {
        val needed = AttributeSet(lifted.flatMap(_.references))
        val joinOut = rawOut.filter(a =>
          wanted.exists(_.exprId == a.exprId) || needed.contains(a))
        // probe side small by ITS OWN stats (the signal Catalyst's
        // broadcast decision uses) → driver-mediated zero-shuffle
        // probing for the point-probe kinds
        val small = kind match {
          case LkInner | LkProbeOuter | LkProbeSemi | LkProbeAnti =>
            val thr = org.apache.spark.sql.internal.SQLConf.get
              .autoBroadcastJoinThreshold
            thr > 0 && probePlan.stats.sizeInBytes <= thr
          case _ => false
        }
        val join = IndexedLookupJoinExec(joinOut, h,
          if (kind == LkProbeOuter) corpusAllN else corpusAll,
          keyIdxs, corpusOnLeft, kind, planLater(probePlan), small)
        val filtered =
          if (lifted.isEmpty) join else FilterExec(lifted.reduce(And), join)
        Seq(if (joinOut.map(_.exprId) == wanted.map(_.exprId)) filtered
        else ProjectExec(wanted, filtered))
      }

      j.joinType match {
        case Inner =>
          val raw = if (corpusOnLeft) corpusAll ++ probeOut else probeOut ++ corpusAll
          assemble(LkInner, raw, residual ++ cConds, j.output)
        case LeftSemi if corpusOnLeft && residual.isEmpty =>
          assemble(LkCorpusSemi, corpusAll, cConds, j.output)
        case LeftAnti if corpusOnLeft && residual.isEmpty =>
          assemble(LkCorpusAnti, corpusAll, cConds, j.output)
        case LeftSemi if !corpusOnLeft && residual.isEmpty && cConds.isEmpty =>
          assemble(LkProbeSemi, probeOut, Nil, j.output)
        case LeftAnti if !corpusOnLeft && residual.isEmpty && cConds.isEmpty =>
          assemble(LkProbeAnti, probeOut, Nil, j.output)
        case LeftOuter if !corpusOnLeft && residual.isEmpty && cConds.isEmpty =>
          assemble(LkProbeOuter, probeOut ++ corpusAllN, Nil, j.output)
        case _ => Nil
      }
    }
  }

  /** Row cap for the driver-mediated probe collects — insurance
    * against lying stats; beyond it the shuffled paths serve (the
    * probe child re-executes, cheap for a plan whose stats said
    * "tiny"). */
  private[sql] val LocalProbeRowCap = 1 << 20

  /** Collect a stats-small probe child for the driver-mediated join
    * paths: per-row copies (UnsafeRows are buffer-backed),
    * narrow-merged to a few task launches, collected in partition
    * BATCHES so a badly-lying stats estimate aborts after one batch
    * instead of OOMing the driver on a full collect. None when the
    * runtime cap trips mid-way. Memory risk profile is bounded by
    * LocalProbeRowCap + one batch. Shared by the point and band
    * lookup execs. */
  private[sql] def collectSmallProbe(
      child: SparkPlan): Option[Array[InternalRow]] = {
    val probe = child.execute().mapPartitions(
      _.map(_.copy()), preservesPartitioning = true)
    val merged =
      if (probe.getNumPartitions > 8) probe.coalesce(8) else probe
    val sc = merged.sparkContext
    val nParts = merged.partitions.length
    val buf = scala.collection.mutable.ArrayBuffer.empty[Array[InternalRow]]
    var total = 0L
    var i = 0
    while (i < nParts && total <= LocalProbeRowCap) {
      val batch = i until math.min(i + 4, nParts)
      val res = sc.runJob(merged,
        (it: Iterator[InternalRow]) => it.toArray, batch)
      res.foreach { a => buf += a; total += a.length }
      i += 4
    }
    if (total <= LocalProbeRowCap) {
      val out = new Array[InternalRow](total.toInt)
      var off = 0
      buf.foreach { a => System.arraycopy(a, 0, out, off, a.length); off += a.length }
      Some(out)
    } else None
  }

  /** Cross-query probe memo for the driver-mediated lookup joins:
    * repeat probes of the SAME probe plan against the SAME snapshot —
    * the warm-dashboard / re-run shape, where a root collect pays the
    * probe-collect job again on every execution — skip that job and
    * reuse the first run's driver-resident rows. Safe by construction:
    * the key pairs the snapshot's RDD id (COW DML builds a NEW RDD, so
    * a mutated table can never serve stale probe pairings) with the
    * probe plan's canonicalized form, and only plans whose every leaf
    * is a pure plan-defined source (Range / LocalTableScan — their
    * rows are a function of the plan structure itself) are eligible; a
    * probe that reads files or a re-definable view is collected fresh
    * every time. Bounded: 32 LRU entries, each at most 2^18 rows. */
  private[sql] object ProbeMemo {
    private val MaxEntries = 32
    private[sql] val MaxRowsPerEntry = 1 << 18
    private val map =
      new java.util.LinkedHashMap[(Int, SparkPlan), Array[InternalRow]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, SparkPlan), Array[InternalRow]])
            : Boolean = size() > MaxEntries
      }
    private def stable(p: SparkPlan): Boolean = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case _: org.apache.spark.sql.execution.RangeExec => true
        case _: org.apache.spark.sql.execution.LocalTableScanExec => true
        case _ => false
      }
    }
    private[sql] def keyFor(h: IndexedFrame.JoinableHandle,
        child: SparkPlan): Option[(Int, SparkPlan)] =
      if (stable(child)) Some((h.idxAny.id, child.canonicalized)) else None
    private[sql] def get(k: (Int, SparkPlan)): Option[Array[InternalRow]] =
      map.synchronized(Option(map.get(k)))
    private[sql] def put(k: (Int, SparkPlan),
        rows: Array[InternalRow]): Unit =
      if (rows.length <= MaxRowsPerEntry)
        map.synchronized { map.put(k, rows); () }
    private[sql] def clear(): Unit = map.synchronized(map.clear())
  }

  /** Memoizing wrapper around [[collectSmallProbe]] — shared by the
    * point and band lookup execs. */
  private[sql] def collectSmallProbeMemo(h: IndexedFrame.JoinableHandle,
      child: SparkPlan): Option[Array[InternalRow]] =
    ProbeMemo.keyFor(h, child) match {
      case Some(k) =>
        ProbeMemo.get(k).orElse {
          val r = collectSmallProbe(child)
          r.foreach(ProbeMemo.put(k, _))
          r
        }
      case None => collectSmallProbe(child)
    }

  /** How the lookup join emits rows. */
  sealed trait LookupKind extends Serializable
  case object LkInner extends LookupKind
  case object LkProbeOuter extends LookupKind // probe kept, corpus null-extends
  case object LkCorpusSemi extends LookupKind // corpus rows with a probe match
  case object LkCorpusAnti extends LookupKind // corpus rows with NO probe match
  case object LkProbeSemi extends LookupKind // probe rows with a corpus match
  case object LkProbeAnti extends LookupKind // probe rows with NO corpus match
  /** Inner join on a SECONDARY-indexed corpus column: probe values →
    * inverted-index postings → primary point fetches. */
  final case class LkSecInner(col: String) extends LookupKind
  /** LEFT-OUTER twin keeping the probe rows (misses null-extend). */
  final case class LkSecOuter(col: String) extends LookupKind
  /** Inner join on a composite corpus's LEADING column only: each
    * probe fetches the entity's whole tuple run via one
    * interval-routed pruned range scan. */
  case object LkPrefixInner extends LookupKind

  /** Physical lookup join: the probe child executes normally, its rows
    * shuffle ONCE to the index's partitioning, and each row costs one
    * O(depth) point probe in the owning partition's trie. The corpus
    * side has no child plan — it is the handle's cached index — and is
    * never scanned (LkCorpusAnti streams it locally, still without
    * moving it).
    *
    * `smallProbe` (set at plan time from the probe side's stats, the
    * same signal Catalyst's own broadcast decision uses) switches the
    * point-probe kinds to the DRIVER-MEDIATED path: the probe side is
    * collected (capped — over the cap it falls back to the shuffled
    * path), grouped by owning partition on the driver, broadcast
    * once, and a partition-PRUNED narrow job probes only the owning
    * partitions. That removes the probe-side shuffle stage entirely
    * and — when the batch's keys cluster, the 100 TB delta shape —
    * skips every partition the batch does not touch. */
  case class IndexedLookupJoinExec(output: Seq[Attribute],
      h: IndexedFrame.JoinableHandle, corpusAll: Seq[Attribute],
      keyIdxs: Array[Int], corpusOnLeft: Boolean, kind: LookupKind,
      child: SparkPlan, smallProbe: Boolean = false)
      extends org.apache.spark.sql.execution.UnaryExecNode {

    override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
      copy(child = newChild)

    /** Every output row is produced in its key's OWNING index
      * partition, so equal key values are co-located — a parent
      * groupBy on the join key (either side's attr, they are equal)
      * skips its exchange. The null-extended corpus side of
      * LkProbeOuter may not claim (its nulls appear in many
      * partitions); the probe side may (null probe keys all route to
      * partition 0). LkSecInner clusters by the PRIMARY key — the
      * final point-fetch hop — not by the joined secondary value. */
    override def outputPartitioning: Partitioning = {
      // valid for BOTH probe paths: the driver-mediated RDD fans out
      // over the same partitions (no pruning/renumbering), so every
      // output row still sits in its key's owning partition
      val n = h.idxAny.partitions.length
      def claim(attrs: Seq[Attribute]): Option[Partitioning] = attrs match {
        case Seq(one) if output.exists(_.exprId == one.exprId) =>
          Some(IndexedKeyPartitioning(one, n))
        case pair if pair.length == 2 &&
            pair.forall(a => output.exists(_.exprId == a.exprId)) =>
          Some(IndexedPairPartitioning(pair, n))
        case _ => None
      }
      lazy val corpusKeyAttrs =
        h.joinKeyCols.flatMap(c => corpusAll.find(_.name == c))
      lazy val probeKeyAttrs = keyIdxs.toSeq.map(child.output)
      val p = kind match {
        // prefix outputs cluster by the full TUPLE (an entity's run
        // may straddle a partition boundary, so the leading column
        // alone may not claim); claim(pair) handles exactly that
        case LkPrefixInner => claim(corpusKeyAttrs)
        case LkSecInner(_) | LkSecOuter(_) => claim(corpusKeyAttrs)
        case LkProbeOuter => claim(probeKeyAttrs)
        case LkCorpusSemi | LkCorpusAnti => claim(corpusKeyAttrs)
        case LkProbeSemi | LkProbeAnti => claim(probeKeyAttrs)
        case LkInner => claim(corpusKeyAttrs).orElse(claim(probeKeyAttrs))
      }
      p.getOrElse(UnknownPartitioning(n))
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val probe = child.execute()
      val out = output
      val probeOut = child.output
      val cAll = corpusAll
      val onLeft = corpusOnLeft
      kind match {
        case LkSecInner(_) | LkSecOuter(_) | LkPrefixInner =>
          val pairs = kind match {
            case LkSecInner(col) =>
              h.lookupJoinRowsBySecondary(col, probe, keyIdxs(0))
            case LkSecOuter(col) =>
              h.lookupOuterRowsBySecondary(col, probe, keyIdxs(0))
            case _ => h.lookupJoinRowsByPrefix(probe, keyIdxs(0))
          }
          val nCorpus = cAll.size
          val in = if (onLeft) cAll ++ probeOut else probeOut ++ cAll
          pairs.mapPartitions { it =>
            val joined = new JoinedRow
            val nullCorpus: InternalRow = new GenericInternalRow(nCorpus)
            val proj = UnsafeProjection.create(out, in)
            it.map { case (c0, p) =>
              val c = if (c0 == null) nullCorpus else c0
              proj(if (onLeft) joined(c, p) else joined(p, c))
            }
          }
        case LkInner | LkProbeOuter =>
          val keepM = kind == LkProbeOuter
          val pairs = localProbeRows()
            .flatMap(rows => h.lookupJoinRowsLocal(rows, keyIdxs, keepM))
            .getOrElse(h.lookupJoinRows(probe, keyIdxs, keepM))
          val nCorpus = cAll.size
          val in = if (onLeft) cAll ++ probeOut else probeOut ++ cAll
          pairs.mapPartitions { it =>
            val joined = new JoinedRow
            val nullCorpus: InternalRow = new GenericInternalRow(nCorpus)
            val proj = UnsafeProjection.create(out, in)
            it.map { case (c0, p) =>
              val c = if (c0 == null) nullCorpus else c0
              proj(if (onLeft) joined(c, p) else joined(p, c))
            }
          }
        case LkCorpusSemi | LkCorpusAnti =>
          h.lookupSemiRows(probe, keyIdxs, kind == LkCorpusAnti)
            .mapPartitions { it =>
              val proj = UnsafeProjection.create(out, cAll)
              it.map(proj)
            }
        case LkProbeSemi | LkProbeAnti =>
          val anti = kind == LkProbeAnti
          val kept = localProbeRows()
            .flatMap(rows => h.lookupProbeFilterLocal(rows, keyIdxs, anti))
            .getOrElse(h.lookupProbeFilter(probe, keyIdxs, anti))
          kept.mapPartitions { it =>
            val proj = UnsafeProjection.create(out, probeOut)
            it.map(proj)
          }
      }
    }

    /** Probe rows for the driver-mediated path: None when the
      * plan-time stats gate is off or the runtime cap trips (the
      * shuffled path then serves, re-executing the probe child). */
    private def localProbeRows(): Option[Array[InternalRow]] =
      if (!smallProbe) None else collectSmallProbeMemo(h, child)

    /** ROOT-level collects of a small-probe inner/outer lookup skip
      * the per-partition fan-out entirely: one pruned runJob touches
      * ONLY the probe-owning partitions (no no-op task launches on the
      * other O(partitions) — the price `doExecute` pays to keep its
      * key-clustered partitioning claimable for parent operators,
      * which a root collect has none of). Same rows, same memory: a
      * root collect materializes every match on the driver anyway. */
    override def executeCollect(): Array[InternalRow] = kind match {
      case LkInner | LkProbeOuter if smallProbe =>
        val keepM = kind == LkProbeOuter
        localProbeRows()
          .flatMap(rows => h.lookupJoinRowsLocalCollect(rows, keyIdxs, keepM))
          .map { pairs =>
            val cAll = corpusAll
            val probeOut = child.output
            val nCorpus = cAll.size
            val onLeft = corpusOnLeft
            val in = if (onLeft) cAll ++ probeOut else probeOut ++ cAll
            val joined = new JoinedRow
            val nullCorpus: InternalRow = new GenericInternalRow(nCorpus)
            val proj = UnsafeProjection.create(output, in)
            pairs.map { case (c0, p) =>
              val c = if (c0 == null) nullCorpus else c0
              proj(if (onLeft) joined(c, p) else joined(p, c)).copy()
                : InternalRow
            }
          }
          .getOrElse(super.executeCollect())
      case _ => super.executeCollect()
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedLookupJoin $kind keyIdxs=${keyIdxs.mkString(",")} " +
        "[probe-side shuffle only; corpus point-probed, never scanned]"
  }

  /** Physical BAND (range) lookup join: per probe row the two bound
    * expressions evaluate against the probe row, the row routes to
    * the partitions whose key range overlaps `[lo, hi]`, and each
    * delivery runs one pruned trie range scan. Inner only; output is
    * (corpus row, probe row) pairs in the requested side order. */
  case class IndexedRangeLookupJoinExec(output: Seq[Attribute],
      h: IndexedFrame.JoinableHandle, corpusAll: Seq[Attribute],
      loExpr: Expression, hiExpr: Expression,
      loInc: Boolean, hiInc: Boolean, corpusOnLeft: Boolean,
      child: SparkPlan, smallProbe: Boolean = false)
      extends org.apache.spark.sql.execution.UnaryExecNode {

    override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
      copy(child = newChild)

    /** Every match is emitted in the corpus key's owning partition, so
      * equal corpus keys are co-located — a parent groupBy on the
      * corpus key skips its exchange. */
    override def outputPartitioning: Partitioning = {
      val n = h.idxAny.partitions.length
      h.joinKeyCols.flatMap(c => corpusAll.find(_.name == c)) match {
        case Seq(one) if output.exists(_.exprId == one.exprId) =>
          IndexedKeyPartitioning(one, n)
        case _ => UnknownPartitioning(n)
      }
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val loB = BindReferences.bindReference(loExpr, child.output)
      val hiB = BindReferences.bindReference(hiExpr, child.output)
      // driver-mediated path for stats-small probes (same gate as the
      // point lookup join): intervals route on the driver, no shuffle
      val localPairs: Option[RDD[(InternalRow, InternalRow)]] =
        if (!smallProbe) None
        else collectSmallProbeMemo(h, child).flatMap(rows =>
          h.lookupRangeJoinRowsLocal(rows,
            r => loB.eval(r), r => hiB.eval(r), loInc, hiInc))
      val pairs = localPairs.getOrElse(
        h.lookupRangeJoinRows(child.execute(),
          r => loB.eval(r), r => hiB.eval(r), loInc, hiInc))
      val out = output
      val probeOut = child.output
      val cAll = corpusAll
      val onLeft = corpusOnLeft
      val in = if (onLeft) cAll ++ probeOut else probeOut ++ cAll
      pairs.mapPartitions { it =>
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(out, in)
        it.map { case (c, p) =>
          proj(if (onLeft) joined(c, p) else joined(p, c))
        }
      }
    }

    override def simpleString(maxFields: Int): String =
      s"IndexedRangeLookupJoin ${if (loInc) ">=" else ">"}lo " +
        s"${if (hiInc) "<=" else "<"}hi " +
        "[interval-routed pruned trie range scans; corpus never scanned]"
  }

  /**
   * Partitioning of a zip-join output: clustered by the join key under
   * the engine's hash partitioner. Satisfies a parent's
   * ClusteredDistribution on the key (equal keys ARE co-located), so
   * aggregations above the join skip their exchange — but its shuffle
   * spec is deliberately incompatible with everything: the layout is
   * `key.hashCode % n`, NOT Catalyst murmur3 HashPartitioning, so it
   * must never be treated as co-partitioned with a real exchange.
   */
  case class IndexedKeyPartitioning(key: Attribute, numPartitions: Int)
      extends Partitioning {
    override def satisfies0(required: Distribution): Boolean = required match {
      case UnspecifiedDistribution => true
      case ClusteredDistribution(clustering, requireAll, _) =>
        if (requireAll) clustering.length == 1 && clustering.head.semanticEquals(key)
        else clustering.exists(_.semanticEquals(key))
      case _ => false
    }
    override def createShuffleSpec(distribution: ClusteredDistribution): ShuffleSpec =
      IndexedKeyShuffleSpec(numPartitions)
  }

  case class IndexedKeyShuffleSpec(numPartitions: Int) extends ShuffleSpec {
    override def isCompatibleWith(other: ShuffleSpec): Boolean = false
    override def canCreatePartitioning: Boolean = false
  }

  /**
   * The COMPOSITE twin of [[IndexedKeyPartitioning]]: a composite zip
   * join's rows are hashed by the (a, b) key PAIR, so equal pairs are
   * co-located and any required clustering that CONTAINS both key
   * attributes is satisfied — a parent `groupBy(a, b)` (or `(a, b, c)`)
   * above the join skips its exchange, matching the single-key
   * behavior. A clustering on only ONE of the columns is NOT satisfied
   * (equal `a` values spread across partitions under the pair hash).
   * Like the single-key claim, the shuffle spec is deliberately
   * incompatible with real exchanges (`pair.hashCode % n`, not
   * Catalyst murmur3).
   */
  case class IndexedPairPartitioning(keys: Seq[Attribute], numPartitions: Int)
      extends Partitioning {
    override def satisfies0(required: Distribution): Boolean = required match {
      case UnspecifiedDistribution => true
      case ClusteredDistribution(clustering, requireAll, _) =>
        val covered = keys.forall(k => clustering.exists(_.semanticEquals(k)))
        if (requireAll) covered && clustering.length == keys.length else covered
      case _ => false
    }
    override def createShuffleSpec(distribution: ClusteredDistribution): ShuffleSpec =
      IndexedKeyShuffleSpec(numPartitions)
  }

  /** How the zip join emits rows. RightOuter is planned as LeftKept
    * with the handles swapped at strategy level. */
  sealed trait ZipJoinKind extends Serializable
  case object InnerKind extends ZipJoinKind
  case object LeftKept extends ZipJoinKind // left rows kept; right null-extends
  case object FullKind extends ZipJoinKind
  case object SemiKind extends ZipJoinKind // left rows with a key match
  case object AntiKind extends ZipJoinKind // left rows with NO key match

  /** Physical zip join over two indexed handles (leaf: the data comes
    * from the handles' cached indexes, not from child plans). Stored
    * values are already UnsafeRow, so each output row is ONE reused
    * unsafe projection over a JoinedRow — no per-row converters, no
    * external rows, no copies. Inner, left/right outer (unmatched kept
    * rows pair with an all-null other row), and full outer. */
  case class IndexedZipJoinExec(output: Seq[Attribute],
      lh: IndexedFrame.JoinableHandle, rh: IndexedFrame.JoinableHandle,
      lAll: Seq[Attribute], rAll: Seq[Attribute],
      kind: ZipJoinKind = InnerKind) extends LeafExecNode {

    override def outputPartitioning: Partitioning = {
      val n = lh.idxAny.partitions.length
      // an outer join's null-extended side carries NULL keys wherever
      // the kept row lives, so clustering may only be claimed through a
      // side that is never null-extended: the left (scan) key for
      // inner/left-kept, NEITHER for full outer — a false claim would
      // let a parent aggregation elide its exchange and emit one NULL
      // group per partition. Single-key handles claim one-attribute
      // clustering (IndexedKeyPartitioning); composite handles claim
      // PAIR clustering (IndexedPairPartitioning) — rows are hashed by
      // the (a, b) pair, so a parent groupBy that contains BOTH key
      // attributes skips its exchange, and one that names only one of
      // them does not (equal single-column values spread under the
      // pair hash).
      def claim(h: IndexedFrame.JoinableHandle, all: Seq[Attribute]): Option[Partitioning] =
        h.joinKeyCols match {
          case Seq(one) =>
            all.find(_.name == one).filter(output.contains)
              .map(IndexedKeyPartitioning(_, n))
          case pair =>
            val attrs = pair.flatMap(c => all.find(_.name == c))
            if (attrs.length == pair.length && attrs.forall(output.contains))
              Some(IndexedPairPartitioning(attrs, n))
            else None
        }
      val part = kind match {
        case FullKind => None
        case LeftKept | SemiKind | AntiKind => claim(lh, lAll)
        case InnerKind => claim(lh, lAll).orElse(claim(rh, rAll))
      }
      part.getOrElse(UnknownPartitioning(n))
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val li = lh.idxAny
      val ri = rh.idxAny
      val out = output
      val in = lAll ++ rAll
      val nLeft = lAll.size
      val nRight = rAll.size
      kind match {
        case LeftKept =>
          li.leftJoinStream(ri)((_, a, b) => (a, b)).mapPartitions { it =>
            val joined = new JoinedRow
            val nullRight: InternalRow = new GenericInternalRow(nRight)
            val proj = UnsafeProjection.create(out, in)
            it.map { case (a, b) => proj(joined(a, b.getOrElse(nullRight))) }
          }
        case FullKind =>
          li.fullOuterJoinStream(ri)((_, a, b) => (a, b)).mapPartitions { it =>
            val joined = new JoinedRow
            val nullLeft: InternalRow = new GenericInternalRow(nLeft)
            val nullRight: InternalRow = new GenericInternalRow(nRight)
            val proj = UnsafeProjection.create(out, in)
            it.map { case (a, b) =>
              proj(joined(a.getOrElse(nullLeft), b.getOrElse(nullRight)))
            }
          }
        case InnerKind =>
          li.innerJoinStream(ri)((_, a, b) => (a, b)).mapPartitions { it =>
            val joined = new JoinedRow
            val proj = UnsafeProjection.create(out, in)
            it.map { case (a, b) => proj(joined(a, b)) }
          }
        case SemiKind | AntiKind =>
          // existence probe: the kept row streams through once, paired
          // with a null filler (no right column ever reaches `out`)
          val keepMatched = kind == SemiKind
          li.leftJoinStream(ri)((_, a, b) => (a, b.isDefined)).mapPartitions { it =>
            val joined = new JoinedRow
            val nullRight: InternalRow = new GenericInternalRow(nRight)
            val proj = UnsafeProjection.create(out, in)
            it.collect { case (a, m) if m == keepMatched => proj(joined(a, nullRight)) }
          }
      }
    }
  }
}

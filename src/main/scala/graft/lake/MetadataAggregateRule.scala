package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.lake.TpSchema.DayUs

/** Answer aggregate SQL from lake metadata, so `SELECT count(*),
  * max(value) FROM t` against a registered view reads the manifest and
  * the `_graft_colstats` sidecar instead of the data files. Spark's own
  * `OptimizeMetadataOnlyQuery` serves only partition-column aggregates
  * from listings; Delta rewrites count/min/max from its transaction log
  * the way this rule does from the sidecar.
  *
  * Served aggregates (each declining to the normal scan when its
  * metadata precondition fails):
  *
  *  - `count(*)` / `count(c)`: manifest row counts + sidecar nulls
  *  - `min(c)` / `max(c)`: sidecar zones (integral under 2^53,
  *    float/double in total order, strings in UTF8-byte order);
  *    `tp_timestamp` and `tp_date` ride the manifest ts range on every
  *    table (dates are monotone in ts, UTC convention)
  *  - `sum(c)` over integral columns: per-file DECIMAL sums merge in
  *    BigInt, exact; declines past Long.MaxValue
  *  - `avg(c)` over integral columns: exact sum / count with one double
  *    division; declines past 2^53 and for float/double
  *  - `ndv(c)` ([[graft.functions.NdvFns]]): per-file HLL sketch union
  *  - `graft_quantile(c, p)` ([[graft.functions.QuantileFns]]): per-file
  *    KLL sketch merge
  *  - `graft_topk(c, k)` ([[graft.functions.TopKFns]]): per-file
  *    frequent-items merge, only while the merge stays exact
  *  - `count(DISTINCT tp_date)`: the manifest's per-file day when every
  *    file is day-contained
  *
  * One algorithm serves every shape, in three steps:
  *
  *  1. '''Match''' ([[matchShape]], metadata-free). The aggregate reaches
  *     a whole-table [[ZoneMapFileIndex]] relation through wrappers,
  *     Filters and column-pruning projections ([[unwrap]]). Its keys
  *     are physical partition columns plus optional time-bucket keys
  *     (`tp_date`, `date_trunc`, `cast(ts AS date)`, the extract family)
  *     that refine to one finest grain. The WHERE splits into a
  *     `tp_timestamp` band set (none = the full range) and a
  *     partition-only rest, evaluated per file directory. Each output
  *     is classified into a [[MetadataAggregateRule.Spec]]. A shape
  *     with a band or a bucket key is ''timed''.
  *  2. '''Probe''' (one [[Lake.metaAggregate]] call, driver-side
  *     metadata reads only). Untimed, every file must be answerable
  *     from metadata or the rule declines. Timed, files the manifest
  *     proves inside one band (and one bucket) and null-ts-free are
  *     contained and give per-key metadata partials; the others
  *     overlapping the bands straddle. A timed shape needs at least one
  *     contained file.
  *  3. '''Emit'''. With no straddlers (and distinct key tuples), a
  *     [[LocalRelation]] of the final rows, with the original attribute
  *     ids, types and nullability. Otherwise `Union(local partial rows,
  *     partial Aggregate over the straddlers only)` under one merge
  *     Aggregate keyed like the original: counts and sums add, ranges
  *     re-extremize, avg divides an exact decimal sum by a count, and
  *     sketches union. The straddler scan runs distributed in the plan,
  *     never at optimize time.
  *
  * Rewrites are optional: any failure falls open to the original plan.
  * The qi33–qi55 oracles gate exactness against DuckDB and pin
  * files-read through the SQL path.
  */
final case class MetadataAggregateRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  import MetadataAggregateRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate => safely(agg)(matchShape(agg).flatMap(rewrite))
  }

  /** Bucket grain of a time-bucket grouping expression, or None when
    * `e` isn't one this rule can serve. Forms:
    *
    *  - the `tp_date` column itself (DateType) — day grain; the engine
    *    derives `tp_date = date_trunc(day, tp_timestamp)` under its
    *    always-UTC writer convention, so a file whose manifest ts
    *    range is day-contained puts ALL its rows on one tp_date
    *  - `date_trunc(grain, tp_timestamp)` for DAY/DD/HOUR/MINUTE/
    *    SECOND (fixed micros widths), WEEK (fixed width, Monday
    *    anchor), and the CALENDAR grains MONTH/QUARTER/YEAR (r18
    *    verdict task 1 — THE monthly report; the reference's own
    *    layout partitions by year/month, ducklake_table.go:36-44, so
    *    month-contained files dominate there). Containment never
    *    needed a fixed width — only a bucket ID function MONOTONE in
    *    micros, so `idOf(min_ts) == idOf(max_ts)` proves every row of
    *    the file shares the bucket ([[MetadataAggregateRule.BucketGrain]]).
    *  - `cast(tp_timestamp AS date)` — the third spelling of day
    *
    * All are gated on the reader session being UTC (same reasoning as
    * the splitBands date fold): a non-UTC session truncates in local
    * time and signals a deployment where the UTC-writer convention may
    * not hold. Exactly-UTC spellings (`Etc/UTC`, `Z`, `+00:00`) are
    * accepted via [[TpSchema.isUtcZone]] normalization. The zone
    * RESOLVED INTO the expression at analysis must be UTC too: a plan
    * analyzed under a non-UTC session and collected after `SET time
    * zone UTC` keeps the captured zone in its `date_trunc`/cast, so
    * the straddler scan would truncate in that zone while the metadata
    * side floors in UTC (r18 ADVICE-low) — such expressions decline.
    */
  private def bucketGrain(e: Expression): Option[BucketGrain] =
    MetadataAggregateRule.bucketGrainOf(session, e).map(_._1)

  /** Bucket-FUNCTIONAL classification for grouping keys: grain + a
    * bucket-instant → key-value function
    * ([[MetadataAggregateRule.bucketValueOf]]). Superset of
    * [[bucketGrain]] adding the extract family (`year`/`quarter`/
    * `month`/`dayofmonth`/`dayofweek`/`weekday`/`hour`/`minute`), so
    * `GROUP BY year(tp_timestamp), month(tp_timestamp)` — the
    * reference's own physical partition layout — rides the hybrid.
    */
  private def bucketValue(e: Expression): Option[(BucketGrain, Long => Any)] =
    MetadataAggregateRule.bucketValueOf(session, e).map(t => (t._1, t._3))

  /** An OPTIONAL rewrite must never fail a query that would run fine
    * unrewritten: any probe failure (an unevaluable shape the
    * structural gates missed, a transient metadata I/O error) falls
    * open to the original plan with a warning, never up to the user
    * (r16 ADVICE-high: a subquery in the WHERE previously threw
    * UnsupportedOperationException out of the optimizer).
    */
  private def safely(orig: Aggregate)
      (attempt: => Option[LogicalPlan]): LogicalPlan =
    try attempt.getOrElse(orig)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(
          s"metadata-aggregate rewrite declined on error: ${e.getMessage}")
        orig
    }

  /** Descend to the lake relation through alias/view wrappers, Filters
    * (their AND-folded condition is returned) and Projects whose entries
    * are attributes or aliases of time-bucket expressions — the
    * optimizer's PullOutGroupingExpressions materializes a
    * `date_trunc(...)` grouping as a `_groupingexpression` column in
    * exactly such a Project. Any other computed alias disqualifies, as
    * does a bucket alias whose NAME shadows a column of its child (a
    * name-keyed stats lookup would otherwise serve the wrong column's
    * stats). Returns the alias bindings, so grouping attributes resolve
    * back to their bucket expressions.
    */
  private def unwrap(p: LogicalPlan): Option[
      (LogicalRelation, Option[Expression], Map[ExprId, Expression])] =
    p match {
      case s: SubqueryAlias => unwrap(s.child)
      case v: View => unwrap(v.child)
      case f: Filter => unwrap(f.child).map { case (lr, c, m) =>
        (lr, Some(c.map(And(f.condition, _)).getOrElse(f.condition)), m)
      }
      case pr: Project
          if pr.projectList.forall {
            case _: AttributeReference => true
            case al: Alias => bucketValue(al.child).isDefined &&
              !pr.child.output.exists(_.name == al.name)
            case _ => false
          } =>
        unwrap(pr.child).map { case (lr, c, m) =>
          (lr, c, m ++ pr.projectList.collect {
            case al: Alias => al.exprId -> al.child
          })
        }
      case lr: LogicalRelation => Some((lr, None, Map.empty))
      case _ => None
    }

  /** A WHERE clause is metadata-compatible iff it is deterministic and
    * references ONLY physical partition columns of convertible types —
    * then its truth is CONSTANT per file directory, and evaluating it
    * against each file's directory values is EXACTLY the partition
    * pruning a scan would do. Returns the per-file predicate, or None
    * when the condition cannot be served (the rewrite then declines).
    */
  private def partitionFilePredicate(
      lake: Lake, table: String,
      cond: Expression): Option[String => Boolean] = {
    if (!cond.deterministic) return None
    // a subquery (ScalarSubquery/InSubquery/Exists) can reference only
    // partition columns and still be Unevaluable at optimize time —
    // per-file eval would throw inside the optimizer (r16 ADVICE-high)
    if (cond.find(_.isInstanceOf[PlanExpression[_]]).isDefined)
      return None
    val refs = cond.references.toSeq
    val attrs = refs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (!attrs.forall(a =>
      TpSchema.partitionCols.contains(a.name))) return None
    if (!attrs.forall(a => dirTyped(a.dataType))) return None
    val bound = BindReferences.bindReference(cond,
      org.apache.spark.sql.catalyst.expressions.AttributeSeq(attrs))
    Some { file =>
      val pv = lake.partitionValues(lake.relOf(table, file))
      val row = InternalRow.fromSeq(attrs.map(a =>
        dirValueToInternal(pv.getOrElse(a.name, null), a.dataType)))
      val r = bound.eval(row)
      r != null && r.asInstanceOf[Boolean] // null = filtered out (SQL)
    }
  }

  private def dirValueToInternal(
      s: String, dt: org.apache.spark.sql.types.DataType): Any =
    if (s == null ||
      s == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME) null
    else dt match {
      case IntegerType => s.toInt
      case LongType => s.toLong
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    }

  /** Explain-lint probe: Some(column names) when the OPTIMIZED plan
    * still contains an Aggregate whose shape [[matchShape]] accepts —
    * the rewrite was possible but DECLINED (missing sidecar coverage,
    * unrecorded files, a bound past 2^53) — so `.explain` can tell the
    * user which stats to enable. Timed shapes and distinct-day counts
    * prove containment from `tp_timestamp` stats, so they name that
    * column. None when nothing was missed (not a candidate, or the
    * rewrite fired and no such Aggregate remains).
    */
  private[graft] def missedCandidate(
      plan: LogicalPlan): Option[Seq[String]] =
    plan.collectFirst(Function.unlift {
      case agg: Aggregate => matchShape(agg).map { m =>
        (m.specs.collect {
          case c: ColSpec => c.a.name
          case DistinctDates(_) => TpSchema.Timestamp
        } ++ (if (m.timed) Seq(TpSchema.Timestamp) else Nil)).distinct
      }
      case _ => None
    })

  private def classify(e: NamedExpression): Option[Spec] = e match {
    case Alias(ae: AggregateExpression, _) => classifyAgg(ae)
    case Alias(l: Literal, _) => Some(Passthrough(l.value))
    case _ => None
  }

  private def classifyAgg(ae: AggregateExpression): Option[Spec] =
    if (ae.filter.isDefined) None
    // count(DISTINCT tp_date) — "how many active days" (r18 verdict
    // task 6): when every file is day-contained the distinct non-null
    // date set IS the manifest's per-file day set (a day-contained
    // file with a manifest range has at least its min row on that
    // day; null dates don't count in SQL DISTINCT). Proven or
    // declined per group from the probe's per-file days; any
    // straddler declines. UTC-gated like every tp_date derivation.
    else if (ae.isDistinct) ae.aggregateFunction match {
      case Count(Seq(a: AttributeReference))
          if a.name == TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType &&
            TpSchema.isUtcZone(
              session.sessionState.conf.sessionLocalTimeZone) =>
        Some(DistinctDates(a))
      case _ => None
    }
    else ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null => Some(CountStar)
      case Count(Seq(a: AttributeReference)) => Some(CountCol(a))
      case Min(a: AttributeReference) => Some(MinCol(a))
      case Max(a: AttributeReference) => Some(MaxCol(a))
      // sum over an INTEGRAL column only: integer addition is
      // order-independent, so per-file sums merge exactly; float sums
      // are order-sensitive and never metadata-served. The result-type
      // guard keeps decimal/interval inputs out.
      case s: Sum if s.dataType == LongType => s.child match {
        case a: AttributeReference => a.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               IntegerType | LongType => Some(SumCol(a))
          case _ => None
        }
        case _ => None
      }
      // avg over an INTEGRAL column: the sidecar's exact per-file sums
      // and null counts give sum/count with one double division —
      // declined for float/double (order-sensitive double sums) and
      // decimal (different result type/rounding). Result type of
      // integral avg is DoubleType for every evalMode.
      case avg: Average => avg.child match {
        case a: AttributeReference
            if avg.dataType == org.apache.spark.sql.types.DoubleType =>
          a.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 IntegerType | LongType => Some(AvgCol(a))
            case _ => None
          }
        case _ => None
      }
      // ndv(c) — OUR registered HLL aggregate (never Spark's
      // approx_count_distinct / hll_sketch_agg, whose estimator values
      // must stay scan-derived): per-file sidecar sketches union into
      // the same defined quantity. Served for the natively-hashed
      // types (the sidecar and scan paths hash identically there).
      case graft.functions.NdvFns.NdvAgg(a: AttributeReference, _, _) =>
        a.dataType match {
          case IntegerType | LongType | StringType => Some(NdvCol(a))
          case _ => None
        }
      // graft_quantile(c, p) — OUR KLL aggregate, the distribution
      // twin of ndv: the sidecar maintains the identical sketch per
      // (file, numeric column), so merging blobs answers it scan-free
      case q: graft.functions.QuantileFns.QuantileAgg =>
        (q.left, q.right) match {
          case (a: AttributeReference, _: Literal)
              if a.dataType.isInstanceOf[
                org.apache.spark.sql.types.NumericType] =>
            scala.util.Try(q.prob).toOption.map(QuantileCol(a, _))
          case _ => None
        }
      // graft_topk(c, k) — OUR frequent-items aggregate: the sidecar
      // maintains the identical per-file sketch for STRING columns;
      // merged-exact results equal the scan's (order-independent in
      // the exact regime)
      case tk: graft.functions.TopKFns.TopKAgg => tk.left match {
        case a: AttributeReference if a.dataType == StringType =>
          scala.util.Try(tk.k).toOption.map(TopKCol(a, _))
        case _ => None
      }
      case _ => None
    }

  /** Step 1, match: the servable shape of `agg`, or None. Metadata-free
    * (a pattern match plus expression analysis), so a non-candidate
    * query pays nothing else, and the explain lint shares it.
    */
  private def matchShape(agg: Aggregate): Option[Shape] = {
    val (lr, cond, aliases) = unwrap(agg.child).getOrElse(return None)
    val (lake, table) = (lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case z: ZoneMapFileIndex => z.owner
        case _ => None
      }
      case _ => None
    }).getOrElse(return None)
    val grouping = agg.groupingExpressions
    // each key is a time bucket (resolved through the pulled-out
    // grouping aliases) or a physical partition column, whose directory
    // value is the column's value for every row of a file
    val keys: Seq[Key] = grouping.map { g =>
      val resolved = g match {
        case a: AttributeReference => aliases.getOrElse(a.exprId, a)
        case e => e
      }
      bucketValue(resolved) match {
        case Some((gr, valueOf)) => BucketKey(gr, valueOf)
        case None => g match {
          case a: AttributeReference
              if TpSchema.partitionCols.contains(a.name) &&
                dirTyped(a.dataType) => PartKey(a)
          case _ => return None
        }
      }
    }
    // containment proves on the FINEST grain present, one whose buckets
    // refine every other bucket key's (week × month has none)
    val grains = keys.collect { case BucketKey(gr, _) => gr }
    val grain =
      if (grains.isEmpty) None
      else Some(grains.find(a => grains.forall(refines(a, _)))
        .getOrElse(return None))
    // WHERE: partition-only, or a tp band set beside a partition-only
    // rest; no band = the full range
    val (bands, partCond) = cond match {
      case Some(c) if partitionFilePredicate(lake, table, c).isEmpty =>
        splitBands(c) match {
          case Some((bs, n, rest)) if n > 0 => (Some(bs), rest)
          // only band-neutral conjuncts (isnotnull(tp_timestamp)) beside
          // the rest: sound when bucket containment proves every
          // metadata-served file null-ts-free
          case Some((_, _, rest)) if grain.isDefined => (None, rest)
          case _ => return None
        }
      case c => (None, c)
    }
    if (bands.exists(_.isEmpty)) return None
    val fileFilter: String => Boolean = partCond match {
      case None => _ => true
      case Some(pc) =>
        partitionFilePredicate(lake, table, pc).getOrElse(return None)
    }
    val specs = agg.aggregateExpressions.map {
      case a: AttributeReference => keyIndex(grouping, a).map(GroupKey)
      case al @ Alias(child, _) =>
        keyIndex(grouping, child).map(GroupKey)
          .orElse(classify(al)).orElse(derivedKey(grouping, al))
      case e => classify(e)
    }.map(_.getOrElse(return None))
    val shape =
      Shape(agg, lr, lake, table, keys, grain, bands, fileFilter, specs)
    // top-k has no scan partial to merge, and timed shapes keep the
    // scan for it even when nothing straddles
    if (shape.timed && specs.exists(_.isInstanceOf[TopKCol])) None
    else Some(shape)
  }

  private def keyIndex(
      grouping: Seq[Expression], e: Expression): Option[Int] = {
    val i = grouping.indexWhere(_.semanticEquals(e))
    if (i < 0) None else Some(i)
  }

  /** An output DERIVED from group keys only — `cast(day_bucket AS
    * date)`, `year(tp_date)` — is served by substituting the keys into
    * the expression (Literals on the metadata side, the union's key
    * columns on the straddler side). Deterministic, aggregate-free,
    * evaluable, references ⊆ grouping attributes.
    */
  private def derivedKey(
      grouping: Seq[Expression], al: Alias): Option[Spec] = {
    val e = al.child
    if (!e.deterministic) return None
    // attrs are Unevaluable but get substituted before any eval — only
    // OTHER unevaluable nodes (subqueries, grouping__id, ...) disqualify
    if (e.find(x => x.isInstanceOf[AggregateExpression] ||
      x.isInstanceOf[PlanExpression[_]] ||
      (x.isInstanceOf[Unevaluable] &&
        !x.isInstanceOf[AttributeReference])).isDefined) return None
    if (e.references.isEmpty) return None
    if (!e.references.toSeq.forall {
      case a: AttributeReference => keyIndex(grouping, a).isDefined
      case _ => false
    }) return None
    Some(GroupDerived(e))
  }

  /** Steps 2 and 3: one metadata probe, then the emit. */
  private def rewrite(m: Shape): Option[LogicalPlan] = {
    val grouping = m.agg.groupingExpressions
    val dirCols = m.keys.collect { case PartKey(a) => a.name }
    val groupOf: String => Seq[String] =
      if (dirCols.isEmpty) _ => Nil
      else f => {
        val pv = m.lake.partitionValues(m.lake.relOf(m.table, f))
        dirCols.map(pv.getOrElse(_, null))
      }
    val time =
      if (!m.timed) None
      else Some(Lake.TimeSplit(m.bands.getOrElse(Seq(Lake.FullRange)),
        m.grain.map(g => g.idOf _)))
    val probe = m.lake.metaAggregate(session, m.table, needsOf(m.specs),
      groupOf, m.fileFilter, time).getOrElse(return None)
    // untimed shapes are all-or-nothing; a timed hybrid buys nothing
    // unless metadata answers at least one file
    if (if (m.timed) probe.contained == 0 else probe.straddlers.nonEmpty)
      return None
    val groups =
      if (m.keys.isEmpty && probe.groups.isEmpty)
        Seq(Nil -> Lake.StatsAggParts.empty)
      else probe.groups
    if (!groups.forall { case (_, p) => m.specs.forall(exact(p, _, m.timed)) })
      return None
    // key values per group: a bucketed probe key leads with the bucket
    // id, and each bucket key's value derives from that bucket's start
    // (constant across the bucket by the refinement gate)
    val rows: Seq[(Seq[Any], Lake.StatsAggParts)] = groups.map {
      case (key, p) =>
        val (bucket, dirs) =
          if (m.grain.isDefined) (key.head.toLong, key.tail) else (0L, key)
        val dirVals = dirs.iterator
        (m.keys.map {
          case BucketKey(_, valueOf) => valueOf(m.grain.get.startUs(bucket))
          case PartKey(a) => dirValueToInternal(dirVals.next(), a.dataType)
        }, p)
    }
    // an extract key can map several buckets onto one value (hour of
    // day across days): then even a contained answer needs the merge
    if (probe.straddlers.nonEmpty || rows.map(_._1).distinct.size < rows.size)
      return hybrid(m, rows, probe.straddlers)
    logInfo(s"metadata-aggregate rewrite fired for lake table " +
      s"'${m.table}': ${rows.size} group(s) answered from metadata")
    Some(LocalRelation(m.agg.aggregateExpressions.map(_.toAttribute),
      rows.map { case (kv, p) =>
        InternalRow.fromSeq(m.specs.map(finalValue(grouping, kv, p, _)))
      }))
  }

  /** Exactness gates on one group's metadata partial. */
  private def exact(p: Lake.StatsAggParts, s: Spec, timed: Boolean)
      : Boolean = s match {
    // a sum past Long.MaxValue has no exact BIGINT value
    case SumCol(a) => p.sums.get(a.name).forall(_.isValidLong)
    // past 2^53 a scan's double accumulation can drift from the exact
    // quotient; timed hybrids merge avg as that quotient either way
    case AvgCol(a) =>
      timed || p.sums.get(a.name).forall(_.abs <= MaxExactAvgSum)
    // the MERGED top-k sketch must be provably exact (no eviction)
    case TopKCol(a, _) => p.mgBlobs.get(a.name).exists(b =>
      graft.functions.TopKFns.isExact(graft.functions.TopKFns.fromBlob(b)))
    // every file must lie on one provable day
    case DistinctDates(_) => p.dayIds.isDefined
    case _ => true
  }

  /** FINAL value of one output for one fully metadata-served group. */
  private def finalValue(grouping: Seq[Expression], kv: Seq[Any],
      p: Lake.StatsAggParts, s: Spec): Any = s match {
    case GroupKey(i) => kv(i)
    // keys become Literals, then one driver-side eval (derivedKey gated
    // determinism and evaluability; a throwing expr falls open)
    case GroupDerived(e) => e.transform {
      case a: AttributeReference if keyIndex(grouping, a).isDefined =>
        val i = keyIndex(grouping, a).get
        Literal(kv(i), grouping(i).dataType)
    }.eval(null)
    case DistinctDates(_) => Long.box(p.dayIds.get.size.toLong)
    case Passthrough(v) => v // Literal.value is already internal
    case AvgCol(a) =>
      val n = p.counts.getOrElse(a.name, 0L)
      if (n == 0L) null // SQL avg of no rows
      else p.sums.get(a.name).map(v => Double.box(v.toDouble / n)).orNull
    case NdvCol(a) => Long.box(p.ndvs.getOrElse(a.name, 0L))
    case QuantileCol(a, prob) => p.kllBlobs.get(a.name)
      .flatMap(graft.functions.QuantileFns.blobQuantile(_, prob))
      .map(Double.box).orNull
    case TopKCol(a, k) => graft.functions.TopKFns.topKInternal(
      graft.functions.TopKFns.fromBlob(p.mgBlobs(a.name)), k)
    case other => metaSlotValues(p, other).head
  }

  /** The hybrid emit: local metadata partial rows (key slots, then value
    * slots) unioned with a partial aggregate over the straddler files
    * ONLY — the original child with its relation restricted to those
    * files and its filter intact, grouped by the ORIGINAL grouping
    * expressions so straddler rows land in their true keys (null ts
    * rows in the null bucket) — under one merge aggregate that carries
    * the original output names and ids. The grouped merge IS the key
    * alignment. None when an output has no scan partial to merge.
    */
  private def hybrid(m: Shape, rows: Seq[(Seq[Any], Lake.StatsAggParts)],
      straddlers: Seq[String]): Option[LogicalPlan] = {
    val grouping = m.agg.groupingExpressions
    val valueSpecs = m.specs.filter {
      case _: GroupKey | _: GroupDerived => false
      case _ => true
    }
    val slotGroups: Seq[Seq[AttributeReference]] =
      valueSpecs.zipWithIndex.map { case (s, i) =>
        slotTypesOf(s).zipWithIndex.map { case (dt, j) =>
          AttributeReference(s"_meta_v${i}_$j", dt)()
        }
      }
    val partialValues: Seq[NamedExpression] =
      valueSpecs.zip(slotGroups).flatMap { case (s, slots) =>
        partialSlotExprs(s, slots).getOrElse(return None)
      }
    val keySlots = grouping.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"_meta_k$i", g.dataType)()
    }
    val local = LocalRelation(keySlots ++ slotGroups.flatten,
      rows.map { case (kv, p) =>
        InternalRow.fromSeq(kv ++ valueSpecs.flatMap(metaSlotValues(p, _)))
      })
    val fsRel = m.lr.relation.asInstanceOf[HadoopFsRelation]
    val straddlerRel = HadoopFsRelation(
      new InMemoryFileIndex(session,
        straddlers.map(new org.apache.hadoop.fs.Path(_)),
        Map("basePath" -> m.lake.tableDir(m.table)), None),
      fsRel.partitionSchema, fsRel.dataSchema, fsRel.bucketSpec,
      fsRel.fileFormat, fsRel.options)(session)
    val swapped = m.agg.child.transform {
      case l: LogicalRelation if l eq m.lr => m.lr.copy(relation = straddlerRel)
    }
    // prune the scan to the aggregated and grouped columns (the
    // optimizer's ColumnPruning already ran; without this Project the
    // straddler scan would read every column)
    val neededIds = (valueSpecs.collect { case c: ColSpec => c.a.exprId } ++
      grouping.flatMap(_.references.map(_.exprId))).toSet
    val needed = m.agg.child.output.filter(a => neededIds.contains(a.exprId))
    val pruned = if (needed.nonEmpty) Project(needed, swapped) else swapped
    val partialKeys: Seq[NamedExpression] = grouping.zipWithIndex.map {
      case (a: AttributeReference, _) => a
      case (g, i) => Alias(g, s"_meta_k$i")()
    }
    val union = Union(Seq(local,
      Aggregate(grouping, partialKeys ++ partialValues, pruned)))
    val out = union.output
    val offsets = slotGroups.scanLeft(grouping.size)(_ + _.size).iterator
    val merged: Seq[NamedExpression] =
      m.agg.aggregateExpressions.zip(m.specs).map {
        case (orig, GroupKey(k)) =>
          Alias(out(k), orig.name)(exprId = orig.exprId)
        // functionally determined by the keys: substitute the union's
        // key columns into the expression
        case (orig, GroupDerived(e)) => Alias(e.transform {
          case a: AttributeReference if keyIndex(grouping, a).isDefined =>
            out(keyIndex(grouping, a).get)
        }, orig.name)(exprId = orig.exprId)
        case (orig, s) =>
          mergeExprFor(s, orig, out, offsets.next()).getOrElse(return None)
      }
    logInfo(s"metadata-aggregate rewrite fired for lake table " +
      s"'${m.table}': ${rows.size} group(s) from metadata + " +
      s"${straddlers.size} straddler file(s) scanned in-plan")
    Some(Aggregate(out.take(grouping.size), merged, union))
  }

  /** The per-column metadata each spec reads, built once. */
  private def needsOf(specs: Seq[Spec]): Lake.ColumnNeeds = {
    def names(pf: PartialFunction[Spec, AttributeReference]): Set[String] =
      specs.collect(pf).map(_.name).toSet
    Lake.ColumnNeeds(
      counted = names { case CountCol(a) => a; case AvgCol(a) => a },
      ranged = names { case MinCol(a) => a; case MaxCol(a) => a },
      summed = names { case SumCol(a) => a; case AvgCol(a) => a },
      ndv = names { case NdvCol(a) => a },
      kll = names { case QuantileCol(a, _) => a },
      topk = names { case TopKCol(a, _) => a })
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Split a conjunct list into a `tp_timestamp` band in micros
    * `(lo, hi, band conjunct count, residual non-band conjuncts)`.
    * Strict bounds convert exactly (`> X` ≡ `>= X+1µs`); equality is the
    * one-point band. `tp_date` comparisons fold into the SAME micros
    * band (epoch-day × [[TpSchema.DayUs]], exact in a long for every
    * representable date) because the engine derives `tp_date =
    * date_trunc(day, tp_timestamp)` under its always-UTC sessions, so
    * `tp_date >= D` ≡ `tp_timestamp >= D 00:00:00 UTC` row-for-row.
    * Date folding is gated on the READER session being UTC too — a
    * non-UTC session signals a deployment where the UTC-writer
    * convention may not hold, so date conjuncts then land in the
    * residual and the rewrite declines to the zoned scan. None when a
    * band conjunct has a null/odd literal.
    */
  private def splitBandExprs(cs: Seq[Expression])
      : Option[(Long, Long, Int, Seq[Expression])] = {
    val utc = TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)
    def isTs(a: AttributeReference): Boolean =
      a.name == TpSchema.Timestamp &&
        a.dataType == org.apache.spark.sql.types.TimestampType
    def isDate(a: AttributeReference): Boolean =
      utc && a.name == TpSchema.Date &&
        a.dataType == org.apache.spark.sql.types.DateType
    // a comparison leaf as half-band bounds in micros:
    // (loBound, hiBound) with None = unbounded on that side; returns
    // None (decline) for a null literal on a matched column
    sealed trait Half
    case object NotBand extends Half
    case object Bad extends Half
    final case class Band(lo: Option[Long], hi: Option[Long]) extends Half
    def us(l: Literal): Option[Long] = l.dataType match {
      case org.apache.spark.sql.types.TimestampType
          if l.value != null => Some(l.value.asInstanceOf[Long])
      case _ => None
    }
    def day(l: Literal): Option[Int] = l.dataType match {
      case org.apache.spark.sql.types.DateType
          if l.value != null => Some(l.value.asInstanceOf[Int])
      case _ => None
    }
    // op ∈ {ge, gt, le, lt, eq} against (attr, literal) in attr-first
    // orientation
    def half(op: String, a: AttributeReference, l: Literal): Half =
      if (isTs(a)) us(l) match {
        case None => Bad
        case Some(v) => op match {
          case "ge" => Band(Some(v), None)
          case "gt" => if (v < Long.MaxValue) Band(Some(v + 1), None)
            else Bad
          case "le" => Band(None, Some(v))
          case "lt" => if (v > Long.MinValue) Band(None, Some(v - 1))
            else Bad
          case "eq" => Band(Some(v), Some(v))
        }
      } else if (isDate(a)) day(l) match {
        case None => Bad
        case Some(d) => op match {
          // tp_date >= D ⇔ ts >= D·day; tp_date <= D ⇔ ts < (D+1)·day
          case "ge" => Band(Some(d.toLong * DayUs), None)
          case "gt" => Band(Some((d.toLong + 1) * DayUs), None)
          case "le" => Band(None, Some((d.toLong + 1) * DayUs - 1))
          case "lt" => Band(None, Some(d.toLong * DayUs - 1))
          case "eq" => Band(Some(d.toLong * DayUs),
            Some((d.toLong + 1) * DayUs - 1))
        }
      } else NotBand
    // bucket-expression comparisons — the "report for month X" filter
    // shape: `date_trunc('MONTH', tp_timestamp) = TIMESTAMP 'v'` /
    // `trunc(tp_date, 'MM') >= DATE 'v'` / `cast(tp_timestamp AS date)
    // <= DATE 'v'` fold EXACTLY into micros bands because a bucket
    // expression takes only bucket-START values: trunc(ts) >= v ⇔ ts
    // lies in a bucket whose start >= v ⇔ ts >= first start >= v, and
    // equality to a non-start is unsatisfiable (the empty band). Bare
    // tp_timestamp/tp_date attrs keep the direct folds above.
    def isBucketExpr(e: Expression): Boolean =
      !e.isInstanceOf[AttributeReference] &&
        (bucketGrain(e).isDefined ||
          MetadataAggregateRule.yearExtractSrcOf(session, e).isDefined)
    def bucketLitUs(e: Expression, l: Literal): Option[Long] =
      (e.dataType, l.dataType) match {
        case (org.apache.spark.sql.types.TimestampType,
            org.apache.spark.sql.types.TimestampType)
            if l.value != null =>
          Some(l.value.asInstanceOf[Long])
        case (org.apache.spark.sql.types.DateType,
            org.apache.spark.sql.types.DateType) if l.value != null =>
          Some(l.value.asInstanceOf[Int].toLong * DayUs)
        case _ => None
      }
    // (grain, bucket id, aligned-on-a-start) of a bucket-expression
    // or year-extract comparison; a year literal IS an always-aligned
    // YEAR bucket id (0..9999 only — overflow guard)
    def bucketIdOf(e: Expression, l: Literal)
        : Option[(MetadataAggregateRule.BucketGrain, Long, Boolean)] =
      bucketGrain(e) match {
        case Some(g) => bucketLitUs(e, l).map { v =>
          val id = g.idOf(v); (g, id, g.startUs(id) == v)
        }
        case None => l.dataType match {
          case IntegerType if l.value != null =>
            val y = l.value.asInstanceOf[Int]
            if (y < 0 || y > 9999) None
            else Some((MetadataAggregateRule.MonthsGrain(12),
              y.toLong, true))
          case _ => None
        }
      }
    def bucketHalf(op: String, e: Expression, l: Literal): Half =
      bucketIdOf(e, l) match {
        case None => Bad
        case Some((g, id, aligned)) =>
          val ceilId = if (aligned) id else id + 1
          op match {
            case "ge" => Band(Some(g.startUs(ceilId)), None)
            case "gt" => Band(Some(g.startUs(id + 1)), None)
            case "le" => Band(None, Some(g.startUs(id + 1) - 1))
            case "lt" => Band(None, Some(g.startUs(ceilId) - 1))
            case "eq" =>
              if (aligned)
                Band(Some(g.startUs(id)), Some(g.startUs(id + 1) - 1))
              else Band(Some(0L), Some(-1L)) // unsatisfiable: empty
          }
      }
    def classifyLeaf(e: Expression): Half = e match {
      case cmp: BinaryComparison =>
        // lit OP x ≡ x FLIP(OP) lit
        val (x, l, flip) = (cmp.left, cmp.right) match {
          case (x, l: Literal) => (x, l, false)
          case (l: Literal, x) => (x, l, true)
          case _ => return NotBand
        }
        (bandOp(cmp, flip), x) match {
          case (Some(op), a: AttributeReference) => half(op, a, l)
          case (Some(op), b) if isBucketExpr(b) => bucketHalf(op, b, l)
          case _ => NotBand
        }
      case _ => NotBand
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var nBand = 0
    val rest = Seq.newBuilder[Expression]
    cs.foreach { c =>
      c match {
        // band-neutral: rows failing them fail the band anyway, and
        // tp_date is null exactly when tp_timestamp is (derived);
        // bucket expressions are null iff their source column is
        case IsNotNull(a: AttributeReference)
            if isTs(a) || isDate(a) => ()
        case IsNotNull(e) if isBucketExpr(e) => ()
        case other => classifyLeaf(other) match {
          case Band(l, h) =>
            l.foreach(v => lo = math.max(lo, v))
            h.foreach(v => hi = math.min(hi, v))
            nBand += 1
          case Bad => return None
          case NotBand => rest += other
        }
      }
    }
    Some((lo, hi, nBand, rest.result()))
  }

  /** A WHERE as `(disjoint sorted micros bands, band conjunct count,
    * residual)`, folding [[splitBandExprs]] over an OR of bands too
    * (the multi-window dashboard shape, `WHERE ts BETWEEN a AND b OR ts
    * BETWEEN c AND d`): at most ONE conjunct may be a disjunction
    * whose EVERY branch folds to a pure band (band leaves only, no
    * residual inside a branch — a non-band residual can't be factored
    * out of an OR); plain band conjuncts intersect every branch, and
    * overlapping/adjacent branches MERGE into a canonical disjoint
    * sorted set (sound: the predicate is exactly the union of the
    * intervals, and a file spanning two merged-apart bands has gap
    * rows that fail the filter — so containment stays per-band).
    * Returns (disjoint sorted bands, band-conjunct count, residual).
    */
  private def splitBands(cond: Expression)
      : Option[(Seq[(Long, Long)], Int, Option[Expression])] = {
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case x => Seq(x)
    }
    var orBands: Option[Seq[(Long, Long)]] = None
    val single = Seq.newBuilder[Expression]
    // a band set from a list of equality-shaped members (the IN-list
    // is semantically OR-of-equalities: `tp_date IN (d1, d2)`,
    // `date_trunc('MONTH', ts) IN (m1, m2)`, `year(ts) IN (y1, y2)`)
    def eqBands(mk: Seq[Expression]): Option[Seq[(Long, Long)]] = {
      val folded = mk.map(e => splitBandExprs(Seq(e)))
      if (folded.forall(_.exists { case (l, h, n, r) =>
        n > 0 && r.isEmpty && l <= h
      }))
        Some(folded.map(_.get).map { case (l, h, _, _) => (l, h) })
      else None
    }
    conjunctsOf(cond).foreach { c =>
      val asOr: Option[Seq[(Long, Long)]] = c match {
        case o: Or if orBands.isEmpty =>
          val folded = disjuncts(o).map(d => splitBandExprs(conjunctsOf(d)))
          if (folded.forall(_.exists { case (l, h, n, r) =>
            n > 0 && r.isEmpty && l <= h
          }))
            Some(folded.map(_.get).map { case (l, h, _, _) => (l, h) })
          else None
        case In(e, lits) if orBands.isEmpty &&
            lits.forall(_.isInstanceOf[Literal]) =>
          eqBands(lits.map(l => EqualTo(e, l)))
        case InSet(e, hset) if orBands.isEmpty =>
          eqBands(hset.toSeq.map(v =>
            EqualTo(e, Literal(v, e.dataType))))
        case _ => None
      }
      asOr match {
        case Some(bs) => orBands = Some(bs)
        case None => single += c
      }
    }
    val (glo, ghi, gn, grest) =
      splitBandExprs(single.result()).getOrElse(return None)
    val bands0: Seq[(Long, Long)] = orBands match {
      case None =>
        if (gn > 0) Seq((glo, ghi)).filter { case (l, h) => l <= h }
        else Seq.empty
      case Some(bs) => bs
        .map { case (l, h) => (math.max(l, glo), math.min(h, ghi)) }
        .filter { case (l, h) => l <= h }
    }
    val merged = bands0.sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) { case (acc, (l, h)) =>
        acc.lastOption match {
          // overlap or micros-adjacency: [a,x] ∪ [x+1,b] = [a,b]
          case Some((pl, ph))
              if ph == Long.MaxValue || l <= ph + 1 =>
            acc.init :+ ((pl, math.max(ph, h)))
          case _ => acc :+ ((l, h))
        }
      }
    Some((merged, gn + (if (orBands.isDefined) 1 else 0),
      grest.reduceOption(And)))
  }

  // ---- hybrid slot machinery ----
  //
  // Most aggregates occupy ONE union slot (their mergeable partial is
  // themselves: counts/sums add, ranges re-extremize). `avg` needs TWO
  // — an exact DECIMAL(38,0) sum and a count — merged by one double
  // division at the very top, so the hybrid answer equals the pure-
  // metadata formula (exact total / count) regardless of how rows
  // split between contained files and straddlers.

  private def slotTypesOf(s: Spec): Seq[org.apache.spark.sql.types.DataType] =
    s match {
      case CountStar | CountCol(_) | SumCol(_) => Seq(LongType)
      case MinCol(a) => Seq(a.dataType)
      case MaxCol(a) => Seq(a.dataType)
      case AvgCol(_) =>
        Seq(org.apache.spark.sql.types.DecimalType(38, 0), LongType)
      // ndv/quantile union through the hybrid as sketch BYTES:
      // estimates don't add, sketches do
      case NdvCol(_) => Seq(org.apache.spark.sql.types.BinaryType)
      case QuantileCol(_, _) => Seq(org.apache.spark.sql.types.BinaryType)
      case _ => Nil
    }

  /** Metadata-partial values for one spec, one per slot. */
  private def metaSlotValues(
      parts: Lake.StatsAggParts, s: Spec): Seq[Any] = s match {
    case CountStar => Seq(parts.nRows)
    case CountCol(a) => Seq(parts.counts.getOrElse(a.name, 0L))
    case MinCol(a) => Seq(CatalystTypeConverters.convertToCatalyst(
      parts.mins.get(a.name).orNull))
    case MaxCol(a) => Seq(CatalystTypeConverters.convertToCatalyst(
      parts.maxs.get(a.name).orNull))
    case SumCol(a) =>
      Seq(parts.sums.get(a.name).map(s0 => Long.box(s0.toLong)).orNull)
    case AvgCol(a) => Seq(
      parts.sums.get(a.name).map(v =>
        org.apache.spark.sql.types.Decimal(BigDecimal(v), 38, 0)).orNull,
      parts.counts.getOrElse(a.name, 0L))
    case NdvCol(a) => Seq(parts.ndvBlobs.get(a.name).orNull)
    case QuantileCol(a, _) => Seq(parts.kllBlobs.get(a.name).orNull)
    case _ => Nil
  }

  /** Straddler-scan partial aggregates for one spec, aliased onto its
    * slots. None for a spec with no mergeable partial (top-k, distinct
    * days, a literal): the hybrid then declines.
    */
  private def partialSlotExprs(
      s: Spec, slots: Seq[AttributeReference]): Option[Seq[NamedExpression]] = {
    def alias(fn: AggregateFunction, slot: AttributeReference) =
      Alias(fn.toAggregateExpression(), slot.name)(exprId = slot.exprId)
    s match {
      case CountStar => Some(Seq(alias(Count(Literal(1)), slots.head)))
      case CountCol(a) => Some(Seq(alias(Count(a), slots.head)))
      case MinCol(a) => Some(Seq(alias(Min(a), slots.head)))
      case MaxCol(a) => Some(Seq(alias(Max(a), slots.head)))
      case SumCol(a) => Some(Seq(alias(Sum(a), slots.head)))
      case AvgCol(a) => Some(Seq(
        // exact decimal accumulation: a long-typed straddler sum must
        // not wrap, and decimal(38,0) merges exactly with the metadata
        // partial's BigInt total
        alias(Sum(Cast(a,
          org.apache.spark.sql.types.DecimalType(38, 0))), slots.head),
        alias(Count(a), slots(1))))
      case NdvCol(a) => Some(Seq(
        alias(graft.functions.NdvFns.NdvSketchAgg(a), slots.head)))
      case QuantileCol(a, _) => Some(Seq(
        alias(graft.functions.KllFns.KllSketchAgg(a), slots.head)))
      case _ => None
    }
  }

  /** Final merge expression over the union for one spec at its slot
    * offset, carrying the ORIGINAL output name/exprId.
    */
  private def mergeExprFor(
      s: Spec, orig: NamedExpression,
      unionOut: Seq[Attribute], off: Int): Option[NamedExpression] =
    s match {
      case CountStar | CountCol(_) | SumCol(_) => Some(Alias(
        Sum(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case MinCol(_) => Some(Alias(
        Min(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case MaxCol(_) => Some(Alias(
        Max(unionOut(off)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case AvgCol(_) =>
        val total = Sum(unionOut(off)).toAggregateExpression()
        val n = Sum(unionOut(off + 1)).toAggregateExpression()
        Some(Alias(
          If(EqualTo(n, Literal(0L)),
            Literal(null, org.apache.spark.sql.types.DoubleType),
            Divide(Cast(total, org.apache.spark.sql.types.DoubleType),
              Cast(n, org.apache.spark.sql.types.DoubleType))),
          orig.name)(exprId = orig.exprId))
      case NdvCol(_) => Some(Alias(
        graft.functions.NdvFns.NdvUnionAgg(unionOut(off))
          .toAggregateExpression(), orig.name)(exprId = orig.exprId))
      case QuantileCol(_, prob) => Some(Alias(
        graft.functions.QuantileFns.QuantileUnionAgg(unionOut(off),
          Literal(prob)).toAggregateExpression(), orig.name)(
        exprId = orig.exprId))
      case _ => None
    }
}

object MetadataAggregateRule {

  /** Grain + UNDERLYING source attribute of a bucket expression — the
    * classification behind the class's `bucketGrain` and the rewrite
    * target [[BucketFilterBandRule]] needs. Forms: the `tp_date`
    * column itself (day), `date_trunc(grain, tp_timestamp)` for every
    * grain SECOND..YEAR, `cast(tp_timestamp AS date)`, and
    * `trunc(tp_date, fmt)`. Gated on the reader session being exactly
    * UTC ([[TpSchema.isUtcZone]]) and on any zone RESOLVED INTO the
    * expression at analysis being UTC too (r18 ADVICE-low).
    */
  private[lake] def bucketGrainOf(
      session: SparkSession, e: Expression)
      : Option[(BucketGrain, AttributeReference)] = {
    if (!TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    def embeddedUtc(tz: Option[String]): Boolean =
      tz.forall(TpSchema.isUtcZone)
    def months(fmt: org.apache.spark.unsafe.types.UTF8String)
        : Option[BucketGrain] =
      fmt.toString.toUpperCase(java.util.Locale.ROOT) match {
        case "WEEK" => Some(WeekGrain)
        case "MONTH" | "MON" | "MM" => Some(MonthsGrain(1))
        case "QUARTER" => Some(MonthsGrain(3))
        case "YEAR" | "YYYY" | "YY" => Some(MonthsGrain(12))
        case _ => None
      }
    e match {
      case a: AttributeReference
          if a.name == TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType =>
        Some((FixedGrain(DayUs), a))
      case TruncTimestamp(
          Literal(fmt: org.apache.spark.unsafe.types.UTF8String,
            StringType),
          ts: AttributeReference, tz)
          if ts.name == TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtc(tz) =>
        (fmt.toString.toUpperCase(java.util.Locale.ROOT) match {
          case "DAY" | "DD" => Some(FixedGrain(DayUs))
          case "HOUR" => Some(FixedGrain(3600000000L))
          case "MINUTE" => Some(FixedGrain(60000000L))
          case "SECOND" => Some(FixedGrain(1000000L))
          case "MILLISECOND" => Some(FixedGrain(1000L))
          case _ => months(fmt)
        }).map(g => (g, ts))
      // `cast(tp_timestamp AS date)` / `to_date(tp_timestamp)` — the
      // third spelling of the day bucket: under UTC the cast is
      // exactly floorDiv(micros, day), the same epoch-day key
      case Cast(ts: AttributeReference,
          org.apache.spark.sql.types.DateType, tz, _)
          if ts.name == TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtc(tz) =>
        Some((FixedGrain(DayUs), ts))
      // `trunc(tp_date, 'MM'/'WEEK'/...)` — the monthly report over
      // the DATE column (DateType key; dates are tz-free, but the
      // file's date derivation still rides the UTC-writer convention,
      // gated at the top)
      case TruncDate(d: AttributeReference,
          Literal(fmt: org.apache.spark.unsafe.types.UTF8String,
            StringType))
          if d.name == TpSchema.Date &&
            d.dataType == org.apache.spark.sql.types.DateType =>
        months(fmt).map(g => (g, d))
      case _ => None
    }
  }

  /** Bucket-FUNCTIONAL grouping expression: grain + underlying source
    * attribute + a function from any instant (micros) WITHIN a bucket
    * of that grain to the expression's Catalyst-internal value — the
    * value is constant across the bucket, so a file whose manifest ts
    * range is bucket-contained puts ALL its rows on one key. Superset
    * of [[bucketGrainOf]] (whose shapes map an instant to the
    * bucket-start key) adding the EXTRACT family:
    *
    *  - `year`/`quarter`/`month` over `tp_timestamp`/`tp_date` —
    *    calendar fields, grains MONTHS(12/3/1). `GROUP BY year(ts),
    *    month(ts)` is the reference's own physical partition layout
    *    (`/root/reference/internal/database/ducklake_table.go:36-44`)
    *    — THE layout-native report.
    *  - `dayofmonth`/`dayofweek`/`weekday` — day-grain profiles (the
    *    day-of-week activity report is scan-free on a day-aligned
    *    lake, i.e. after `compact --align day`)
    *  - `hour`/`minute` — fixed-width time-of-day profiles (serve
    *    only when files are hour/minute-contained; decline to the
    *    scan otherwise, which is the correct answer for typical file
    *    layouts)
    *
    * Same UTC gates as [[bucketGrainOf]]: the session must be exactly
    * UTC and any zone resolved into a cast/extract at analysis must
    * normalize to UTC.
    */
  private def embeddedUtcZone(tz: Option[String]): Boolean =
    tz.forall(TpSchema.isUtcZone)

  /** tp_date attr, or cast(tp_timestamp AS date) under UTC — the two
    * date-typed spellings the extract functions get analyzed onto.
    */
  private def dateSrcOf(c: Expression): Option[AttributeReference] =
    c match {
      case a: AttributeReference
          if a.name == TpSchema.Date &&
            a.dataType == org.apache.spark.sql.types.DateType =>
        Some(a)
      case Cast(ts: AttributeReference,
          org.apache.spark.sql.types.DateType, tz, _)
          if ts.name == TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType &&
            embeddedUtcZone(tz) =>
        Some(ts)
      case _ => None
    }

  /** `year(tp_timestamp/tp_date)` — the ONE extract monotone in
    * micros, so its comparisons fold into exact time bands (the
    * archive filter `WHERE year(ts) = 2024`). Only calendar years
    * 0..9999 fold — anything else declines rather than risking micros
    * overflow in the bucket-start arithmetic.
    */
  private[lake] def yearExtractSrcOf(
      session: SparkSession, e: Expression)
      : Option[AttributeReference] = {
    if (!TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    e match {
      case Year(c) => dateSrcOf(c)
      case _ => None
    }
  }

  private[lake] def bucketValueOf(
      session: SparkSession, e: Expression)
      : Option[(BucketGrain, AttributeReference, Long => Any)] = {
    if (!TpSchema.isUtcZone(
      session.sessionState.conf.sessionLocalTimeZone)) return None
    def embeddedUtc(tz: Option[String]): Boolean = embeddedUtcZone(tz)
    def dateSrc(c: Expression): Option[AttributeReference] = dateSrcOf(c)
    def tsSrc(c: Expression): Option[AttributeReference] = c match {
      case ts: AttributeReference
          if ts.name == TpSchema.Timestamp &&
            ts.dataType == org.apache.spark.sql.types.TimestampType =>
        Some(ts)
      case _ => None
    }
    def utcDate(us: Long): java.time.LocalDate =
      java.time.LocalDate.ofEpochDay(Math.floorDiv(us, DayUs))
    val DayGrain = FixedGrain(DayUs)
    e match {
      case Year(c) => dateSrc(c).map(src =>
        (MonthsGrain(12), src, (us: Long) => utcDate(us).getYear))
      case Quarter(c) => dateSrc(c).map(src =>
        (MonthsGrain(3), src,
          (us: Long) => (utcDate(us).getMonthValue - 1) / 3 + 1))
      case Month(c) => dateSrc(c).map(src =>
        (MonthsGrain(1), src, (us: Long) => utcDate(us).getMonthValue))
      case DayOfMonth(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) => utcDate(us).getDayOfMonth))
      // Spark dayofweek: 1=Sunday..7=Saturday; epoch day 0 = Thursday
      case DayOfWeek(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) =>
          (Math.floorMod(Math.floorDiv(us, DayUs) + 4, 7) + 1).toInt))
      // Spark weekday: 0=Monday..6=Sunday
      case WeekDay(c) => dateSrc(c).map(src =>
        (DayGrain, src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, DayUs) + 3, 7).toInt))
      case Hour(c, tz) if embeddedUtc(tz) => tsSrc(c).map(src =>
        (FixedGrain(3600000000L), src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, 3600000000L), 24).toInt))
      case Minute(c, tz) if embeddedUtc(tz) => tsSrc(c).map(src =>
        (FixedGrain(60000000L), src, (us: Long) =>
          Math.floorMod(Math.floorDiv(us, 60000000L), 60).toInt))
      case _ => bucketGrainOf(session, e).map { case (g, src) =>
        (g, src, (us: Long) => g.internalKey(e.dataType, g.idOf(us)))
      }
    }
  }

  /** A comparison's operator as ge/gt/le/lt/eq, restated for the
    * `x OP literal` orientation when the literal sits on the left
    * (`flip`). None for EqualNullSafe: `trunc(ts) <=> lit` is FALSE,
    * not null, for a null ts, and no band expresses that.
    */
  private[lake] def bandOp(
      cmp: BinaryComparison, flip: Boolean): Option[String] =
    cmp match {
      case _: GreaterThanOrEqual => Some(if (flip) "le" else "ge")
      case _: GreaterThan => Some(if (flip) "lt" else "gt")
      case _: LessThanOrEqual => Some(if (flip) "ge" else "le")
      case _: LessThan => Some(if (flip) "gt" else "lt")
      case _: EqualTo => Some("eq")
      case _ => None
    }

  /** Does every `a`-bucket lie entirely inside a single `b`-bucket?
    * When true, a key functional over `b`-buckets is derivable from an
    * `a`-bucket id via any instant of the `a`-bucket — the refinement
    * that lets one containment grain serve several grouping keys
    * (`GROUP BY year(ts), month(ts)` contains on MONTH and derives the
    * year from the month start). Fixed widths are all anchored at
    * epoch 0; weeks at Monday (day multiples); months at midnight UTC
    * — so a sub-day fixed width refines weeks and months, but weeks
    * and months never refine each other.
    */
  private[lake] def refines(a: BucketGrain, b: BucketGrain): Boolean =
    (a, b) match {
      case (x, y) if x == y => true
      case (FixedGrain(w1), FixedGrain(w2)) => w2 % w1 == 0
      case (FixedGrain(w), WeekGrain) => DayUs % w == 0
      case (FixedGrain(w), MonthsGrain(_)) => DayUs % w == 0
      case (MonthsGrain(m1), MonthsGrain(m2)) => m2 % m1 == 0
      case _ => false
    }

  /** A time-bucket grain as a pair of functions over Catalyst micros.
    * `idOf` MUST be monotone non-decreasing in micros — that is the
    * whole containment proof: `idOf(min_ts) == idOf(max_ts)` then
    * proves every row of a file shares the file's bucket, for calendar
    * grains exactly as for fixed widths (the r18 implementation
    * modeled only fixed `floorDiv` widths; months/years aren't fixed
    * width but their bucket IDs are still monotone). `startUs` inverts
    * an ID to its bucket-start instant — the value `date_trunc`
    * produces row-level for every member row under UTC, so metadata
    * keys and straddler-scan keys meet in the final GROUP BY.
    */
  private[lake] sealed trait BucketGrain {
    /** micros → bucket id (monotone non-decreasing). */
    def idOf(us: Long): Long
    /** bucket id → bucket-start micros (UTC). */
    def startUs(id: Long): Long
    /** Catalyst-internal group-key value: epoch days for a DateType
      * key (day-grain `tp_date` / `cast AS date` — start is always a
      * day multiple there), bucket-start micros for TimestampType.
      */
    final def internalKey(
        dt: org.apache.spark.sql.types.DataType, id: Long): Any =
      dt match {
        case org.apache.spark.sql.types.DateType =>
          Math.floorDiv(startUs(id), DayUs).toInt
        case _ => startUs(id)
      }
  }

  /** DAY/HOUR/MINUTE/SECOND/MILLISECOND: pure `floorDiv` widths. */
  private[lake] final case class FixedGrain(widthUs: Long)
      extends BucketGrain {
    override def idOf(us: Long): Long = Math.floorDiv(us, widthUs)
    override def startUs(id: Long): Long = id * widthUs
  }

  /** WEEK: fixed 7-day width anchored to Monday (epoch day 0 =
    * Thursday 1970-01-01; `date_trunc('week', …)` truncates to Monday
    * in both Spark and ANSI engines, so week 0 starts Monday
    * 1969-12-29 = epoch day −3).
    */
  private[lake] case object WeekGrain extends BucketGrain {
    override def idOf(us: Long): Long =
      Math.floorDiv(Math.floorDiv(us, DayUs) + 3, 7)
    override def startUs(id: Long): Long = (7 * id - 3) * DayUs
  }

  /** MONTH/QUARTER/YEAR as `monthsPer` ∈ {1, 3, 12}: bucket id =
    * `floorDiv(year·12 + month−1, monthsPer)` of the instant's UTC
    * calendar date — monotone because the month index is, and exact
    * through `java.time`'s proleptic-Gregorian calendar (the same one
    * Spark 3+/Parquet use).
    */
  private[lake] final case class MonthsGrain(monthsPer: Int)
      extends BucketGrain {
    override def idOf(us: Long): Long = {
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, DayUs))
      Math.floorDiv(d.getYear.toLong * 12 + (d.getMonthValue - 1),
        monthsPer.toLong)
    }
    override def startUs(id: Long): Long = {
      val months = id * monthsPer
      val y = Math.floorDiv(months, 12L).toInt
      val m = Math.floorMod(months, 12L).toInt + 1
      java.time.LocalDate.of(y, m, 1).toEpochDay * DayUs
    }
  }

  /** One aggregate shape the rule can serve — everything the probe and
    * the emit step need, found without reading metadata. `keys` holds
    * one entry per grouping expression; `grain` is the finest bucket
    * grain when a key is a time bucket; `bands` is the WHERE's disjoint
    * band set (None: no band); `fileFilter` evaluates the partition-only
    * rest of the WHERE per file directory.
    */
  private final case class Shape(
      agg: Aggregate, lr: LogicalRelation, lake: Lake, table: String,
      keys: Seq[Key], grain: Option[BucketGrain],
      bands: Option[Seq[(Long, Long)]],
      fileFilter: String => Boolean,
      specs: Seq[Spec]) {
    /** A band or a bucket key: files sort by their manifest time range,
      * and straddlers may scan in-plan.
      */
    def timed: Boolean = bands.isDefined || grain.isDefined
  }

  private sealed trait Key
  /** A physical partition column: its value is the file's directory. */
  private final case class PartKey(a: AttributeReference) extends Key
  /** A time bucket of `grain`; `valueOf` maps any instant inside a
    * bucket to the key's Catalyst value.
    */
  private final case class BucketKey(grain: BucketGrain,
      valueOf: Long => Any) extends Key

  /** Partition-column types a directory string converts to exactly. */
  private def dirTyped(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case IntegerType | LongType | StringType => true
      case _ => false
    }

  private sealed trait Spec
  /** An aggregate over one column. */
  private sealed trait ColSpec extends Spec { def a: AttributeReference }
  private case object CountStar extends Spec
  private final case class CountCol(a: AttributeReference) extends ColSpec
  private final case class MinCol(a: AttributeReference) extends ColSpec
  private final case class MaxCol(a: AttributeReference) extends ColSpec
  private final case class SumCol(a: AttributeReference) extends ColSpec
  private final case class AvgCol(a: AttributeReference) extends ColSpec
  private final case class NdvCol(a: AttributeReference) extends ColSpec
  private final case class QuantileCol(
      a: AttributeReference, p: Double) extends ColSpec
  /** `graft_topk(c, k)` — the frequent-items "top talkers" report,
    * served by merging the sidecar's per-file sketches when the merge
    * stays provably EXACT (no eviction anywhere — TopKFns.isExact).
    */
  private final case class TopKCol(a: AttributeReference, k: Int)
      extends ColSpec
  private final case class Passthrough(value: Any) extends Spec
  private final case class GroupKey(i: Int) extends Spec
  /** `count(DISTINCT tp_date)` answered from the manifest's per-file
    * day set when every file is day-contained (r18 verdict task 6).
    */
  private final case class DistinctDates(a: AttributeReference)
      extends Spec
  /** An output functionally derived from group keys only (cast of the
    * bucket, `year(tp_date)`, ...): served by key substitution.
    */
  private final case class GroupDerived(e: Expression) extends Spec

  /** Exactness bound for serving `avg`: with |exact sum| <= 2^53 the
    * BigInt→double conversion is lossless and any per-row double
    * accumulation of the same-signed values is too, so the metadata
    * quotient bit-matches a scan's. Past it the rule declines.
    */
  private val MaxExactAvgSum: BigInt = BigInt(1) << 53

  /** Idempotent per-session install into
    * `spark.experimental.extraOptimizations` — the embedded/library
    * twin of the `spark.sql.extensions` deployment in GraftExtensions.
    * Called from `Views.register`, so every session that registers
    * lake views gets the rewrite.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[BucketFilterBandRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          BucketFilterBandRule(spark)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[MetadataAggregateRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          MetadataAggregateRule(spark)
  }
}

/** Rewrite bucket-expression comparisons in WHERE clauses into
  * equivalent bands on the UNDERLYING time column, so the plain SCAN
  * path — not just the aggregate rewrite — gets parquet row-group
  * skipping and [[ZoneMapFileIndex]] file pruning for the
  * report-for-month-X filter shape: `SELECT * FROM t WHERE
  * date_trunc('MONTH', tp_timestamp) = TIMESTAMP 'v'` becomes
  * `tp_timestamp BETWEEN start AND next-start − 1µs`, which pushes
  * down like any band. Catalyst's own UnwrapCastInBinaryComparison
  * does the analogous move for casts; nothing built-in unwraps
  * truncation.
  *
  * Every replacement is NULL-SEMANTICS-EXACT as a scalar expression
  * (null source → null comparison on both sides; equality to a
  * non-bucket-start becomes the unsatisfiable band `src >= 1 AND src
  * <= 0`, false for non-null and null for null), so rewriting inside
  * arbitrary boolean structure — NOT, OR, CASE — is sound, and the
  * rule transforms whole Filter conditions, not just top-level
  * conjuncts. Gated like every bucket fold on the session (and any
  * analysis-resolved zone) being exactly UTC, via
  * [[MetadataAggregateRule.bucketGrainOf]].
  */
final case class BucketFilterBandRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  import MetadataAggregateRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f: Filter =>
      val nc = f.condition.transformUp {
        case cmp: BinaryComparison => foldCmp(cmp).getOrElse(cmp)
        // IN-lists are OR-of-equalities; folding each member keeps
        // null-exactness (null source → every member null → OR null)
        case in @ In(e, lits) if lits.forall(_.isInstanceOf[Literal]) =>
          foldIn(in, e, lits.map(_.asInstanceOf[Literal]))
        case in @ InSet(e, hset) =>
          foldIn(in, e,
            hset.toSeq.map(v => Literal(v, e.dataType)))
      }
      if (nc fastEquals f.condition) f else f.copy(condition = nc)
  }

  private def foldIn(orig: Expression, e: Expression,
      lits: Seq[Literal]): Expression = {
    if (lits.isEmpty) return orig
    val folded = lits.map(l => foldCmp(EqualTo(e, l)))
    if (folded.exists(_.isEmpty)) orig
    else folded.flatten.reduce(Or)
  }

  private def foldCmp(cmp: BinaryComparison): Option[Expression] = {
    val (e, l, flip) = (cmp.left, cmp.right) match {
      case (b, lit: Literal) => (b, lit, false)
      case (lit: Literal, b) => (b, lit, true)
      case _ => return None
    }
    // bare attrs are already optimal (and pushable) as-is
    if (e.isInstanceOf[AttributeReference]) return None
    // two foldable families: bucket expressions (literal in the
    // expression's own type, any alignment) and the YEAR extract
    // (integer literal = an always-aligned YEAR bucket id — the
    // archive filter `WHERE year(ts) = 2024`)
    val (g, src, id, aligned): (BucketGrain, AttributeReference, Long,
        Boolean) = bucketGrainOf(session, e) match {
      case Some((g0, src0)) =>
        val vUs: Long = (e.dataType, l.dataType) match {
          case (org.apache.spark.sql.types.TimestampType,
              org.apache.spark.sql.types.TimestampType)
              if l.value != null =>
            l.value.asInstanceOf[Long]
          case (org.apache.spark.sql.types.DateType,
              org.apache.spark.sql.types.DateType) if l.value != null =>
            l.value.asInstanceOf[Int].toLong * DayUs
          case _ => return None
        }
        val id0 = g0.idOf(vUs)
        (g0, src0, id0, g0.startUs(id0) == vUs)
      case None =>
        val src0 = yearExtractSrcOf(session, e).getOrElse(return None)
        val y = l.dataType match {
          case IntegerType if l.value != null =>
            l.value.asInstanceOf[Int]
          case _ => return None
        }
        if (y < 0 || y > 9999) return None
        (MonthsGrain(12), src0, y.toLong, true)
    }
    val op = bandOp(cmp, flip).getOrElse(return None)
    val ceil = if (aligned) id else id + 1
    // bounds restated in the SOURCE attribute's units; bucket starts
    // are day multiples for DateType sources, and an exclusive micros
    // bound maps to day floorDiv (date values are whole days)
    def litOf(us: Long): Expression = src.dataType match {
      case org.apache.spark.sql.types.DateType =>
        Literal(Math.floorDiv(us, DayUs).toInt,
          org.apache.spark.sql.types.DateType)
      case _ =>
        Literal(us, org.apache.spark.sql.types.TimestampType)
    }
    def ge(us: Long) = GreaterThanOrEqual(src, litOf(us))
    def le(us: Long) = LessThanOrEqual(src, litOf(us))
    val folded = op match {
      // trunc(src) >= v  ⇔  src >= first bucket start >= v
      case "ge" => ge(g.startUs(ceil))
      case "gt" => ge(g.startUs(id + 1))
      case "le" => le(g.startUs(id + 1) - 1)
      case "lt" => le(g.startUs(ceil) - 1)
      case "eq" =>
        if (aligned) And(ge(g.startUs(id)), le(g.startUs(id + 1) - 1))
        // no instant truncates to a non-start: unsatisfiable, but the
        // null case must stay null — an always-false BAND does both
        else And(GreaterThanOrEqual(src, litOf(DayUs)),
          LessThanOrEqual(src, litOf(0L)))
    }
    logInfo(s"bucket-filter band fold: ${cmp.sql} -> ${folded.sql}")
    Some(folded)
  }
}

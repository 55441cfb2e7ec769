package graft.plans

import graft.functions.JavaHashBucket
import graft.ingest.Normalize
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StringType, TimestampType}

/** Optimizer rule that automates the reference's *manual* partition-pruning
  * idiom, for both columns of the fact layout's `(device_id_bucket,
  * received_day)` partitioning.
  *
  * The reference hand-writes a redundant partition-column conjunct next to
  * every event-time predicate — `received_day > CURRENT_DATE - 3`
  * (`config/flink/sink_risk_score_daily.sql:22`) and a day-range derived in
  * API code (`services/telematics_api/main.py:258-259, 275-277`) — because
  * its engines can't prune partitions from predicates on the columns the
  * partition values are derived from. It never writes the bucket conjunct,
  * so its device lookups read every bucket. This rule makes both
  * derivations inside the optimizer:
  *
  *  - **day guard**: a bounded `gps_epoch` range predicate over a relation
  *    that also carries `received_day` gains `received_day BETWEEN
  *    date(lo) - skew AND date(hi) + skew`;
  *  - **bucket guard**: `device_id = 'x'` (literal on either side),
  *    `device_id IN (…)` or the `InSet` that `OptimizeIn` makes of a long
  *    `IN` list, over a relation that also carries `device_id_bucket`, gains
  *    `device_id_bucket IN (…)` with one bucket per non-null literal. Each
  *    bucket is the write-time function itself ([[JavaHashBucket]] with
  *    [[Normalize.DeviceBuckets]]) evaluated on the literal, so plan time and
  *    write time cannot drift apart. This is the derivation Iceberg's hidden
  *    partitioning does for a `bucket(N, col)` transform; here the bucket is
  *    an ordinary column, so the derivation rests on a data contract.
  *
  * The two guards are independent: a filter that already names
  * `received_day` still gets the bucket guard and vice versa; a filter that
  * already names a guard's column gets no second one of that kind, which
  * also makes the rule idempotent (fixed-point safe). Only the plain column
  * under the default binary collation is matched — `<=>`, collated or
  * otherwise wrapped comparisons are left alone.
  *
  * **Contracts.** Each added conjunct is implied by the original predicate
  * only if the table satisfies a contract Catalyst cannot check:
  *
  *  - skew: |received_day − date(gps_epoch)| ≤ `SkewDays` — receive time
  *    trails event time by at most that many days (late data) and leads it
  *    by at most the same (clock skew). A table holding rows received later
  *    (offline-device uploads, backfills) would silently lose them from
  *    event-time range queries;
  *  - bucket: `device_id_bucket <=> java_hash_bucket(device_id,
  *    Normalize.DeviceBuckets)` on every row. A row written with another
  *    bucket would silently vanish from device lookups.
  *
  * When both hold, results are unchanged (proven by test against the
  * un-rewritten query) and Catalyst's static partition pruning turns a
  * full-table scan into a 1-bucket × few-day scan.
  *
  * **Scoped to opted-in tables.** The rule only rewrites filters whose every
  * leaf is a file scan located at or under a path listed in
  * `spark.graft.partitionGuard.paths` (comma-separated; empty ⇒ no-op), and
  * only on columns read straight from that scan (not renamed or recomputed
  * on the way up; filters over a `Union` are left to their pushed-down
  * copies). Opt a table in with [[InjectPartitionGuard.optIn]] *after*
  * writing it through [[graft.maintain.Layout.writeFact]], which checks both
  * contracts at write time — together they make the contracts checked
  * end-to-end.
  *
  * Injected via [[graft.functions.GraftExtensions]] (`injectOptimizerRule`).
  */
case class InjectPartitionGuard() extends Rule[LogicalPlan] {
  import InjectPartitionGuard.{BucketCol, DayCol, DeviceCol, EventCol, SkewDays}

  private def boundsOf(cond: Expression, ev: Attribute): (Option[Expression], Option[Expression]) = {
    val conjuncts = splitConjunctivePredicates(cond)
    def isEv(e: Expression) = e.semanticEquals(ev)
    var lo: Option[Expression] = None
    var hi: Option[Expression] = None
    conjuncts.foreach {
      case GreaterThan(l, r: Literal) if isEv(l)           => lo = lo.orElse(Some(r))
      case GreaterThanOrEqual(l, r: Literal) if isEv(l)    => lo = lo.orElse(Some(r))
      case LessThan(l, r: Literal) if isEv(l)              => hi = hi.orElse(Some(r))
      case LessThanOrEqual(l, r: Literal) if isEv(l)       => hi = hi.orElse(Some(r))
      case EqualTo(l, r: Literal) if isEv(l)               => lo = Some(r); hi = Some(r)
      case _ => ()
    }
    (lo, hi)
  }

  /** The non-null device ids `cond` restricts `dev` to: the intersection
    * over every conjunct that compares it with string literals; None if no
    * conjunct does.
    */
  private def deviceIdsOf(cond: Expression, dev: Attribute): Option[Set[Any]] = {
    def isDev(e: Expression) = e.semanticEquals(dev)
    def isStr(e: Expression) = e match {
      case Literal(_, StringType) => true
      case _ => false
    }
    splitConjunctivePredicates(cond).collect {
      case EqualTo(l, Literal(v, StringType)) if isDev(l) => Set(v)
      case EqualTo(Literal(v, StringType), r) if isDev(r) => Set(v)
      case In(l, list) if isDev(l) && list.forall(isStr) =>
        list.map(_.asInstanceOf[Literal].value).toSet
      case InSet(l, set) if isDev(l) => set
    }.reduceOption(_ intersect _).map(_ - null)
  }

  private def splitConjunctivePredicates(condition: Expression): Seq[Expression] =
    condition match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }

  /** True iff every file-source leaf under `plan` reads from an opted-in
    * location (see class doc). Non-file leaves never opt in.
    */
  private def optedIn(plan: LogicalPlan): Boolean = {
    val roots = conf.getConfString(InjectPartitionGuard.PathsConfKey, "")
      .split(',').map(_.trim).filter(_.nonEmpty)
      .map(p => new Path(p).toUri.getPath)
    roots.nonEmpty && {
      val leaves = plan.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.forall(rp =>
            roots.exists(InjectPartitionGuard.isAtOrUnder(rp.toUri.getPath, _)))
        case _ => false
      }
    }
  }

  /** `(a, b)` attribute pairs read from one leaf scan of `plan` and both
    * visible in its output with the scan's own attribute ids, i.e. neither
    * renamed nor recomputed on the way up — the columns a contract is about.
    */
  private def scanPairs(plan: LogicalPlan, a: (String, DataType),
                        b: (String, DataType)): Seq[(Attribute, Attribute)] = {
    def find(leaf: LogicalPlan, c: (String, DataType)) =
      leaf.output.find(x => x.name == c._1 && x.dataType == c._2)
    plan.collectLeaves()
      .flatMap(leaf => for (x <- find(leaf, a); y <- find(leaf, b)) yield (x, y))
      .filter { case (x, y) => plan.outputSet.contains(x) && plan.outputSet.contains(y) }
  }

  private def dayGuards(cond: Expression, child: LogicalPlan): Seq[Expression] =
    scanPairs(child, EventCol -> TimestampType, DayCol -> DateType).flatMap {
      case (ev, day) if !cond.references.contains(day) =>
        val (lo, hi) = boundsOf(cond, ev)
        // timestamp→date cast is TZ-aware: it must carry the session TZ or
        // the plan becomes unresolved post-optimization
        val tz = Some(conf.sessionLocalTimeZone)
        lo.map(l => GreaterThanOrEqual(day, DateAdd(Cast(l, DateType, tz), Literal(-SkewDays)))) ++
          hi.map(h => LessThanOrEqual(day, DateAdd(Cast(h, DateType, tz), Literal(SkewDays))))
      case _ => Nil
    }

  private def bucketGuards(cond: Expression, child: LogicalPlan): Seq[Expression] =
    scanPairs(child, DeviceCol -> StringType, BucketCol -> IntegerType).flatMap {
      case (dev, bucket) if !cond.references.contains(bucket) =>
        deviceIdsOf(cond, dev).filter(_.nonEmpty).map { ids =>
          val buckets = ids.toSeq.map(id =>
            JavaHashBucket(Literal(id, StringType), Normalize.DeviceBuckets).eval()
              .asInstanceOf[Int]).distinct.sorted
          if (buckets.size == 1) EqualTo(bucket, Literal(buckets.head))
          else In(bucket, buckets.map(Literal(_)))
        }
      case _ => Nil
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if !child.exists(_.isInstanceOf[Union]) && optedIn(child) =>
      val guards = dayGuards(cond, child) ++ bucketGuards(cond, child)
      if (guards.isEmpty) f
      else Filter(guards.foldLeft(cond)(And), child)
  }
}

object InjectPartitionGuard {
  /** Comma-separated table locations whose tables have the write-time-checked
    * skew and bucket contracts and may receive injected partition guards.
    */
  val PathsConfKey = "spark.graft.partitionGuard.paths"

  /** The skew contract's bound in days, read by both this rule and
    * [[graft.maintain.Layout.writeFact]], which enforces it at write time.
    */
  val SkewDays = 1

  private val EventCol = "gps_epoch"
  private val DayCol = "received_day"
  private val DeviceCol = "device_id"
  private val BucketCol = "device_id_bucket"

  /** True iff `path` is `root` itself or lies under it: `/x/fact` covers
    * `/x/fact/b=1` but not the sibling `/x/fact_old`.
    */
  private[plans] def isAtOrUnder(path: String, root: String): Boolean =
    path == root || path.startsWith(if (root.endsWith("/")) root else root + "/")

  /** Opt a table location into guard injection for this session. The path is
    * stored fully qualified, so a relative path names the same directory the
    * scans of it report.
    */
  def optIn(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val qualified = p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
    val cur = spark.conf.getOption(PathsConfKey).getOrElse("")
    val parts = cur.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (!parts.contains(qualified))
      spark.conf.set(PathsConfKey, (parts :+ qualified).mkString(","))
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Join, Limit, LogicalPlan, Project, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graft.RowLevelShim
import org.apache.spark.sql.types.BinaryType

/** SOURCE-KEY PRE-PASS for SQL MERGE/UPDATE over the cell store — the
  * HBase batched-GET idiom (the reference mutates by fetching exactly
  * the batch's keys: HbaseClient.kt:43-52) applied to the row-level
  * rewrite's target scan.
  *
  * Why Spark's own machinery can't deliver this: the delta-based
  * row-level rewrite plans `Join(target, source)` with the TARGET on
  * the preserved side of an outer join (or as the anti/semi probe), so
  * neither DPP (wants a partitioned build side) nor runtime group
  * filtering (group-based REPLACE operations only) ever narrows the
  * target — BENCH_SCALING.md ("MERGE target-scan probe") measured
  * opens == populated regions in every MERGE variant. This rule closes the gap with a BOUNDED
  * pre-pass: collect the source's DISTINCT join rowkeys (capped), and
  * hand them to the already-built [[CellsScan]] through the SAME
  * InputPartition-carried key-set predicate the q225 runtime filter
  * uses — a selective MERGE then opens ~|source keys| files instead of
  * every populated region.
  *
  * Soundness:
  *  - narrowing the target to a SUPERSET of the matching keys is
  *    always sound (the join re-checks equality on the key bytes);
  *    dropping target rows with NO source partner is sound exactly
  *    when those rows cannot reach the output — Inner/semi joins, the
  *    target-preserving side NOT being the outer side ([[prunable]]);
  *    FULL OUTER (MERGE with NOT MATCHED BY SOURCE) never prunes.
  *  - the pre-pass EXECUTES the source subplan once ahead of the join
  *    (the DPP trade): only DETERMINISTIC sources qualify — a
  *    nondeterministic source could yield different keys in the real
  *    join and the prune would be wrong, so it declines.
  *  - above `spark.graft.merge.keyPrune.maxKeys` (default 100k) it
  *    declines LOUDLY (warn log) and the statement keeps the honest
  *    full-scan plan — a corpus-sized source should pay one
  *    region-parallel pass, not a giant driver key list.
  *
  * Delivery: installed per session via [[install]] into
  * `experimentalMethods.extraOptimizations` — that batch runs AFTER
  * V2 pushdown, so the matched node is the finished
  * [[DataSourceV2ScanRelation]] and narrowing is the runtime-filter
  * protocol's own side effect on the scan (partitions are planned
  * lazily at execution, AFTER this rule). The plan tree itself is
  * returned unchanged.
  */
object MergeSourcePruning extends Rule[LogicalPlan] with PredicateHelper {

  val MaxKeysConf = "spark.graft.merge.keyPrune.maxKeys"
  val DefaultMaxKeys = 100000

  /** diagnostic counters for specs/probes: pre-passes that narrowed /
    * declined (cap or shape) since last reset. */
  val narrowed = new java.util.concurrent.atomic.AtomicLong(0)
  val declined = new java.util.concurrent.atomic.AtomicLong(0)

  /** Install into an EXISTING session (idempotent) — no session-build
    * extension needed; MERGE/UPDATE statements in this session gain
    * the pre-pass from the next statement on. */
  def install(spark: SparkSession): Unit = synchronized {
    // synchronized: extraOptimizations assignment is a read-modify-
    // write — two concurrent installers (catalog init racing a table
    // load) must not drop each other's appended rules. A USER
    // assignment racing this can still clobber (Spark offers no CAS
    // here); the per-table-load reinstall in CellsCatalog restores the
    // rule on the next statement.
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(this))
      spark.experimental.extraOptimizations = cur :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case wd: WriteDelta => pruneUnder(wd.query)
      case _ => ()
    }
    plan // narrowing mutates scan state (the runtime-filter protocol); the tree is unchanged
  }

  /** target rows without a join partner must be DROPPED or irrelevant
    * for the prune to be sound. */
  private def prunable(jt: JoinType, targetOnLeft: Boolean): Boolean = jt match {
    case Inner => true
    case LeftSemi => true // either side: semi output ⊆ matching pairs' left rows
    case RightOuter => targetOnLeft // target inner side; source rows preserved
    case LeftOuter => !targetOnLeft
    case LeftAnti => !targetOnLeft // anti KEEPS unmatched left rows — never prune left
    case _ => false // FullOuter (NOT MATCHED BY SOURCE), cross, existence joins
  }

  private def targetScanOf(side: LogicalPlan): Option[CellsScan] = side.collectFirst {
    case r: DataSourceV2ScanRelation
      if RowLevelShim.operationOf(r.relation.table)
        .exists(_.isInstanceOf[CellsRowLevelOperation]) &&
        r.scan.isInstanceOf[CellsScan] => r.scan.asInstanceOf[CellsScan]
  }

  private def pruneUnder(q: LogicalPlan): Unit = q.foreach {
    case Join(left, right, jt, Some(cond), _) =>
      (targetScanOf(left), targetScanOf(right)) match {
        case (Some(scan), None) if prunable(jt, targetOnLeft = true) =>
          tryPrune(scan, left, right, cond)
        case (None, Some(scan)) if prunable(jt, targetOnLeft = false) =>
          tryPrune(scan, right, left, cond)
        case _ => () // self-merge puts a plain CellsTable on the source side — unambiguous
      }
    case _ => ()
  }

  private def tryPrune(scan: CellsScan, targetSide: LogicalPlan,
                       sourceSide: LogicalPlan, cond: Expression): Unit = {
    if (scan.alreadyPointNarrowed) return // compile-time IN / earlier pass already bounded it
    val session = org.apache.spark.sql.classic.SparkSession.active
    val cap = session.conf.get(MaxKeysConf, DefaultMaxKeys.toString).toInt
    if (cap <= 0) return // operator opt-out
    if (sourceSide.exists(p => p.expressions.exists(e => !e.deterministic))) {
      declined.incrementAndGet()
      logInfo("graft merge key-prune declined: nondeterministic source (pre-executing it could disagree with the join)")
      return
    }
    val tOut = targetSide.outputSet
    val sOut = sourceSide.outputSet
    val keyExpr: Option[Expression] = splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: AttributeReference, b)
        if a.name.equalsIgnoreCase("rowkey") && tOut.contains(a) &&
          b.dataType == BinaryType && b.references.subsetOf(sOut) => b
      case EqualTo(b, a: AttributeReference)
        if a.name.equalsIgnoreCase("rowkey") && tOut.contains(a) &&
          b.dataType == BinaryType && b.references.subsetOf(sOut) => b
    }
    keyExpr match {
      case None =>
        declined.incrementAndGet()
        logInfo("graft merge key-prune declined: no rowkey equi-term against the source in the ON condition")
      case Some(b) =>
        // the bounded pre-pass: DISTINCT source keys, cap+1-limited so
        // an over-cap source costs one short-circuited collect, never
        // an unbounded driver list
        val keysPlan = Limit(Literal(cap + 1),
          Distinct(Project(Seq(Alias(b, "graft_merge_key")()), sourceSide)))
        val rows = session.sessionState.executePlan(keysPlan).executedPlan.executeCollect()
        if (rows.length > cap) {
          declined.incrementAndGet()
          logWarning(s"graft merge key-prune declined: source exceeds $cap distinct rowkeys " +
            s"($MaxKeysConf) — the statement keeps its region-parallel target scan")
        } else {
          val keys = rows.iterator.filterNot(_.isNullAt(0)).map(_.getBinary(0)).toSeq
          scan.narrowToRowkeys(keys)
          narrowed.incrementAndGet()
          logInfo(s"graft merge target scan narrowed to ${keys.size} source rowkeys")
        }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, EqualNullSafe, EqualTo, ExprId, Expression, Hour, Month, ParseToDate, TruncDate, TruncTimestamp, Year}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DateType, TimestampType}

/** The one pass that builds plans for every registry-wide plan gate:
  * on first use, each non-streaming registry query is built once at
  * sf0.001 on the shared test session, keeping only what the gates
  * read (each plan rule's offenders, the planned parquet scans, the
  * executed-plan string), no plan objects. ScanBudgetGuardSpec,
  * WindowStragglerGuardSpec, BucketSelfJoinGuardSpec, PlanSpec's
  * cartesian sweep and PlanGoldenSpec assert over [[entries]]; their
  * positive controls call the same rule functions on fixture plans.
  * Streaming queries run their whole stream inside `fn` and return a
  * memory-sink table, so they are left out (ScanBudgetGuardSpec's
  * compensating gate covers them). `main` prints the census as a
  * report: `sbt 'Test/runMain graft.PlanCensus [sfDir]'`.
  */
object PlanCensus {
  val sf = "/root/testdata/sf0.001"

  /** What the gates read of one query's plans; `scanTables` holds one
    * table name per planned parquet scan. */
  final case class Entry(name: String, globalWindows: Seq[String],
      unpartitionedWindows: Seq[String], lowCardWindows: Seq[String],
      bucketSelfJoins: Seq[String], scanTables: Seq[String], executedPlan: String) {
    def count(needle: String): Int = needle.r.findAllIn(executedPlan).length
  }

  val streaming: Set[String] = operators.StreamingQueries.all.map(_.name).toSet

  /** Every non-streaming registry query, in registry order; a query
    * whose build throws fails the census. */
  def build(spark: SparkSession, sfDir: String): Seq[Entry] =
    SparkEntry.registry.filterNot(q => streaming(q.name)).map { q =>
      try {
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.optimizedPlan
        Entry(q.name, globalWindows(plan), unpartitionedWindows(plan),
          lowCardWindows(plan), bucketSelfJoins(plan), parquetScanTables(df),
          df.queryExecution.executedPlan.toString)
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(s"plan census: ${q.name} failed to build", e)
      }
    }

  /** Built once per test JVM; a failed build is kept, not retried. */
  private lazy val tier1 = scala.util.Try(build(SparkSpec.session, sf))

  def entries: Seq[Entry] = tier1.get

  def apply(name: String): Entry = entries.find(_.name == name).get

  // ---- window rules (the q163/q174 straggler shape) -------------------

  /** Enum-like keys whose domain does NOT grow with data volume. */
  private val lowCard = Set(
    "event_type", "source", "priority", "lang", "segment",
    "c_mktsegment", "o_orderpriority", "o_orderstatus", "l_returnflag",
    "l_linestatus", "from_type", "to_type", "p_brand", "flag",
    "r_name", "n_name", "is_blocked", "domain")

  /** Keys whose distinct-value count GROWS with corpus size: a
    * `groupBy` on one does not bound the rows a global window above it
    * sorts (a vocab, doc-key or entity-key aggregate is corpus-sized,
    * the q166 rarity-rank shape), while day/brand/segment grids do. */
  private val corpusGrowing = Set(
    "w", "word", "token", "term", "shingle", "gram", "ngram", "pair",
    "doc_id", "vec_id", "user_id", "event_id", "session_id", "id",
    "c_custkey", "o_custkey", "o_orderkey", "l_orderkey", "l_partkey",
    "p_partkey", "s_suppkey", "text", "payload", "url", "hash", "sig")

  /** True when some file-scan leaf is reachable from `p` without
    * crossing a row-bounding node: a GlobalLimit, a TopKPerGroup cap,
    * or an Aggregate for which `aggBounds` holds. */
  private def unboundedBelow(p: LogicalPlan, aggBounds: Aggregate => Boolean): Boolean = p match {
    case a: Aggregate => !aggBounds(a)
    case _: GlobalLimit => false // bounded row count
    case _: graft.plans.TopKPerGroupNode => false // bounded to k × groups
    case _: LocalRelation => false // literal in-memory fixture
    case _: OneRowRelation => false
    case l: LeafNode =>
      // file/table scans grow with data; anything else leaf-like
      // (e.g. a streaming memory sink's table) is judged by kind
      l.isInstanceOf[LogicalRelation] ||
        l.getClass.getSimpleName.contains("DataSourceV2")
    case other => other.children.exists(unboundedBelow(_, aggBounds))
  }

  /** An Aggregate bounds rows for a global window only when none of
    * its grouping keys is corpus-growing (a day/brand/enum grid). */
  private def groupsBoundedGrid(a: Aggregate): Boolean =
    !a.groupingExpressions.exists(_.references.exists(att =>
      corpusGrowing(att.name.toLowerCase)))

  /** GLOBAL (unpartitioned) windows that can be fed unbounded rows. */
  def globalWindows(plan: LogicalPlan): Seq[String] = plan.collect {
    case w: Window if w.partitionSpec.isEmpty &&
        unboundedBelow(w.child, groupsBoundedGrid) =>
      w.simpleString(10)
  }

  private def unpartitionedWindows(plan: LogicalPlan): Seq[String] = plan.collect {
    case w: Window if w.partitionSpec.isEmpty => w.simpleString(10)
  }

  /** Windows partitioned ONLY by low-cardinality keys over an
    * uncollapsed relation (every Aggregate collapses to group-domain
    * size here), as their comma-joined partition keys. */
  private def lowCardWindows(plan: LogicalPlan): Seq[String] = plan.collect {
    case w: Window if w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall {
          case a: AttributeReference => lowCard(a.name.toLowerCase)
          case _ => false
        } && unboundedBelow(w.child, _ => true) =>
      w.partitionSpec.collect { case a: AttributeReference => a.name }.mkString(",")
  }

  // ---- bucket self-join rule (the q109/q353/q360 quadratic block) -----

  /** exprId → defining child expression, from every Project/Aggregate
    * alias in the tree. */
  private def aliasMap(p: LogicalPlan): Map[ExprId, Expression] =
    p.collect {
      case pr: Project => pr.projectList
      case ag: Aggregate => ag.aggregateExpressions
      case w: Window => w.windowExpressions
    }.flatten.collect { case a: Alias => a.exprId -> a.child }.toMap

  /** Expand an expression through alias definitions to fixpoint,
    * collecting every exprId encountered on the way (the key's
    * lineage closure). */
  private def expand(e: Expression, defs: Map[ExprId, Expression],
      seen: scala.collection.mutable.Set[ExprId], depth: Int = 0): Expression =
    if (depth > 20) e
    else e.transformUp {
      case ar: AttributeReference if defs.contains(ar.exprId) && !seen(ar.exprId) =>
        seen += ar.exprId
        expand(defs(ar.exprId), defs, seen, depth + 1)
      case ar: AttributeReference =>
        seen += ar.exprId; ar
    }

  /** Is the (expanded) key expression a time-bucket — derived through
    * a truncation that maps unboundedly many rows onto a fixed,
    * volume-independent domain? */
  private def isTimeBucket(e: Expression): Boolean = e.exists {
    case _: TruncTimestamp | _: TruncDate | _: ParseToDate => true
    case _: Hour | _: Month | _: Year => true
    case c: Cast => c.dataType == DateType &&
      c.child.dataType.isInstanceOf[TimestampType.type]
    case _ => false
  }

  /** Leaf identities of a subtree — overlapping identities between the
    * two join sides mean a self-join over the same base data. */
  private def leafIds(p: LogicalPlan): Set[String] = p.collect {
    case l: LogicalRelation => l.relation.toString
    case l: LeafNode if l.getClass.getSimpleName.contains("DataSourceV2") =>
      l.toString.take(120)
    case r: Range => s"range(${r.start},${r.end},${r.step})"
  }.toSet

  /** True when `plan` bounds rows-per-key for join keys whose lineage
    * closure is `keyIds`. */
  private def bounded(plan: LogicalPlan, keyIds: Set[ExprId]): Boolean = plan match {
    case _: graft.plans.TopKPerGroupNode => true
    case _: GlobalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case a: Aggregate =>
      val groupOut: Seq[Option[ExprId]] = a.groupingExpressions.map {
        case ar: AttributeReference => Some(ar.exprId)
        case ge => a.aggregateExpressions.collectFirst {
          case al: Alias if al.child.semanticEquals(ge) => al.exprId
        }
      }
      // every grouping column is a join key ⇒ ≤ 1 row per key value
      (groupOut.nonEmpty && groupOut.forall(_.exists(keyIds.contains))) ||
        a.children.forall(bounded(_, keyIds)) // or already bounded below
    case p if p.children.nonEmpty => p.children.forall(bounded(_, keyIds))
    case _ => false // raw scan (file relation, LogicalRDD, v2 table)
  }

  /** All unbounded bucket-keyed self-joins in one plan, described. */
  def bucketSelfJoins(plan: LogicalPlan): Seq[String] = plan.collect {
    case j @ Join(left, right, _, Some(cond), _) =>
      val conjuncts = cond.collect { case e: EqualTo => e: Expression
                                     case e: EqualNullSafe => e }
      val pairs = conjuncts.collect {
        case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
        case EqualNullSafe(a: AttributeReference, b: AttributeReference) => (a, b)
      }
      // only joins whose EVERY equi-key is attr=attr and time-bucket
      // shaped on both sides are the hazard class
      if (pairs.isEmpty || pairs.size != conjuncts.size) Nil
      else {
        val lDefs = aliasMap(left)
        val rDefs = aliasMap(right)
        val lSeen = scala.collection.mutable.Set.empty[ExprId]
        val rSeen = scala.collection.mutable.Set.empty[ExprId]
        val allBuckets = pairs.forall { case (a, b) =>
          val (la, rb) =
            if (left.outputSet.exists(_.exprId == a.exprId)) (a, b) else (b, a)
          isTimeBucket(expand(la, lDefs, lSeen)) &&
            isTimeBucket(expand(rb, rDefs, rSeen))
        }
        val selfJoin = (leafIds(left) intersect leafIds(right)).nonEmpty
        if (allBuckets && selfJoin &&
            !bounded(left, lSeen.toSet) && !bounded(right, rSeen.toSet))
          Seq(s"join on ${pairs.map(_._1.name).mkString(",")}")
        else Nil
      }
  }.flatten

  // ---- scan attribution (the q552-first-draft redundant-scan class) ---

  /** One table name (the parquet basename) per parquet scan node in
    * the pre-AQE `sparkPlan`: a repeat is a full re-read of that table.
    * AQE may reuse exchanges at runtime, but every planned scan is one
    * a code change can turn real. Subquery expression plans are not
    * descended into (registry queries join one-row frames instead). */
  def parquetScanTables(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
    }

  /** Per-query physical-plan feature counts, flagging cartesian
    * products and more than one single-partition exchange. */
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(4)
    try {
      val flagged = build(spark, args.headOption.getOrElse(sf)).sortBy(_.name).count { e =>
        val cartesian = e.count("CartesianProduct") + e.count("BroadcastNestedLoopJoin")
        val single = e.count("SinglePartition")
        val flags = (if (cartesian > 0) " !CARTESIAN" else "") +
          (if (single > 1) " !MULTI-SINGLE-PARTITION" else "")
        println(f"${e.name}%-28s bhj=${e.count("BroadcastHashJoin")} " +
          s"smj=${e.count("SortMergeJoin")} shuf=${e.count("Exchange hashpartitioning")} " +
          s"topk=${e.count("TakeOrderedAndProject")} single=$single " +
          s"scans=${e.scanTables.size} tables=${e.scanTables.distinct.size}$flags")
        flags.nonEmpty
      }
      println(s"flagged: $flagged")
    } finally spark.stop()
  }
}

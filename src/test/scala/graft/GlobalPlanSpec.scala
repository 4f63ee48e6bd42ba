package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-WIDE structural anti-pattern gate: no query's physical plan
  * may sort or window DATA ROWS through a single partition. The
  * per-query `PlanSpec` asserts positive shapes for chosen queries;
  * this suite closes the complement — a future operator that sneaks in
  * a partitionless `Window.orderBy` or a `coalesce(1).sortWithinPartitions`
  * fails HERE, not at 100 TB.
  *
  * What is flagged: a `WindowExec`/`WindowGroupLimitExec`/`SortExec`
  * whose child (through projections/filters/AQE wrappers) is an
  * `Exchange SinglePartition`. What is NOT flagged: single-partition
  * exchanges feeding final single-row AGGREGATES (partial+final shape —
  * the exchange carries one row per upstream task, not data rows) and
  * `TakeOrderedAndProject` (driver-side k rows by construction).
  */
class GlobalPlanSpec extends AnyFunSuite with SparkSuite {

  import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

  private def feedsFromSingle(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
    case _: ProjectExec | _: FilterExec | _: AQEShuffleReadExec =>
      p.children.exists(feedsFromSingle)
    case a: AdaptiveSparkPlanExec => feedsFromSingle(a.executedPlan)
    case qs: QueryStageExec => feedsFromSingle(qs.plan)
    case _ => false
  }

  private def offenders(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case w: WindowExec if w.children.exists(feedsFromSingle) => Seq(w)
      case w: WindowGroupLimitExec if w.children.exists(feedsFromSingle) => Seq(w)
      case s: SortExec if s.children.exists(feedsFromSingle) => Seq(s)
      case _ => Seq.empty
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => offenders(a.executedPlan)
      case qs: QueryStageExec => offenders(qs.plan)
      case _ => p.children.flatMap(offenders)
    }
    here ++ below
  }

  /** Queries whose single-partition sort is PROVEN metadata-scale —
    * each entry must name the bound in a comment; an unlisted hit
    * fails the gate.
    */
  private val provenBounded = Set(
    // disjoint-range proof windows over ONE ROW PER PARTITION
    // (GraftQueries.qGlobalSort:794 — the data sort itself is the
    // asserted range-partitioning Exchange)
    "q_global_sort",
    // CUSUM over the DAILY volume aggregate — one row per day
    // regardless of event volume (TimeSeries.scala:117)
    "q_changepoint")

  /** Every catalog query's initial physical plan, built ONCE and
    * shared by the gates below (driver-walk operators execute their
    * census jobs during construction, so this pass is the expensive
    * part — ~sf0.001 job time per such operator).
    */
  private lazy val allPlans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    GraftQueries.all.toSeq.sortBy(_._1).map { case (name, fn) =>
      try name -> fn(spark, sfDir).queryExecution.executedPlan
      finally graft.ops.OpCaches.releaseAll()
    }

  test("no catalog query sorts or windows data rows through a single partition") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val boundedSeen = scala.collection.mutable.Set.empty[String]
    allPlans.foreach { case (name, plan) =>
      val off = offenders(plan)
      if (off.nonEmpty) {
        if (provenBounded(name)) boundedSeen += name
        else bad += s"$name: ${off.map(_.nodeName).mkString(", ")}"
      }
    }
    assert(bad.isEmpty,
      s"single-partition sort/window in:\n  ${bad.mkString("\n  ")}")
    // the allowlist must not rot: every entry still exhibits the shape
    // it documents (a stale entry would silently widen the gate)
    assert(boundedSeen == provenBounded,
      s"stale provenBounded entries: ${(provenBounded -- boundedSeen).mkString(", ")}")
  }

  /** Every node of `p`, through the AQE wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case qs: QueryStageExec => nodes(qs.plan)
    case _ => p.children.flatMap(nodes)
  })

  test("no catalog window frame ends at UNBOUNDED FOLLOWING unless it starts at UNBOUNDED PRECEDING") {
    // Spark recomputes such a frame over the rest of the partition for
    // every row — quadratic in the partition; a frame open at both ends
    // is computed once per partition, and a running frame in reverse
    // order gives the same "rest of the partition" aggregate linearly
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
    val bad = allPlans.flatMap { case (name, plan) =>
      nodes(plan).collect { case w: WindowExec => w }
        .flatMap(_.windowExpression.flatMap(_.collect {
          case we: WindowExpression => we.windowSpec.frameSpecification
        }))
        .collect {
          case f @ SpecifiedWindowFrame(_, lower, UnboundedFollowing) if lower != UnboundedPreceding =>
            s"$name: ${f.sql}"
        }.distinct
    }
    assert(bad.isEmpty, s"frames ending at UNBOUNDED FOLLOWING in:\n  ${bad.mkString("\n  ")}")
  }

  /** Queries whose non-equi join is the DESIGNED shape beyond the
    * single-row rule — each entry must name why the build side is
    * bounded. (Single-row builds — a totals/bloom/sketch aggregate
    * with no grouping riding in as a broadcast cross join — are
    * accepted automatically below; they are the repo's standard way
    * to attach a global scalar without a shuffle.)
    */
  private val designedNonEqui = Set(
    // broadcast QUERY VECTORS (or probed centroids/codebooks) against
    // the corpus scan: the nested-loop build side is the k-query /
    // nlist-bounded relation, constant-bounded by design
    "s1_knn_brute", "s2_knn_lsh", "s4_knn_pq", "s5_range_search",
    "s7_knn_ivfpq", "s8_knn_persisted", "s9_knn_rerank", "s11_ivf_append",
    "s12_knn_sq8", "s13_filtered_knn", "s14_hybrid_rrf",
    // s16's shortlist is the s1 broadcast-query scan
    "s16_mmr",
    // s17's GRAPH is bucket-keyed equi self-joins; the BNLJ is its
    // recall-verdict's exact reference scan (broadcast sampled
    // queries) — the s1 shape
    "s17_knn_graph",
    // d5_embedding_ann's PAIRS are bucket-keyed equi joins (the s17
    // shape); its BNLJs are the recall-verdict's exact reference
    // range search (50 broadcast probe docs against the corpus scan,
    // the s5 shape — constant-bounded by design)
    "d5_embedding_ann",
    // Mann–Kendall's S-statistic self-join: BOTH sides are the
    // calendar-bounded daily aggregate — n_days rows regardless of
    // event volume, the designed q_changepoint-style bound
    "q_trend")

  test("no catalog query joins data relations by cartesian or nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    @annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case qs: QueryStageExec => unwrap(qs.plan)
      case e: BroadcastExchangeExec => unwrap(e.child)
      case pr: ProjectExec => unwrap(pr.child)
      case f: FilterExec => unwrap(f.child)
      case _ => p
    }
    // a build side that is an aggregate WITHOUT grouping produces one
    // row — the broadcast-scalar pattern, never a data-data cross; a
    // cross of single-row builds is itself single-row (stats ∙ sketch)
    def singleRowBuild(p: SparkPlan): Boolean = unwrap(p) match {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec => s.groupingExpressions.isEmpty
      case j: BroadcastNestedLoopJoinExec =>
        singleRowBuild(j.left) && singleRowBuild(j.right)
      case _ => false
    }
    def nonEqui(p: SparkPlan): Seq[String] = {
      val here = p match {
        case j: CartesianProductExec => Seq(j.nodeName)
        case j: BroadcastNestedLoopJoinExec =>
          val build = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          if (singleRowBuild(build)) Seq.empty else Seq(j.nodeName)
        case _ => Seq.empty
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => nonEqui(a.executedPlan)
        case qs: QueryStageExec => nonEqui(qs.plan)
        case _ => p.children.flatMap(nonEqui)
      }
      here ++ below
    }
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val designedSeen = scala.collection.mutable.Set.empty[String]
    allPlans.foreach { case (name, plan) =>
      val off = nonEqui(plan)
      if (off.nonEmpty) {
        if (designedNonEqui(name)) designedSeen += name
        else bad += s"$name: ${off.mkString(", ")}"
      }
    }
    assert(bad.isEmpty,
      s"cartesian/nested-loop join over non-scalar builds in:\n  ${bad.mkString("\n  ")}")
    // anti-rot: every allowlisted query still exhibits the shape
    assert(designedSeen == designedNonEqui,
      s"stale designedNonEqui entries: ${(designedNonEqui -- designedSeen).mkString(", ")}")
  }
}

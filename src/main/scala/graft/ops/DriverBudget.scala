package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Heap-derived budgets, the one bounded probe and the decision record
  * of every cost-based chooser. Each records its latest [[Decision]]
  * under its op name:
  *
  *  - driver walks: `clusters` (`Dedup.clusters`), `pageRank`,
  *    `triangles` and `kHop` (`Graph`), `madOutlierSummary`
  *    (`RobustStats`), `kAnonymize` (`Generalise`), `g1SupplierRank`;
  *  - broadcast choosers: `fitsInBroadcast` (`Similarity`) and
  *    `bloomScreenNew` (`Dedup`, broadcast or shuffle anti-join);
  *  - the d4/d18 candidate-volume choosers `ngramJaccardPairsAuto` and
  *    `ngramContainmentPairsAuto` (`Dedup`);
  *  - `subset` (`export.Subset`): the closure over driver-held keys or
  *    over persisted semi-joins.
  *
  * The per-site caps were MEASURED on a ~28 GB driver (`MEASUREMENTS.md`),
  * where a 2²¹-edge pageRank walk holds ~2 M boxed `GenericRow`s plus its
  * per-iteration maps — several hundred MB, not the ~60 MB its serialized
  * size suggests. Deriving the budget from the heap,
  *
  *   budget = min(cap, maxHeap / HeapFraction / bytesPerEntry),
  *
  * fixes small drivers without changing the measured host: the heap term
  * only LOWERS the cap (raising it would also grow the decline-path
  * probe, which boxes `bound` rows even when the walk declines), so a
  * bigger heap opts in through the per-call override every site keeps.
  */
object DriverBudget {

  /** A walk may spend at most 1/16 of the driver heap: room for a racing
    * broadcast build or collect, and every measured cap on 28 GB.
    */
  private val HeapFraction: Long = 16L

  /** Entries of `bytesPerEntry` each that fit the walk's heap share,
    * clamped to `[2¹², cap]`. The floor keeps a pathological
    * `maxMemory` reading (container introspection quirks) from
    * disabling fixture-scale walks entirely — 2¹² entries is < 1 MB,
    * safe on any JVM that starts at all.
    */
  def derived(cap: Long, bytesPerEntry: Long,
              maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long = {
    require(cap > 0 && bytesPerEntry > 0, "DriverBudget: cap and bytesPerEntry must be positive")
    val byHeap = maxHeapBytes / HeapFraction / bytesPerEntry
    math.max(1L << 12, math.min(cap, byHeap))
  }

  /** Graph-walk edge budget (pageRank / triangles / clustering / kHop):
    * 288 B per edge, a `GenericRow` over 2-3 boxed values (~120 B) plus
    * ~2 entries (~80 B each) in the walk's adjacency/rank/degree maps.
    */
  def graphWalkEdges(cap: Long): Long = derived(cap, 288L)

  /** Union-find edge budget (`Dedup.clusters`): 208 B per `(Long, Long)`
    * edge, the tuple (~48 B) plus up to two union-find map entries.
    */
  def clusterEdges(cap: Long): Long = derived(cap, 208L)

  /** Histogram-bin / census-class budget (`RobustStats`, `Generalise`):
    * 200 B per bin, a boxed row (~120 B) plus one walk map entry.
    */
  def bins(cap: Long): Long = derived(cap, 200L)

  /** Subset key-row budget (`export.Subset`): 200 B per probed key
    * row, a `GenericRow` over 1-3 boxed keys (~120 B) plus its entry in
    * the `InSet` and proof hash sets.
    */
  def keyRows(cap: Long): Long = derived(cap, 200L)

  /** `budget` clamped to what one driver array can hold. */
  def bound(budget: Long): Int = math.max(0L, math.min(budget, Int.MaxValue - 2L)).toInt

  /** The rows of `frame` when they fit `budget` ([[fits]]), else None
    * ("over budget"), from ONE `head(bound + 1)`: `executeTake` scales
    * up from one partition only until it holds bound + 1 rows. A budget
    * ≤ 0 is over budget without a job (the "force the distributed
    * branch" switch every chooser keeps).
    */
  def probe(frame: DataFrame, budget: Long): Option[Array[Row]] =
    if (budget <= 0) None
    else {
      val rows = frame.head(bound(budget) + 1)
      if (fits(rows.length, budget)) Some(rows) else None
    }

  /** Whether `size` rows fit `budget`: judged against the CLAMPED
    * bound, so a budget of 2³¹ or more never accepts a truncated
    * `bound + 1` probe; nothing fits a budget ≤ 0.
    */
  def fits(size: Long, budget: Long): Boolean = budget > 0 && size <= bound(budget)

  /** Branch names shared by the driver-walk choosers. */
  val Driver = "driver"
  val Distributed = "distributed"

  /** One chooser's decision: `op` measured `size` against `budget`
    * (None: more than the budget, or not measured) and took `branch`;
    * `rounds` holds the labels changed per round of `clusters`'
    * distributed fixpoint, the last being the converged round's 0.
    */
  final case class Decision(op: String, size: Option[Long], budget: Long,
                            branch: String, rounds: Seq[Long] = Seq.empty)

  private val decisions = new java.util.concurrent.ConcurrentHashMap[String, Decision]()

  /** Record `d` as `d.op`'s latest decision (one entry per operator). */
  private[graft] def record(d: Decision): Unit = decisions.put(d.op, d): Unit

  /** Record a driver-walk chooser's decision: [[Driver]] when `walked`. */
  private[graft] def recordWalk(op: String, size: Option[Long], budget: Long,
                                walked: Boolean): Unit =
    record(Decision(op, size, budget, if (walked) Driver else Distributed))

  /** The latest decision `op` recorded in this JVM. */
  def last(op: String): Option[Decision] = Option(decisions.get(op))
}

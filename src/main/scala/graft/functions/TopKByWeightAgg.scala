package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregator over (weight, id) BIGINT pairs: returns the
  * ids of the k entries ranked by (weight DESC, id ASC), as an array in
  * rank order — exactly `slice(sort_array(collect_list(struct(-weight,
  * id))), 1, k).id`, but with the accumulator state bounded at k entries
  * EVERYWHERE instead of holding every candidate of a group:
  *
  *   - map-side partial aggregation keeps at most k entries per (group,
  *     task), so the exchange carries ≤ k structs per group per map task
  *     instead of the group's full candidate list (the affinity top-3
  *     shuffled every co-supplier candidate per node — Σ pairs rows);
  *   - reduce-side merge state is ≤ k entries per group, so a hub node
  *     of a skewed graph can never accumulate its full adjacency in one
  *     aggregation buffer (collect_list state does not spill per-group
  *     gracefully — at 100 TB a hot key's whole candidate set sat in a
  *     single ObjectHashAggregate buffer).
  *
  * Buffer layout: flat Array[Long] of 2k slots, interleaved
  * (negWeight, id) entries in ascending lexicographic order, padded with
  * (Long.MaxValue, Long.MaxValue) sentinels. Precondition, checked in
  * `reduce`: weight ≥ 0 (the negation must stay below the sentinel, and
  * `-Long.MinValue` overflows), which every count-valued weight
  * satisfies. Ids may repeat across input rows; ranking is total
  * (no nondeterministic ties) whenever ids are unique per group, as in
  * the affinity projection.
  */
class TopKByWeightAgg(k: Int)
    extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def zero: Array[Long] = Array.fill(2 * k)(Long.MaxValue)

  /** Insert (ns, v) into the sorted bounded buffer; drop if not top-k. */
  private def insert(buf: Array[Long], ns: Long, v: Long): Array[Long] = {
    var i = 0
    while (i < k && (buf(2 * i) < ns || (buf(2 * i) == ns && buf(2 * i + 1) <= v))) i += 1
    if (i < k) {
      var j = k - 1
      while (j > i) {
        buf(2 * j) = buf(2 * j - 2); buf(2 * j + 1) = buf(2 * j - 1)
        j -= 1
      }
      buf(2 * i) = ns; buf(2 * i + 1) = v
    }
    buf
  }

  override def reduce(buf: Array[Long], in: (Long, Long)): Array[Long] = {
    require(in._1 >= 0, s"TopKByWeightAgg weight must be >= 0, got weight ${in._1} for id ${in._2}")
    insert(buf, -in._1, in._2)
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](2 * k)
    var ia = 0; var ib = 0; var io = 0
    while (io < k) {
      val takeA = a(2 * ia) < b(2 * ib) ||
        (a(2 * ia) == b(2 * ib) && a(2 * ia + 1) <= b(2 * ib + 1))
      if (takeA) { out(2 * io) = a(2 * ia); out(2 * io + 1) = a(2 * ia + 1); ia += 1 }
      else { out(2 * io) = b(2 * ib); out(2 * io + 1) = b(2 * ib + 1); ib += 1 }
      io += 1
    }
    out
  }

  override def finish(buf: Array[Long]): Array[Long] = {
    var n = 0
    while (n < k && buf(2 * n) != Long.MaxValue) n += 1
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = buf(2 * i + 1); i += 1 }
    out
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object TopKByWeightAgg {
  /** Column form: `topK(weightCol, idCol)` over a group → array of the
    * top-k ids by (weight DESC, id ASC), in rank order.
    */
  def apply(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKByWeightAgg(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    (w: Column, id: Column) => fn(w, id)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Robust (median/MAD) statistics at histogram scale.
  *
  * The naive exact median (`percentile`) buffers every value of a
  * group in the aggregation state — O(group size) memory, the classic
  * scale trap. For QUANTISED values (cents, milliseconds, token
  * counts) the right 100 TB shape is a COUNT HISTOGRAM: one mergeable
  * `groupBy(group, value).count()` whose cardinality is bounded by the
  * value DOMAIN (not the row count), then order statistics walked on
  * the histogram with a per-group running sum whose window state is
  * O(1). Everything downstream (deviations, MAD, outlier counts) runs
  * on histograms too — the raw rows are scanned exactly once.
  *
  * All results are integer-exact via the quantise-once discipline:
  * medians are reported DOUBLED (`m2` = low-mid + high-mid, which is
  * 2·median under the usual continuous-interpolation definition) so
  * even-count interpolation never leaves the integers.
  */
object RobustStats {

  /** 10⁴ × the classic outlier multiplier 3·1.4826 (three scaled-MAD
    * units, the normal-consistent MAD-to-sigma factor).
    */
  val OutlierK4: Long = 44478L

  /** Histograms up to this many bins walk on the driver (the
    * `Generalise.kAnonymize` chooser idiom) — the histogram is
    * broadcast-scale by design, so driver residence adds no new limit.
    * The 2²⁰ cap is heap-derived downward on small drivers
    * ([[DriverBudget]]).
    */
  def DriverWalkMaxBins: Long = DriverBudget.bins(1L << 20)

  /** Per-group doubled median of a count histogram `(seg, v, cnt)`:
    * returns `(seg, m2, n)` with `m2 = v(low-mid) + v(high-mid)`.
    */
  private def medianX2(hist: DataFrame): DataFrame = {
    val tot = hist.groupBy("seg").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("seg").orderBy("v")
    val cum = hist.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), "seg")
    val lo = cum.filter(col("cum") >= expr("(n + 1) DIV 2"))
      .groupBy("seg").agg(min("v").as("v_lo"))
    val hi = cum.filter(col("cum") >= expr("n DIV 2 + 1"))
      .groupBy("seg").agg(min("v").as("v_hi"))
    tot.join(lo, "seg").join(hi, "seg")
      .select(col("seg"), (col("v_lo") + col("v_hi")).as("m2"), col("n"))
  }

  /** Robust outlier census per group: for integer `valueCol` (already
    * quantised, e.g. cents) under `segCol`, report the group size, the
    * doubled median `m2`, the quadrupled MAD `m4` (= 2·median of the
    * doubled deviations), and how many rows sit beyond
    * 3·1.4826·MAD of the median — all exact integers, all computed on
    * histograms (the value relation shuffles once, into the first
    * histogram).
    */
  def madOutlierSummary(df: DataFrame, segCol: Column, valueCol: Column,
                        driverWalkMaxBins: Long = DriverWalkMaxBins): DataFrame = {
    val hist = OpCaches.persist(
      df.select(segCol.as("seg"), valueCol.cast("long").as("v"))
        .groupBy("seg", "v").agg(count(lit(1)).as("cnt")))
    // guarded driver walk: ONE bounded probe sizes the histogram and,
    // when it fits, computes every order statistic in-memory — the
    // distributed path below is the fallback for unbounded value domains
    val probe = DriverBudget.probe(hist, driverWalkMaxBins)
    DriverBudget.recordWalk("madOutlierSummary", probe.map(_.length.toLong),
      driverWalkMaxBins, probe.isDefined)
    if (probe.isDefined) {
      val probeRows = probe.get
      val spark = df.sparkSession
      def m2Of(bins: Seq[(Long, Long)]): Long = {
        // bins: (v, cnt) sorted by v; low-mid + high-mid value
        val n = bins.map(_._2).sum
        val k1 = (n + 1) / 2; val k2 = n / 2 + 1
        def at(k: Long): Long = {
          var cum = 0L
          bins.find { case (_, c) => cum += c; cum >= k }.get._1
        }
        at(k1) + at(k2)
      }
      // the group value is read generically (r.get) and the output row
      // carries the histogram's own seg type, so an int/date segment
      // column types identically on this walk and the distributed one
      val out = probeRows.toSeq
        .map(r => (r.get(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).toSeq.map { case (seg, rs) =>
          val bins = rs.map(t => (t._2, t._3)).sortBy(_._1)
          val n = bins.map(_._2).sum
          val m2 = m2Of(bins)
          val devBins = bins.groupMapReduce { case (v, _) =>
            math.abs(2L * v - m2) }(_._2)(_ + _).toSeq.sortBy(_._1)
          val m4 = m2Of(devBins)
          val nOut = devBins.collect {
            case (d2, c) if d2 * 20000L > OutlierK4 * m4 => c }.sum
          Row(seg, n, m2, m4, nOut)
        }
      val schema = StructType(Seq(
        StructField("segment", hist.schema("seg").dataType, nullable = true),
        StructField("n", LongType, nullable = false),
        StructField("m2", LongType, nullable = false),
        StructField("m4", LongType, nullable = false),
        StructField("n_outliers", LongType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1), schema)
    }
    val med = medianX2(hist) // (seg, m2, n)
    // deviation histogram: |2v − m2| re-binned — still domain-bounded
    val dev = OpCaches.persist(
      hist.join(broadcast(med.select("seg", "m2")), "seg")
        .select(col("seg"), abs(lit(2L) * col("v") - col("m2")).as("v"),
          col("cnt"))
        .groupBy("seg", "v").agg(sum("cnt").as("cnt")))
    val mad = medianX2(dev).select(col("seg"), col("m2").as("m4"))
    // outliers counted ON the deviation histogram — never per row:
    // dev > 3·1.4826·MAD  ⟺  (2·dev)·2·10⁴ > 44478·(4·MAD)
    val outliers = dev.join(broadcast(mad), "seg")
      .filter(col("v") * 20000L > lit(OutlierK4) * col("m4"))
      .groupBy("seg").agg(sum("cnt").as("n_outliers"))
    med.join(broadcast(mad), "seg").join(outliers, Seq("seg"), "left")
      .select(col("seg").as("segment"), col("n"), col("m2"), col("m4"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }
}

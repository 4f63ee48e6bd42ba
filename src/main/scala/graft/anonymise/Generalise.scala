package graft.anonymise

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.ops.DriverBudget

/** K-anonymity ENFORCEMENT — the transform half of the minimiser story.
  * `GraftQueries.o28KAnonymity` only *measures* class sizes; this op
  * actually rewrites the quasi-identifier, bottom-up over a caller-
  * supplied generalisation ladder (the classic full-domain
  * generalisation + suppression scheme of Samarati/Sweeney):
  *
  *   - every row starts at the finest level; a row whose level-l class
  *     holds ≥ k rows settles there,
  *   - undersized classes move to level l+1 TOGETHER and re-group over
  *     the remainder only (bottom-up: rows already safe at a finer
  *     level never coarsen),
  *   - rows undersized at the coarsest level are suppressed (`*`).
  *
  * Scale shape: the data relation is touched exactly TWICE — one
  * mergeable count aggregate over the joint ladder tuple (the class
  * census, whose cardinality is the finest-level class count:
  * metadata-sized next to the data), and one broadcast join applying
  * the census-derived `class → (qi_value, gen_level)` mapping back.
  * The bottom-up level walk itself runs entirely ON THE CENSUS —
  * level-(l+1) remainder sizes are sums of undersized level-l class
  * counts, so no data-side re-grouping is ever needed. The walk is a
  * cost-based chooser (the `Dedup.clusters` idiom): censuses up to
  * [[DriverWalkMaxClasses]] rows walk on the driver in plain Scala
  * (the census must broadcast for the mapping join anyway, so driver
  * residence adds no new scale limit), larger ones fall back to the
  * distributed L-round join walk. Both paths produce the identical
  * mapping. At 100 TB: one shuffle of class-count rows, zero wide
  * exchanges of data rows.
  */
object Generalise {

  /** Census sizes up to this walk on the driver; the same order of
    * magnitude the mapping broadcast tolerates. The 2²⁰ cap is
    * heap-derived downward on small drivers
    * ([[DriverBudget]]).
    */
  def DriverWalkMaxClasses: Long = DriverBudget.bins(1L << 20)

  /** Rewrite `df`'s quasi-identifier to the finest ladder level that
    * satisfies k-anonymity.
    *
    * `levels(0)` is the finest QI expression, `levels.last` the
    * coarsest; each must be (castable to) string and NON-NULL (checked
    * loudly — a null ladder value would silently drop rows through the
    * SQL null-join semantics). Output keeps every input column and
    * appends `qi_value` (the generalised QI, `"*"` when suppressed)
    * and `gen_level` (0-based ladder index; `levels.length` =
    * suppressed).
    */
  def kAnonymize(df: DataFrame, levels: Seq[Column], k: Int,
                 driverWalkMaxClasses: Long = DriverWalkMaxClasses): DataFrame = {
    require(levels.nonEmpty, "kAnonymize: need at least one ladder level")
    require(k >= 1, "kAnonymize: k must be >= 1")
    val inCols = df.columns.toSeq
    val qiNames = levels.indices.map(i => s"_qi_$i")
    // all ladder values in ONE narrow projection — the census and the
    // mapping join key off the same computed tuple
    val tagged = levels.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"_qi_$i", c.cast("string"))
    }
    // the single data-side aggregate: finest-class-count-bounded
    val census = graft.ops.OpCaches.persist(
      tagged.groupBy(qiNames.map(col): _*).agg(count(lit(1)).as("_n")))
    val L = levels.length
    val nullMsg = "kAnonymize: ladder expressions must be non-null (a " +
      "null QI value would drop its rows through null-join semantics)"
    // ONE bounded probe both sizes the census and feeds the driver
    // walk: "over budget" means "too big, go distributed" without a
    // separate count() action
    val walk = DriverBudget.probe(census, driverWalkMaxClasses)
    DriverBudget.recordWalk("kAnonymize", walk.map(_.length.toLong),
      driverWalkMaxClasses, walk.isDefined)
    val mapping: DataFrame =
      if (walk.isDefined) {
        val probe = walk.get
        // driver walk: the census is broadcast-scale by contract, so
        // holding it on the driver adds no new limit — and the walk
        // becomes L in-memory partitions instead of ~3L scheduled stages
        require(!probe.exists(r => qiNames.indices.exists(r.isNullAt)), nullMsg)
        var pending: Seq[(Seq[String], Long)] = probe.toSeq
          .map(r => (qiNames.indices.map(r.getString), r.getLong(L)))
        val out = Seq.newBuilder[Row]
        for (l <- 0 until L) {
          val sizes = pending.groupBy(_._1(l))
            .map { case (q, rs) => (q, rs.map(_._2).sum) }
          val (keep, rest) = pending.partition(r => sizes(r._1(l)) >= k)
          keep.foreach { case (qis, _) => out += Row.fromSeq(qis :+ qis(l) :+ l) }
          pending = rest
        }
        pending.foreach { case (qis, _) => out += Row.fromSeq(qis :+ "*" :+ L) }
        val schema = StructType(
          qiNames.map(StructField(_, StringType, nullable = true)) :+
            StructField("qi_value", StringType, nullable = true) :+
            StructField("gen_level", IntegerType, nullable = false))
        df.sparkSession.createDataFrame(
          df.sparkSession.sparkContext.parallelize(out.result(), 1), schema)
      } else {
        // distributed fallback: the same walk as L rounds of
        // (sum-aggregate + join) over the persisted census
        require(census.filter(qiNames.map(col(_).isNull).reduce(_ || _))
          .limit(1).count() == 0, nullMsg)
        val mapCols = qiNames.map(col) :+ col("qi_value") :+ col("gen_level")
        var pending = census
        var settled: Option[DataFrame] = None
        for (l <- 0 until L) {
          val q = s"_qi_$l"
          val sizes = pending.groupBy(col(q)).agg(sum("_n").as("_class_n"))
          val joined = pending.join(sizes, q)
          val keep = joined.filter(col("_class_n") >= k)
            .withColumn("qi_value", col(q))
            .withColumn("gen_level", lit(l))
            .select(mapCols: _*)
          settled = Some(settled.fold(keep)(_.unionByName(keep)))
          pending = joined.filter(col("_class_n") < k).drop("_class_n")
        }
        settled.get.unionByName(
          pending.withColumn("qi_value", lit("*"))
            .withColumn("gen_level", lit(L)).select(mapCols: _*))
      }
    // apply the mapping: broadcast (class-count rows) against the data
    val outCols = inCols.map(col) :+ col("qi_value") :+ col("gen_level")
    tagged.join(broadcast(mapping), qiNames).select(outCols: _*)
  }
}

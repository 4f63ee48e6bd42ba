package graft.analyse

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import graft.dialect.SqlValueCodec

/** Dataset-version DRIFT detection — the data-contract check a
  * long-lived pipeline runs when a new version of a table lands:
  * which columns appeared/disappeared/changed type, and how did each
  * surviving column's profile move (row count, null count, exact
  * distinct count).
  *
  * Output is LONG format, one row per (column, check):
  * `(col_name, check, v1_num, v2_num, v1_txt, v2_txt, drifted)` —
  * numeric checks use the `_num` pair, the type check the `_txt`
  * pair (a type drifts when the Spark types differ; its text is the
  * dump's DDL name, which two types can share). Integer-only statistics
  * keep every value hash-exact across engines (no float rendering anywhere).
  *
  * Scale shape: the schema comparison is pure driver-side metadata
  * (two StructTypes); the statistics are ONE mergeable aggregate per
  * version computed in a single pass over each table (the o19/q_profile
  * posture — count/null-count/distinct for every shared column in one
  * Expand-based aggregate, never a scan per column), then a
  * column-cardinality-sized driver assembly. Each version's data is
  * read exactly once.
  */
object Drift {

  /** Columns of the report, fixed. */
  private val reportSchema = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("check_name", StringType, nullable = false),
    StructField("v1_num", LongType, nullable = true),
    StructField("v2_num", LongType, nullable = true),
    StructField("v1_txt", StringType, nullable = true),
    StructField("v2_txt", StringType, nullable = true),
    StructField("drifted", BooleanType, nullable = false)))

  /** One-pass per-version profile: row count plus per-column null and
    * exact distinct counts, as a single aggregate row collected to the
    * driver (column-cardinality-scale).
    */
  private def profile(df: DataFrame, cols: Seq[String]): (Long, Map[String, (Long, Long)]) = {
    val aggs = count(lit(1)).as("__rows") +:
      cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
          countDistinct(col(c)).as(s"__d_$c"))
      }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(r.fieldIndex("__rows"))
    (rows, cols.map { c =>
      c -> (r.getLong(r.fieldIndex(s"__n_$c")), r.getLong(r.fieldIndex(s"__d_$c")))
    }.toMap)
  }

  def driftReport(v1: DataFrame, v2: DataFrame): DataFrame = {
    val spark = v1.sparkSession
    val t1 = v1.schema.fields.map(f => f.name -> f.dataType).toMap
    val t2 = v2.schema.fields.map(f => f.name -> f.dataType).toMap
    val allCols = (v1.schema.fieldNames ++ v2.schema.fieldNames).distinct.sorted
    val shared = allCols.filter(c => t1.contains(c) && t2.contains(c))
    val (rows1, p1) = profile(v1, shared)
    val (rows2, p2) = profile(v2, shared)
    val out = Seq.newBuilder[Row]
    out += Row("*", "row_count", rows1, rows2, null, null, rows1 != rows2)
    allCols.foreach { c =>
      val in1 = t1.contains(c); val in2 = t2.contains(c)
      out += Row(c, "presence", if (in1) 1L else 0L, if (in2) 1L else 0L,
        null, null, in1 != in2)
      if (in1 && in2) {
        out += Row(c, "type", null, null, SqlValueCodec.typeName(t1(c)),
          SqlValueCodec.typeName(t2(c)), t1(c) != t2(c))
        val (n1, d1) = p1(c); val (n2, d2) = p2(c)
        out += Row(c, "null_count", n1, n2, null, null, n1 != n2)
        out += Row(c, "distinct_count", d1, d2, null, null, d1 != d2)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result(), 1), reportSchema)
  }
}

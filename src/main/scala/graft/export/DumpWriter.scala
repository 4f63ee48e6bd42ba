package graft.export

import java.io.{BufferedWriter, Writer}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import graft.dialect.{Dialect, SqlValueCodec}
import graft.analyse.TableMeta

/** SQL-dump sink (O16): ordered single-file dump — dialect header, then
  * per table (in FK order) a comment + DROP + CREATE + batched multi-row
  * INSERTs, then the dialect footer.
  *
  * Mirrors /root/reference/internal/exporter/exporter.go:65-309. A single
  * ordered output file is inherently driver-bound, so — like the
  * reference — the writer is the serial tail of the pipeline: each table's
  * anonymised DataFrame streams through the sink one partition at a time
  * (bounded memory) into a 64 KB buffered writer. All the *work* (scan,
  * filter, anonymise, literal rendering) runs distributed before rows
  * reach this sink, and [[TuplePrefetcher]] keeps exactly ONE partition
  * job in flight ahead of the writer so the next partition's compute
  * overlaps the current partition's sequential IO (guide §2.6 — the
  * plain toLocalIterator drain ran each partition as its own one-task
  * job only AFTER the previous partition was fully written).
  *
  * The companion owns the dump format — [[DumpWriter.renderTuple]] and
  * [[DumpWriter.InsertWriter]] — and the parallel sink
  * (`sources.SqlDumpSource`) writes through the same two, so both sinks
  * emit the same bytes by construction.
  */
final case class DumpStats(
    var tablesExported: Long = 0,
    var tablesTruncated: Long = 0,
    var rowsExported: Long = 0)

class DumpWriter(
    out: Writer,
    dialect: Dialect,
    batchSize: Int = DumpWriter.DefaultBatchSize,
    timestamp: () => String = () => java.time.OffsetDateTime.now.toString) {

  private val w = new BufferedWriter(out, DumpWriter.WriterBufferBytes)
  val stats: DumpStats = DumpStats()

  def writeHeader(): Unit = {
    w.write(s"-- Database Dump\n-- Generated by graft\n-- Date: ${timestamp()}\n-- Database Type: ${dialect.name}\n\n")
    w.write(dialect.header)
  }

  def writeFooter(): Unit = {
    w.write(dialect.footer)
    w.flush()
  }

  /** Export `tables` in the given (FK) order: each gets its comment +
    * DROP + CREATE (exporter.go:165-189), then its rows as batched
    * INSERTs, or none when its data is `None` (truncate,
    * exporter.go:191-197). Data must already have retain +
    * anonymisation applied. Every table's partitions drain through ONE
    * [[TuplePrefetcher]], so the next partition's job runs while the
    * current one is written — across table boundaries too — and INSERT
    * batches run on across partition boundaries. If the writer or a
    * render job throws, the job in flight is cancelled.
    */
  def exportTables(tables: Seq[(TableMeta, Option[DataFrame])]): Unit = {
    val rendered = tables.map { case (meta, data) =>
      meta -> data.map(df => (df.columns.toSeq, DumpWriter.renderTuples(df, dialect).rdd))
    }
    val fetcher = new TuplePrefetcher(rendered.flatMap(_._2).map(_._2))
    try for ((meta, data) <- rendered) {
      w.write(s"\n--\n-- Table: ${meta.name}\n--\n\n")
      w.write(dialect.dropTableStatement(meta.name) + "\n\n")
      w.write(meta.createStmt + "\n\n")
      stats.tablesExported += 1
      data match {
        case None => stats.tablesTruncated += 1
        case Some((columns, rdd)) =>
          val inserts = new DumpWriter.InsertWriter(w, dialect, meta.name, columns, batchSize)
          for (_ <- rdd.partitions.indices) {
            val part = fetcher.next()
            part.foreach(inserts.write)
            stats.rowsExported += part.length
          }
          inserts.close()
      }
    } finally fetcher.close()
  }
}

object DumpWriter {
  val DefaultBatchSize = 1000   // exporter.go:16-17
  val WriterBufferBytes = 64 * 1024 // exporter.go:19-21

  /** Value → literal: the codec, except binary routes through the
    * dialect (PostgreSQL needs bytea hex-input, not the X'…' form).
    */
  private def literal(v: Any, dialect: Dialect): String = v match {
    case b: Array[Byte] => dialect.binaryLiteral(b)
    case other          => SqlValueCodec.formatValue(other)
  }

  /** A row's "(v1, v2, …)" tuple text (exporter.go:274-309). */
  def renderTuple(row: Row, dialect: Dialect): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('(')
    var i = 0
    while (i < row.length) {
      if (i > 0) sb.append(", ")
      sb.append(literal(row.get(i), dialect))
      i += 1
    }
    sb.append(')').toString
  }

  /** Render each row's tuple text ON THE EXECUTORS — the literal codec
    * is the per-row CPU cost, and pre-rendering keeps the driver tail to
    * pure sequential IO. The narrow map preserves row order, so draining
    * partitions in order reproduces the input order.
    */
  def renderTuples(df: DataFrame, dialect: Dialect): Dataset[String] = {
    val d = dialect // stable local for the closure
    df.mapPartitions(_.map(renderTuple(_, d)))(Encoders.STRING)
  }

  /** Streaming multi-row INSERT writer (exporter.go:233-239, 274-309):
    * the statement head before a batch's first tuple, `,\n` between
    * tuples, `;\n` after every `batchSize`-th tuple and on close.
    */
  final class InsertWriter(w: Writer, dialect: Dialect, table: String,
                           columns: Seq[String], batchSize: Int) {
    private val head = "INSERT INTO " + dialect.quoteIdentifier(table) + " (" +
      columns.map(dialect.quoteIdentifier).mkString(", ") + ") VALUES\n"
    private var inBatch = 0

    def write(tuple: String): Unit = {
      w.write(if (inBatch == 0) head else ",\n")
      w.write(tuple)
      inBatch += 1
      if (inBatch == batchSize) close()
    }

    def close(): Unit = if (inBatch > 0) {
      w.write(";\n")
      inBatch = 0
    }
  }
}

/** One-partition-ahead prefetcher over the (table, partition) slots of
  * the rendered tuple RDDs, consumed in order. next() waits for the
  * current slot's job and immediately submits the FOLLOWING slot's —
  * across table boundaries — so the cluster computes partition k+1
  * while the driver writes partition k. Driver memory is bounded at two
  * partition arrays (current + in flight), the same order of bound as
  * the plain toLocalIterator drain's one. close() cancels the job in
  * flight, so a failed export leaves no job running behind it.
  */
private[export] final class TuplePrefetcher(rdds: Seq[RDD[String]]) {
  private val slots = rdds.iterator.flatMap(r => r.partitions.indices.map(p => (r, p)))
  private var inFlight: Option[FutureAction[Array[String]]] = None

  private def submitNext(): Unit =
    inFlight = if (!slots.hasNext) None else {
      val (rdd, p) = slots.next()
      val holder = new Array[Array[String]](1)
      Some(rdd.sparkContext.submitJob[String, Array[String], Array[String]](
        rdd, _.toArray, Seq(p), (_, a) => holder(0) = a, holder(0)))
    }

  def next(): Array[String] = {
    if (inFlight.isEmpty) submitNext() // cold start
    val part = Await.result(inFlight.get, Duration.Inf)
    submitNext()
    part
  }

  def close(): Unit = {
    inFlight.foreach(_.cancel())
    inFlight = None
  }
}

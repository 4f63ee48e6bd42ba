package graft.export

import java.io.{BufferedWriter, Writer}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
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

  /** Table section header: comment + DROP + CREATE (exporter.go:165-189). */
  private def writeTableDdl(meta: TableMeta): Unit = {
    w.write(s"\n--\n-- Table: ${meta.name}\n--\n\n")
    w.write(dialect.dropTableStatement(meta.name) + "\n\n")
    w.write(meta.createStmt + "\n\n")
    stats.tablesExported += 1
  }

  /** Export one table: DDL always; data unless truncated. `data` must
    * already have retain + anonymisation applied. Single-table callers
    * get the same one-ahead prefetch the pipeline uses.
    */
  def exportTable(meta: TableMeta, data: Option[DataFrame]): Unit =
    data match {
      case None =>
        writeTableDdl(meta)
        stats.tablesTruncated += 1 // truncate: schema only (exporter.go:191-197)
      case Some(df) =>
        val rendered = DumpWriter.renderTuples(df, dialect)
        val fetcher = new TuplePrefetcher(Seq(rendered.rdd))
        exportTableParts(meta, df.schema.fieldNames.toSeq, fetcher.parts(0))
    }

  /** Export one table's data section from pre-rendered tuple texts
    * arriving one partition array at a time (in partition order).
    * Batching is continuous across partition boundaries, so the INSERT
    * framing is byte-identical to draining a single row iterator.
    */
  def exportTableParts(meta: TableMeta, columnNames: Seq[String],
                       parts: Iterator[Array[String]]): Unit = {
    writeTableDdl(meta)
    val batch = new scala.collection.mutable.ArrayBuffer[String](batchSize)
    for (part <- parts) {
      var i = 0
      while (i < part.length) {
        batch += part(i)
        if (batch.length >= batchSize) {
          writeRenderedInsert(meta.name, columnNames, batch)
          batch.clear()
        }
        i += 1
      }
    }
    if (batch.nonEmpty) writeRenderedInsert(meta.name, columnNames, batch)
  }

  /** Multi-row INSERT from pre-rendered tuple texts (exporter.go:274-309). */
  private def writeRenderedInsert(table: String, columnNames: Seq[String],
                                  tuples: scala.collection.Seq[String]): Unit = {
    if (tuples.isEmpty) return
    w.write(insertPrefix(table, columnNames))
    var first = true
    for (t <- tuples) {
      if (!first) w.write(",\n")
      first = false
      w.write(t)
    }
    w.write(";\n")
    stats.rowsExported += tuples.length
  }

  private def insertPrefix(table: String, columnNames: Seq[String]): String =
    "INSERT INTO " + dialect.quoteIdentifier(table) + " (" +
      columnNames.map(dialect.quoteIdentifier).mkString(", ") + ") VALUES\n"

  def flush(): Unit = w.flush()
}

object DumpWriter {
  val DefaultBatchSize = 1000   // exporter.go:16-17
  val WriterBufferBytes = 64 * 1024 // exporter.go:19-21

  /** Value → literal: the codec, except binary routes through the
    * dialect (PostgreSQL needs bytea hex-input, not the X'…' form).
    */
  def literal(v: Any, dialect: Dialect): String = v match {
    case b: Array[Byte] => dialect.binaryLiteral(b)
    case other          => SqlValueCodec.formatValue(other)
  }

  /** Render each row's "(v1, v2, …)" tuple text ON THE EXECUTORS — the
    * literal codec is the per-row CPU cost, and pre-rendering keeps the
    * driver tail to pure sequential IO. The narrow map preserves row
    * order, so draining partitions in order reproduces the input order.
    */
  def renderTuples(df: DataFrame, dialect: Dialect): Dataset[String] = {
    val ncols = df.schema.length
    val d = dialect // stable local for the closure
    df.mapPartitions { rows =>
      rows.map { row =>
        val sb = new java.lang.StringBuilder(64)
        sb.append('(')
        var i = 0
        while (i < ncols) {
          if (i > 0) sb.append(", ")
          sb.append(DumpWriter.literal(row.get(i), d))
          i += 1
        }
        sb.append(')')
        sb.toString
      }
    }(Encoders.STRING)
  }
}

/** One-partition-ahead prefetcher over an ordered sequence of rendered
  * tuple RDDs (one per exported table). next() hands the writer the
  * current partition and immediately submits the FOLLOWING partition's
  * job — across table boundaries — so the cluster computes partition
  * k+1 while the driver writes partition k. Driver memory is bounded at
  * two partition arrays (current + in flight), the same order of bound
  * as the plain toLocalIterator drain's one.
  *
  * Tables must be consumed fully and in sequence (the export loop's
  * natural order); out-of-order consumption fails fast rather than
  * silently interleaving output.
  */
private[export] final class TuplePrefetcher(
    rdds: Seq[org.apache.spark.rdd.RDD[String]]) {
  import scala.concurrent.Await
  import scala.concurrent.duration.Duration

  /** Global (table, partition) slot order. */
  private val slots: IndexedSeq[(Int, Int)] = rdds.zipWithIndex.flatMap {
    case (r, t) => (0 until r.getNumPartitions).map(p => (t, p))
  }.toIndexedSeq
  private var cursor = 0
  private var inFlight: Option[org.apache.spark.FutureAction[Array[String]]] = None

  private def submit(slotIdx: Int): Unit = {
    val (t, p) = slots(slotIdx)
    val rdd = rdds(t)
    val holder = new Array[Array[String]](1)
    inFlight = Some(rdd.sparkContext.submitJob[String, Array[String], Array[String]](
      rdd, _.toArray, Seq(p), (_, a) => holder(0) = a, holder(0)))
  }

  /** Partition arrays of table `t`, in partition order. */
  def parts(t: Int): Iterator[Array[String]] = new Iterator[Array[String]] {
    private val begin = slots.indexWhere(_._1 == t)
    private val end = slots.lastIndexWhere(_._1 == t) + 1 // 0 slots → begin = -1, end = 0
    private var next_ = math.max(begin, 0)
    override def hasNext: Boolean = begin >= 0 && next_ < end
    override def next(): Array[String] = {
      require(next_ == cursor,
        s"TuplePrefetcher consumed out of order: slot ${next_} vs cursor $cursor")
      if (inFlight.isEmpty) submit(cursor) // cold start (first table, or after a skip-less begin)
      val arr = Await.result(inFlight.get, Duration.Inf)
      cursor += 1
      next_ += 1
      if (cursor < slots.size) submit(cursor) else inFlight = None
      arr
    }
  }
}

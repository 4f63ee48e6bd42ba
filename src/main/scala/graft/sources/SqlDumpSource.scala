package graft.sources

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.dialect.SqlValueCodec
import graft.export.DumpWriter

/** DataSourceV2 batch READER for the engine's own SQL-dump format
  * (`export.DumpWriter` / reference exporter.go) — the round-trip half
  * the reference never had: a dump produced by the anonymise-export
  * pipeline can be loaded straight back into a DataFrame, with schema
  * inferred from the dump's own `CREATE TABLE` statement.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.SqlDumpSource")
  *     .option("table", "customer")          // default: first CREATE TABLE
  *     .load("/path/to/dump.sql")            // file, or directory of .sql
  * }}}
  *
  * Every type question — which SQL type name maps to which Spark type,
  * how a token decodes, how a pushed filter compares — is answered by
  * `dialect.SqlValueCodec`, the same module the writers encode with. An
  * array column was written as JSON array text under `TEXT`, so it
  * reads back as a string; `from_json` recovers the array.
  *
  * Scale design — the dump format is line-structured by construction
  * (the writer renders one tuple per line and `SqlValueCodec` escapes
  * every LF/CR inside values), so a dump is SPLITTABLE like a text
  * file:
  *  - `planInputPartitions` cuts each file into `maxSplitBytes` byte
  *    ranges (default 128 MB) — a 1 TB dump becomes ~8k parallel
  *    partitions with no driver-side parsing;
  *  - each reader statement-aligns its range with the Hadoop
  *    line-split convention lifted to INSERT statements: a statement
  *    belongs to the partition whose range contains its header line's
  *    first byte (a partition with start > 0 discards through the
  *    first newline; the previous partition compensates by reading one
  *    statement anchor past its end), and a statement that straddles
  *    `end` is read to its terminating `;` — every tuple is read
  *    exactly once, no coordination;
  *  - column pruning is pushed into the reader
  *    (`SupportsPushDownRequiredColumns`): all tuples are tokenised
  *    (sequential scan cost) but only required columns are decoded and
  *    boxed into rows;
  *  - multi-table dump files are fine — statements for other tables
  *    are skipped by header, so one dump file can feed one DataFrame
  *    per table, each with its own parallel scan.
  */
class SqlDumpSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = SqlDumpSource.listFiles(SqlDumpSource.pathsOf(options))
    require(files.nonEmpty, "sqldump: no .sql files under the given path")
    SqlDumpSource.inferFromCreate(files.head, Option(options.get("table")))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new SqlDumpTable(schema, SqlDumpSource.pathsOf(options),
      Option(options.get("table")), SqlDumpSource.splitBytes(options))
  }
}

object SqlDumpSource {
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** All load paths. `DataFrameReader.load(paths*)` hands the source a
    * JSON-encoded list under "paths" (and a single `.load(p)` may encode
    * the same way), so parse it as JSON rather than string-stripping —
    * `.load(a, b)` yields two real paths, not the mangled `a","b`.
    */
  private[sources] def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val p = Option(options.get("paths")).orElse(Option(options.get("path")))
    require(p.isDefined, "sqldump: a path is required (use .load(path))")
    val raw = p.get.trim
    if (raw.startsWith("[")) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
      require(node.isArray, s"sqldump: unparseable paths option: $raw")
      (0 until node.size()).map(node.get(_).asText())
    } else Seq(raw)
  }

  private[sources] def splitBytes(options: CaseInsensitiveStringMap): Long =
    Option(options.get("maxSplitBytes")).map(_.toLong).getOrElse(DefaultSplitBytes)

  private[sources] def listFiles(paths: Seq[String]): Seq[java.io.File] =
    paths.flatMap { path =>
      val f = new java.io.File(path)
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName).toSeq
      else Seq(f)
    }

  /** Strip one layer of identifier quoting (backtick or double-quote,
    * either dialect) and undo the doubling.
    */
  private[sources] def unquote(id: String): String = {
    val t = id.trim
    if (t.length >= 2 && t.head == '`' && t.last == '`')
      t.substring(1, t.length - 1).replace("``", "`")
    else if (t.length >= 2 && t.head == '"' && t.last == '"')
      t.substring(1, t.length - 1).replace("\"\"", "\"")
    else t
  }

  /** Schema from the dump's own CREATE TABLE statement: scan the file's
    * statement headers (cheap — DDL sits near the front of each table's
    * section) for `CREATE TABLE <table> (`, then parse one column
    * definition per line until the `);` terminator. Only the header
    * region is read — inference cost is independent of data volume.
    */
  private[sources] def inferFromCreate(file: java.io.File, table: Option[String]): StructType = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(new java.io.FileInputStream(file), UTF_8))
    try {
      var line = in.readLine()
      var fields: ArrayBuffer[StructField] = null
      while (line != null) {
        if (line.startsWith("CREATE TABLE ")) {
          val rest = line.stripPrefix("CREATE TABLE ").trim
          val name = unquote(rest.takeWhile(_ != '(').trim)
          if (table.forall(_ == name)) {
            fields = ArrayBuffer.empty[StructField]
            var colLine = in.readLine()
            while (colLine != null && !colLine.trim.startsWith(")")) {
              val t = colLine.trim.stripSuffix(",")
              // constraint lines (PRIMARY KEY (...), FOREIGN KEY ...) are not columns
              val upper = t.toUpperCase
              if (t.nonEmpty && !upper.startsWith("PRIMARY KEY") &&
                  !upper.startsWith("FOREIGN KEY") && !upper.startsWith("UNIQUE") &&
                  !upper.startsWith("CONSTRAINT") && !upper.startsWith("KEY ")) {
                val (colName, typePart) =
                  if (t.head == '"' || t.head == '`') {
                    val q = t.head
                    val close = t.indexOf(q, 1) // writer never doubles in practice
                    (unquote(t.substring(0, close + 1)), t.substring(close + 1))
                  } else {
                    val sp = t.indexOf(' ')
                    (t.substring(0, sp), t.substring(sp))
                  }
                val notNull = typePart.toUpperCase.contains("NOT NULL")
                val typeText = typePart.trim
                  .replaceAll("(?i)\\s+NOT\\s+NULL.*$", "")
                  .replaceAll("(?i)\\s+DEFAULT\\s+.*$", "")
                  .replaceAll("(?i)\\s+GENERATED\\s+.*$", "")
                  .replaceAll("(?i)\\s+PRIMARY\\s+KEY.*$", "")
                fields += StructField(colName, SqlValueCodec.dataType(typeText), nullable = !notNull)
              }
              colLine = in.readLine()
            }
            return StructType(fields.toSeq)
          }
        }
        line = in.readLine()
      }
      throw new IllegalArgumentException(
        s"sqldump: no CREATE TABLE${table.fold("")(t => s" for '$t'")} in ${file.getPath}")
    } finally in.close()
  }
}

private[sources] class SqlDumpTable(tableSchema: StructType, paths: Seq[String],
                                    table: Option[String], maxSplit: Long)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"sqldump:${table.getOrElse(paths.mkString(","))}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SqlDumpScanBuilder(tableSchema, paths, table, maxSplit)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1,
      s"sqldump: writing requires exactly one target directory, got ${paths.size}")
    val batch = Option(info.options.get("insertBatchSize"))
      .map(_.toInt).getOrElse(DumpWriter.DefaultBatchSize)
    val dialect = graft.dialect.Dialect.forName(
      Option(info.options.get("dialect")).getOrElse("mysql"))
    val tbl = table.getOrElse("export")
    SqlValueCodec.requireWritable(info.schema())
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new SqlDumpBatchWrite(paths.head, tbl, info.schema(), dialect, batch,
            info.queryId())
      }
    }
  }
}

/** Parallel SQL-dump SINK — the 100 TB counterpart of the single
  * ordered-file `export.DumpWriter`: every input partition renders its
  * own `part-NNNNN.sql` of batched INSERT statements (executor-side,
  * no driver funnel) through the ordered dump's own format —
  * `DumpWriter.tupleRenderer` per row, straight from the `InternalRow`
  * the write receives, and `DumpWriter.InsertWriter` per file — so both
  * sinks write the same tuples and statements by construction. Column
  * types are checked when the write is planned,
  * by the same `SqlValueCodec.requireWritable` the ordered export
  * calls: a column the dump cannot carry (a map, a struct, an array of
  * anything but numbers or booleans) is rejected there, naming the
  * column. The driver writes one
  * `00_schema.sql` carrying the CREATE TABLE (named to sort first so
  * the reader's schema inference finds it), and commit is rename-based
  * two-phase — each task writes `.inprogress`, the job commit renames
  * all parts and drops a `_SUCCESS` marker, task/job abort deletes
  * temps. The same dump directory reads straight back through the scan
  * side (each part file splits independently). Local-FS renames here;
  * the protocol is exactly Hadoop's v1 committer shape, so a cluster
  * port is a FileSystem-API swap, not a redesign.
  */
private[sources] class SqlDumpBatchWrite(dir: String, table: String,
                                         schema: StructType,
                                         dialect: graft.dialect.Dialect,
                                         batchSize: Int,
                                         queryId: String) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val d = new File(dir)
    d.mkdirs()
    val ddl = new File(d, "00_schema.sql")
    val w = new OutputStreamWriter(new FileOutputStream(ddl), UTF_8)
    try {
      w.write(dialect.dropTableStatement(table) + "\n\n")
      w.write(Source.ddlFor(table, schema, dialect.quoteIdentifier) + "\n")
    } finally w.close()
    SqlDumpWriterFactory(dir, table, schema, dialect.name, batchSize, queryId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case SqlDumpCommit(tmp, fin) =>
        val t = new File(tmp)
        // a committed task's temp MUST exist — a missing one means lost
        // output, and skipping it would mark an incomplete dump _SUCCESS
        if (!t.exists())
          throw new java.io.IOException(s"sqldump: committed task output missing: $tmp")
        if (!t.renameTo(new File(fin)))
          throw new java.io.IOException(s"sqldump: commit rename failed: $tmp -> $fin")
      case _ =>
    }
    new FileOutputStream(new File(dir, "_SUCCESS")).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SqlDumpCommit(tmp, _) => new File(tmp).delete()
      case _ =>
    }
}

private[sources] final case class SqlDumpCommit(tmpPath: String, finalPath: String)
    extends WriterCommitMessage

private[sources] final case class SqlDumpWriterFactory(
    dir: String, table: String, schema: StructType,
    dialectName: String, batchSize: Int, queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SqlDumpDataWriter(dir, table, schema,
      graft.dialect.Dialect.forName(dialectName), batchSize, partitionId, taskId,
      queryId)
}

private[sources] final class SqlDumpDataWriter(
    dir: String, table: String, schema: StructType,
    dialect: graft.dialect.Dialect, batchSize: Int,
    partitionId: Int, taskId: Long, queryId: String) extends DataWriter[InternalRow] {

  // queryId in the committed name makes a second append job into the
  // same directory additive instead of a silent part-file overwrite —
  // the same per-job-UUID recipe Spark's own file sinks use
  private val finalFile = new File(dir, f"part-$queryId-$partitionId%05d.sql")
  // taskId in the temp name keeps speculative / retried attempts from
  // colliding; only the committed attempt's rename lands
  private val tmpFile = new File(dir, f".part-$queryId-$partitionId%05d-$taskId.sql.inprogress")
  private val out = new java.io.BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(tmpFile), UTF_8), DumpWriter.WriterBufferBytes)

  private val render = DumpWriter.tupleRenderer(schema, dialect)
  private val inserts = new DumpWriter.InsertWriter(out, dialect, table,
    schema.fieldNames.toSeq, batchSize)

  override def write(row: InternalRow): Unit =
    inserts.write(render(row))

  override def commit(): WriterCommitMessage = {
    inserts.close()
    out.close()
    SqlDumpCommit(tmpFile.getPath, finalFile.getPath)
  }

  override def abort(): Unit = {
    out.close()
    tmpFile.delete()
  }

  override def close(): Unit = ()
}

private[sources] class SqlDumpScanBuilder(fullSchema: StructType, paths: Seq[String],
                                          table: Option[String], maxSplit: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the predicates the reader can evaluate EXACTLY on decoded
    * tuple values — equality on any scalar, ordering on
    * numeric/temporal/boolean (string ordering and NOT are declined —
    * NOT over a NULL comparison is NULL in SQL, not a boolean flip; string order declined: Java
    * UTF-16 order differs from Spark's UTF-8 binary order on
    * supplementary characters), and null tests. Accepted filters are
    * claimed (not returned), so Catalyst plans NO residual Filter node
    * above the scan — rows failing the predicate are skipped before
    * the InternalRow is ever built.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(SqlDumpFilters.supports(fullSchema, _))
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"SqlDumpScan pushedFilters=[${pushed.mkString(", ")}]"

    override def planInputPartitions(): Array[InputPartition] =
      SqlDumpSource.listFiles(paths).flatMap { f =>
        val len = f.length()
        if (len == 0) Nil
        else (0L until len by maxSplit).map { start =>
          SqlDumpInputPartition(f.getPath, start, math.min(start + maxSplit, len))
        }
      }.toArray

    override def createReaderFactory(): PartitionReaderFactory =
      SqlDumpReaderFactory(table, required, fullSchema, pushed)
  }
}

/** Exact tuple-level evaluation of pushed-down `sources.Filter`s for
  * the dump reader. A filter column's token is decoded by the FULL
  * schema's type (independent of output pruning) with the row path's
  * own `SqlValueCodec.decode` and compared in Spark's own order
  * (`SqlValueCodec.compare`), so a pushed filter decides exactly as the
  * post-scan Filter would.
  */
private[sources] object SqlDumpFilters {

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def pushable(schema: StructType, a: String, ordered: Boolean): Boolean =
    fieldType(schema, a).exists(SqlValueCodec.pushable(_, ordered))

  def supports(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, _) => pushable(schema, a, ordered = false)
    case GreaterThan(a, _) => pushable(schema, a, ordered = true)
    case GreaterThanOrEqual(a, _) => pushable(schema, a, ordered = true)
    case LessThan(a, _) => pushable(schema, a, ordered = true)
    case LessThanOrEqual(a, _) => pushable(schema, a, ordered = true)
    case IsNull(a) => fieldType(schema, a).isDefined
    case IsNotNull(a) => fieldType(schema, a).isDefined
    case And(l, r) => supports(schema, l) && supports(schema, r)
    case Or(l, r) => supports(schema, l) && supports(schema, r)
    case _ => false
  }

  /** Evaluate one filter against the raw tokens of a statement, given
    * the statement's column-name → token-index map. SQL three-valued
    * logic: a comparison on a NULL token is false (the row is
    * skipped), exactly as the post-scan Filter would decide.
    */
  def eval(f: Filter, schema: StructType, colIdx: Map[String, Int],
           tokens: Array[String]): Boolean = {
    def tok(a: String): Option[String] =
      colIdx.get(a).flatMap(i => if (i < tokens.length) Option(tokens(i)) else None)
    def cmp(a: String, v: Any): Option[Int] = for {
      t <- tok(a)
      dt <- fieldType(schema, a)
    } yield SqlValueCodec.compare(t, dt, v)
    f match {
      case EqualTo(a, v)            => cmp(a, v).contains(0)
      case GreaterThan(a, v)        => cmp(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
      case LessThan(a, v)           => cmp(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, v).exists(_ <= 0)
      case IsNull(a)    => tok(a).isEmpty
      case IsNotNull(a) => tok(a).isDefined
      case And(l, r) => eval(l, schema, colIdx, tokens) && eval(r, schema, colIdx, tokens)
      case Or(l, r)  => eval(l, schema, colIdx, tokens) || eval(r, schema, colIdx, tokens)
      case _ => true
    }
  }
}

private[sources] final case class SqlDumpInputPartition(
    path: String, start: Long, end: Long) extends InputPartition

private[sources] final case class SqlDumpReaderFactory(
    table: Option[String], required: StructType,
    fullSchema: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SqlDumpInputPartition]
    new SqlDumpPartitionReader(sp.path, sp.start, sp.end, table, required,
      fullSchema, pushed)
  }
}

/** Byte-offset-tracking line reader (UTF-8; LF terminators — the
  * writer emits `\n` only).
  *
  * Block-scanning: reads the stream in 256 KB chunks and finds each
  * `\n` with a tight array loop, decoding one String per line straight
  * from the chunk. The original implementation pulled ONE BYTE PER
  * CALL through BufferedInputStream.read() (a virtual call + bounds
  * check + ByteArrayOutputStream.write per byte) — measured ~2.4× the
  * scan cost of the dump reader's whole tokenize+decode pipeline. A
  * line that straddles a chunk boundary spills into a growable side
  * buffer (rare: lines are tuple-sized, chunks are 256 KB).
  */
private[sources] final class OffsetLineReader(in: java.io.InputStream) {
  private val chunk = new Array[Byte](256 * 1024)
  private var len = 0 // valid bytes in chunk
  private var pos = 0 // next unread byte
  private var eof = false
  var consumed: Long = 0L

  /** A stream whose `read` returns 0 for a non-empty buffer breaks the
    * InputStream contract and would make the caller spin forever.
    */
  private def refill(): Unit = {
    len = in.read(chunk)
    pos = 0
    if (len < 0) { eof = true; len = 0 }
    else if (len == 0)
      throw new java.io.IOException(s"SQL dump stream read 0 bytes at stream byte offset $consumed")
  }

  /** Next line without its terminator; null at EOF. A final line with
    * no terminator is returned once (its bytes count toward `consumed`,
    * its missing `\n` does not), exactly like the byte-at-a-time form.
    */
  def readLine(): String = {
    var spill: java.io.ByteArrayOutputStream = null
    while (true) {
      if (pos >= len) {
        if (!eof) refill()
        if (eof) {
          return if (spill == null) null
                 else new String(spill.toByteArray, UTF_8)
        }
      }
      var j = pos
      while (j < len && chunk(j) != '\n') j += 1
      if (j < len) { // terminator inside this chunk
        val s =
          if (spill == null) new String(chunk, pos, j - pos, UTF_8)
          else {
            spill.write(chunk, pos, j - pos)
            new String(spill.toByteArray, UTF_8)
          }
        consumed += (j - pos + 1)
        pos = j + 1
        return s
      }
      // line continues past the chunk: spill and refill
      if (spill == null) spill = new java.io.ByteArrayOutputStream(512)
      spill.write(chunk, pos, len - pos)
      consumed += (len - pos)
      pos = len
    }
    null // unreachable
  }

  def close(): Unit = in.close()
}

private[sources] final class SqlDumpPartitionReader(
    path: String, start: Long, end: Long,
    table: Option[String], required: StructType,
    fullSchema: StructType, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val stream = {
    val s = new java.io.FileInputStream(path)
    var toSkip = start
    while (toSkip > 0) toSkip -= s.skip(toSkip)
    s
  }
  private val lines = new OffsetLineReader(stream)
  // a partition with start > 0 discards through the first newline; the
  // previous partition owns anything it cut in half (and a header that
  // starts exactly at `start` — it reads one anchor past its end)
  if (start > 0) lines.readLine()

  /** Column projection for the CURRENT statement: required-field index →
    * tuple position (-1 → null). Rebuilt per statement header, so dumps
    * whose INSERTs list columns in different orders still decode right.
    */
  private var proj: Array[Int] = _
  /** Filter-column name → token position for the CURRENT statement. */
  private var colIdx: Map[String, Int] = Map.empty
  private var inStatement = false
  private var done = false
  private var current: InternalRow = _

  private def headerFor(line: String): Option[Array[String]] =
    if (!line.startsWith("INSERT INTO ")) None
    else {
      val rest = line.stripPrefix("INSERT INTO ").trim
      val open = rest.indexOf('(')
      if (open < 0) None
      else {
        val name = SqlDumpSource.unquote(rest.substring(0, open).trim)
        if (!table.forall(_ == name)) None
        else {
          val close = rest.indexOf(')', open)
          Some(rest.substring(open + 1, close).split(',').map(SqlDumpSource.unquote))
        }
      }
    }

  override def next(): Boolean = {
    if (done) return false
    while (true) {
      // byte offset where the NEXT line starts = statement-anchor position
      val lineStart = start + lines.consumed
      if (!inStatement && lineStart > end) { done = true; return false }
      val line = lines.readLine()
      if (line == null) { done = true; return false }
      if (inStatement) {
        if (line.nonEmpty && line.head == '(') {
          if (line.endsWith(";")) inStatement = false
          val tokens = SqlDumpPartitionReader.tokenize(line)
          // pushed filters run on raw tokens BEFORE any row is built —
          // a failing tuple costs only its tokenisation
          if (pushed.forall(SqlDumpFilters.eval(_, fullSchema, colIdx, tokens))) {
            current = decodeTuple(tokens)
            return true
          }
        } else inStatement = false // malformed / empty — resync on headers
      } else headerFor(line) match {
        case Some(cols) =>
          proj = required.fields.map(f => cols.indexOf(f.name))
          colIdx = cols.zipWithIndex.toMap
          inStatement = true
        case None => // DDL, comments, other tables' statements: skip
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()

  /** Decode only the required columns of a tokenised tuple into an
    * InternalRow.
    */
  private def decodeTuple(tokens: Array[String]): InternalRow = {
    val row = new GenericInternalRow(proj.length)
    var i = 0
    while (i < proj.length) {
      val pos = proj(i)
      val tok = if (pos >= 0 && pos < tokens.length) tokens(pos) else null
      row.update(i, if (tok == null) null else SqlValueCodec.decode(tok, required.fields(i).dataType))
      i += 1
    }
    row
  }
}

private[graft] object SqlDumpPartitionReader {

  /** Split a tuple line into literal tokens: null for NULL, the decoded
    * text for strings (inverse of `SqlValueCodec.escapeString` — quote
    * doubling plus the \\ \0 \n \r \Z escapes), the raw text for
    * numbers.
    */
  def tokenize(line: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = line.indexOf('(') + 1
    val n = line.length
    while (i < n) {
      while (i < n && line.charAt(i) == ' ') i += 1
      if (i >= n || line.charAt(i) == ')') i = n
      else if (line.charAt(i) == '\'') {
        val sb = new java.lang.StringBuilder(32)
        i += 1
        var open = true
        while (open && i < n) {
          line.charAt(i) match {
            case '\'' =>
              if (i + 1 < n && line.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
              else { open = false; i += 1 }
            case '\\' if i + 1 < n =>
              line.charAt(i + 1) match {
                case '\\' => sb.append('\\')
                case '0'  => sb.append('\u0000')
                case 'n'  => sb.append('\n')
                case 'r'  => sb.append('\r')
                case 'Z'  => sb.append('\u001a')
                case c    => sb.append('\\').append(c)
              }
              i += 2
            case c => sb.append(c); i += 1
          }
        }
        out += sb.toString
        while (i < n && (line.charAt(i) == ' ' || line.charAt(i) == ',')) i += 1
      } else {
        val from = i
        while (i < n && line.charAt(i) != ',' && line.charAt(i) != ')') i += 1
        val raw = line.substring(from, i).trim
        out += (if (raw == "NULL") null else raw)
        if (i < n && line.charAt(i) == ',') i += 1
      }
    }
    out.toArray
  }
}

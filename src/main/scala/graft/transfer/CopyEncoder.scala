package graft.transfer

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.sql.Connection

/** PostgreSQL COPY bulk-load path — K4 parity (reference
  * `postgres/connection.go:447-593`, pgx `CopyFrom` at `:557,:571`).
  *
  * Two layers:
  *  - [[encodeRow]]/[[encodeBatch]]: the COPY `text` format encoder — the
  *    actual protocol work (tab field separator, `\N` nulls, backslash
  *    escapes, bytea `\x` hex, microsecond timestamps, t/f booleans).
  *    Pure and golden-tested; identical bytes to what pgx streams.
  *  - [[copyRows]]: the partition body [[BatchSink.write]] runs for
  *    PostgreSQL targets: feeds the encoded stream to `CopyManager.copyIn`
  *    inside BatchSink's per-partition transaction and folds the same
  *    (count, checksum) as the INSERT body. The PG driver is loaded
  *    reflectively because only Derby ships with the build;
  *    [[copySupported]] gates the path and BatchSink's INSERT body is the
  *    fallback.
  *
  * Scale: COPY is the fastest PG ingest path (single round-trip stream per
  * partition vs per-batch statement execution); partitions stream
  * concurrently, so ingest scales with executor count until the target's
  * WAL becomes the bottleneck.
  */
object CopyEncoder {

  private val Null = "\\N"

  /** Escape one COPY text-format field (PG docs: COPY TO/FROM text). */
  def escapeField(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def encodeValue(dt: DataType, v: Any): String = dt match {
    case StringType => escapeField(v.toString)
    case BooleanType => if (v.asInstanceOf[Boolean]) "t" else "f"
    case BinaryType =>
      "\\\\x" + v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
    case TimestampType | TimestampNTZType =>
      v match {
        case t: java.sql.Timestamp => tsFmt.format(t.toLocalDateTime)
        case l: java.time.LocalDateTime => tsFmt.format(l)
        case i: java.time.Instant =>
          tsFmt.format(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
        case other => escapeField(other.toString)
      }
    case _ => v.toString // numerics, dates: canonical toString is COPY-valid
  }

  /** One row → one COPY text line (no trailing newline). */
  def encodeRow(schema: StructType, row: Row): String =
    schema.fields.indices.map { i =>
      if (row.isNullAt(i)) Null else encodeValue(schema.fields(i).dataType, row.get(i))
    }.mkString("\t")

  /** Batch of rows → newline-terminated COPY payload bytes. */
  def encodeBatch(schema: StructType, rows: Iterator[Row]): Array[Byte] = {
    val sb = new StringBuilder
    rows.foreach(r => sb.append(encodeRow(schema, r)).append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** True when the PostgreSQL driver (and thus CopyManager) is loadable. */
  def copySupported(): Boolean =
    try { Class.forName("org.postgresql.copy.CopyManager"); true }
    catch { case _: ClassNotFoundException => false }

  /** `COPY table (columns) FROM STDIN`; `columns` are the matched target
    * column names, already quoted by the dialect, so mixed-case names and
    * reserved words land in the columns the table was created with. */
  private[graft] def copyStatement(table: String, columns: Seq[String]): String =
    s"COPY $table (${columns.mkString(", ")}) FROM STDIN"

  /** COPY-stream one partition on `conn` with `sql` ([[copyStatement]]),
    * inside the caller's transaction ([[BatchSink.write]] opens, commits
    * and rolls back), one `copyIn` per `batchRows` rows; returns the
    * (count, checksum) fold of the rows streamed, as the INSERT body does. */
  private[transfer] def copyRows(conn: Connection, rows: Iterator[InternalRow],
      schema: StructType, sql: String, batchRows: Int): (Long, Long) = {
    // reflective: new CopyManager(conn.unwrap(BaseConnection))
    val baseCls = Class.forName("org.postgresql.core.BaseConnection")
    val mgrCls = Class.forName("org.postgresql.copy.CopyManager")
    val mgr = mgrCls.getConstructor(baseCls)
      .newInstance(conn.unwrap(baseCls.asInstanceOf[Class[AnyRef]]))
    val copyIn = mgrCls.getMethod("copyIn", classOf[String], classOf[java.io.InputStream])
    val types = schema.fields.map(_.dataType)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    var n = 0L
    var chk = 0L
    rows.map { r =>
      n += 1
      chk ^= BatchSink.rowHash(r, types)
      toRow(r).asInstanceOf[Row]
    }.grouped(batchRows).foreach { batch =>
      copyIn.invoke(mgr, sql, new ByteArrayInputStream(encodeBatch(schema, batch.iterator)))
    }
    (n, chk)
  }
}

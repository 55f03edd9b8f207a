package graft.transfer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec, SQLExecution,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types._
import java.sql.{Connection, PreparedStatement}

/** The one JDBC writer — the reference's K4 bulk load
  * (`BatchInsertDataWithTransactionAndGetLastValue`,
  * postgres/connection.go:447-593): one Spark job over the frame's
  * `InternalRow`s, one connection and one transaction per partition,
  * typed setters into a batched prepared INSERT flushed every `batchSize`
  * rows, a single commit. The same per-row loop folds the row count and
  * the xor-xxhash64 checksum, so [[write]] returns the `(count, checksum)`
  * of exactly the rows it committed, and validation needs no extra pass.
  *
  *   step                  | how
  *   ----------------------+------------------------------------------------
  *   target table          | driver side, Spark's JDBC writer semantics via
  *                         | `JdbcUtils`: create when absent; when truncating,
  *                         | TRUNCATE (drop + create where the dialect's
  *                         | truncate cascades); append otherwise
  *   column mapping        | `getSchemaOption` + `getInsertStatement`;
  *                         | COPY names the same matched target columns,
  *                         | quoted by the dialect
  *   rows                  | a bare JDBC scan's own `InternalRow`s
  *                         | ([[rows]]): no generated class, no copy into
  *                         | an `UnsafeRow`; any other plan as executed
  *   zero dates            | `zeroDatesToNull`: a string that is a whole
  *                         | MySQL zero date ([[Transfer.isZeroDate]]) binds
  *                         | and hashes as NULL, in place of Transfer's
  *                         | DataFrame projection of the same rule
  *   NULL binding          | the TARGET column's JDBC type, read from the
  *                         | dialect's schema query (not the dialect's type
  *                         | for the Spark type: Derby strings would bind
  *                         | as CLOB and fail on a VARCHAR column)
  *   row hash              | seed 42, `XxHash64Function.hash` over the
  *                         | non-null columns, xor across rows — equal to
  *                         | `bit_xor(xxhash64(cols))` ([[checksumCol]])
  *   PostgreSQL            | a COPY stream ([[CopyEncoder]]) when the PG
  *                         | driver is loadable on the executor
  *
  * [[stats]] is the same fold with no sink: Transfer's read-back. Jobs run
  * under `SQLExecution.withNewExecutionId`, so SQL listeners see the plan.
  *
  * Scale notes: connections scale with partitions, not rows; nothing is
  * buffered beyond one batch. Partition count should be pre-sized via
  * [[graft.catalog.Catalog.suggestNumPartitions]] so each transaction stays
  * within WAL/undo comfort (the reference's per-batch-transaction bound).
  */
object BatchSink {

  /** Load `df` into `table`; returns (rows, checksum) of the rows
    * committed. `truncate` empties an existing table first, else rows are
    * appended; an absent table is created from the frame's schema.
    * `zeroDatesToNull` lands (and hashes) every string column's MySQL zero
    * date as NULL, as `Transfer.zeroDatesToNull` does to a frame. */
  def write(df: DataFrame, url: String, table: String, batchSize: Int = 1000,
            truncate: Boolean = false, zeroDatesToNull: Boolean = false): (Long, Long) = {
    val dialect = JdbcDialects.get(url)
    val options = new JdbcOptionsInWrite(url, table, Map(
      "batchsize" -> batchSize.toString, "truncate" -> truncate.toString))
    val schema = df.schema
    val caseSensitive = SQLConf.get.caseSensitiveAnalysis
    val conn = dialect.createConnectionFactory(options)(-1)
    val (insertSql, targetCols) = try {
      val tableSchema =
        if (!JdbcUtils.tableExists(conn, options)) create(conn, schema, caseSensitive, options)
        else if (!truncate) JdbcUtils.getSchemaOption(conn, options)
        else if (JdbcUtils.isCascadingTruncateTable(url).contains(false)) {
          JdbcUtils.truncateTable(conn, options)
          JdbcUtils.getSchemaOption(conn, options)
        } else {
          JdbcUtils.dropTable(conn, table, options)
          create(conn, schema, caseSensitive, options)
        }
      // getInsertStatement rejects a frame column the table lacks, so
      // every column targetColumns looks up is there
      (JdbcUtils.getInsertStatement(table, schema, tableSchema, caseSensitive, dialect),
        targetColumns(conn, dialect, table, schema, caseSensitive))
    } finally conn.close()
    val copySql = CopyEncoder.copyStatement(table, targetCols.map(_._1))
    val nullTypes = targetCols.map(_._2)
    // the driver check picks the path; CopyEncoder re-checks ON THE
    // EXECUTOR, so a PG jar on the driver classpath only falls back to the
    // INSERT body instead of stranding tasks
    val copy = url.startsWith("jdbc:postgresql") && CopyEncoder.copySupported()
    val types = schema.fields.map(_.dataType)
    val zeroCols = if (!zeroDatesToNull) Array.empty[Int]
      else types.indices.filter(types(_) == StringType).toArray
    val batch = math.max(batchSize, 1)
    run(df, s"BatchSink.write $table") { in =>
      val rows = if (zeroCols.isEmpty) in else in.map(nullZeroDates(_, zeroCols))
      if (!rows.hasNext) (0L, 0L)
      else inTransaction(dialect.createConnectionFactory(options)(-1)) { c =>
        if (copy && CopyEncoder.copySupported())
          CopyEncoder.copyRows(c, rows, schema, copySql, batch)
        else insertRows(c, rows, insertSql, types, nullTypes, batch, dialect)
      }
    }
  }

  /** (rows, checksum) of `df` in one job, the same fold [[write]] runs. */
  def stats(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    run(df, "BatchSink.stats") { rows =>
      var n = 0L
      var chk = 0L
      rows.foreach { r => n += 1; chk ^= rowHash(r, types) }
      (n, chk)
    }
  }

  /** `row`, or a copy of it with NULL in each column of `cols` that holds a
    * MySQL zero date; the row itself is never changed, since a scan may
    * reuse it. */
  private def nullZeroDates(row: InternalRow, cols: Array[Int]): InternalRow = {
    var out = row
    var k = 0
    while (k < cols.length) {
      val i = cols(k)
      if (!row.isNullAt(i) && Transfer.isZeroDate(row.getUTF8String(i))) {
        if (out eq row) out = row.copy()
        out.setNullAt(i)
      }
      k += 1
    }
    out
  }

  /** The same checksum as a SQL aggregate, `bit_xor(xxhash64(cols))`, for
    * `observe()` on Spark's file writers; it must stay bit-identical to the
    * [[rowHash]] fold, since `Transfer.copyTable` compares one with the
    * other. Column names are backtick-quoted: reserved words (`order`) and
    * spaced names are legal MySQL column names and must survive `expr()`. */
  private[transfer] def checksumCol(df: DataFrame): Column = {
    val quoted = df.schema.fieldNames.map(n => "`" + n.replace("`", "``") + "`")
    expr(s"bit_xor(xxhash64(${quoted.mkString(", ")}))")
  }

  /** Spark's `xxhash64(cols)` of one row: seed 42, null columns skipped. */
  private[transfer] def rowHash(row: InternalRow, types: Array[DataType]): Long = {
    var h = 42L
    var i = 0
    while (i < types.length) {
      if (!row.isNullAt(i)) h = XxHash64Function.hash(row.get(i, types(i)), types(i), h)
      i += 1
    }
    h
  }

  /** The rows a job over `qe` folds. A bare JDBC scan, with or without its
    * whole-stage wrapper, hands over the source's own `InternalRow`s: no
    * class is generated and no row is copied into an `UnsafeRow` (nor is
    * the scan's `numOutputRows` SQL metric counted). Any other plan runs as
    * planned. */
  private[transfer] def rows(qe: QueryExecution): RDD[InternalRow] = qe.executedPlan match {
    case WholeStageCodegenExec(scan: RowDataSourceScanExec) => scan.inputRDD
    case scan: RowDataSourceScanExec => scan.inputRDD
    case _ => qe.toRdd
  }

  /** One job over `df`'s rows ([[rows]]) under its own SQL execution;
    * per-partition (count, checksum) pairs merge by sum and xor. */
  private def run(df: DataFrame, name: String)(
      part: Iterator[InternalRow] => (Long, Long)): (Long, Long) = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = rows(qe)
      rdd.sparkContext.runJob(rdd, part)
        .foldLeft((0L, 0L)) { case ((n, c), (pn, pc)) => (n + pn, c ^ pc) }
    }
  }

  private def create(conn: Connection, schema: StructType, caseSensitive: Boolean,
                     options: JdbcOptionsInWrite): Option[StructType] = {
    JdbcUtils.createTable(conn, options.table, schema, caseSensitive, options)
    Some(schema)
  }

  /** Per frame column, the target column it lands in, as (name quoted by
    * the dialect, JDBC type), read from the dialect's schema query. Names
    * match as `getInsertStatement` matches them (case-insensitively unless
    * `caseSensitive`), so COPY and INSERT name the same columns. */
  private[graft] def targetColumns(conn: Connection, dialect: JdbcDialect, table: String,
                                   schema: StructType,
                                   caseSensitive: Boolean): Array[(String, Int)] = {
    val st = conn.prepareStatement(dialect.getSchemaQuery(table))
    try {
      val md = st.executeQuery().getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnLabel(i) -> md.getColumnType(i))
      schema.fields.map { f =>
        val (name, jdbcType) = cols.find { case (c, _) =>
          if (caseSensitive) c == f.name else c.equalsIgnoreCase(f.name)
        }.get
        (dialect.quoteIdentifier(name), jdbcType)
      }
    } finally st.close()
  }

  /** Run `body` on `conn` as one transaction: commit on success, roll back
    * and rethrow on failure, close either way. */
  private def inTransaction[A](conn: Connection)(body: Connection => A): A =
    try {
      conn.setAutoCommit(false)
      val a = body(conn)
      conn.commit()
      a
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally conn.close()

  /** The INSERT body: typed setters, `executeBatch` every `batchSize`
    * rows, count and row hash folded in the same loop. */
  private def insertRows(conn: Connection, rows: Iterator[InternalRow], insertSql: String,
                         types: Array[DataType], nullTypes: Array[Int], batchSize: Int,
                         dialect: JdbcDialect): (Long, Long) = {
    val ps = conn.prepareStatement(insertSql)
    try {
      val setters = types.map(setter(_, dialect))
      var n = 0L
      var chk = 0L
      var pending = 0
      while (rows.hasNext) {
        val row = rows.next()
        var i = 0
        while (i < types.length) {
          if (row.isNullAt(i)) ps.setNull(i + 1, nullTypes(i))
          else setters(i)(ps, row, i)
          i += 1
        }
        ps.addBatch()
        n += 1
        chk ^= rowHash(row, types)
        pending += 1
        if (pending >= batchSize) { ps.executeBatch(); pending = 0 }
      }
      if (pending > 0) ps.executeBatch()
      (n, chk)
    } finally ps.close()
  }

  private[graft] type Setter = (PreparedStatement, InternalRow, Int) => Unit

  /** Binds column `i` of a row to parameter `i + 1` as Spark's JDBC writer
    * binds the external value, read straight from the `InternalRow`. */
  private[graft] def setter(dt: DataType, dialect: JdbcDialect): Setter = dt match {
    case LongType    => (ps, r, i) => ps.setLong(i + 1, r.getLong(i))
    case IntegerType => (ps, r, i) => ps.setInt(i + 1, r.getInt(i))
    case ShortType   => (ps, r, i) => ps.setShort(i + 1, r.getShort(i))
    case ByteType    => (ps, r, i) => ps.setByte(i + 1, r.getByte(i))
    case DoubleType  => (ps, r, i) => ps.setDouble(i + 1, r.getDouble(i))
    case FloatType   => (ps, r, i) => ps.setFloat(i + 1, r.getFloat(i))
    case BooleanType => (ps, r, i) => ps.setBoolean(i + 1, r.getBoolean(i))
    case _: StringType => (ps, r, i) => ps.setString(i + 1, r.getUTF8String(i).toString)
    case BinaryType  => (ps, r, i) => ps.setBytes(i + 1, r.getBinary(i))
    case d: DecimalType => (ps, r, i) =>
      ps.setBigDecimal(i + 1, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
    case DateType    => (ps, r, i) => ps.setDate(i + 1, DateTimeUtils.toJavaDate(r.getInt(i)))
    case TimestampType => (ps, r, i) =>
      ps.setTimestamp(i + 1, DateTimeUtils.toJavaTimestamp(r.getLong(i)))
    case TimestampNTZType => (ps, r, i) =>
      ps.setTimestamp(i + 1, dialect.convertTimestampNTZToJavaTimestamp(
        DateTimeUtils.microsToLocalDateTime(r.getLong(i))))
    case ArrayType(et, _) =>
      // as Spark's writer: a SQL array named by the dialect's element type,
      // length parameters stripped
      val typeName = JdbcUtils.getJdbcType(et, dialect).databaseTypeDefinition
        .toLowerCase(java.util.Locale.ROOT).split("\\(")(0)
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      (ps, r, i) => ps.setArray(i + 1, ps.getConnection.createArrayOf(typeName,
        toScala(r.getArray(i)).asInstanceOf[scala.collection.Seq[AnyRef]].toArray))
    case other =>
      val toScala = CatalystTypeConverters.createToScalaConverter(other)
      (ps, r, i) => ps.setObject(i + 1, toScala(r.get(i, other)))
  }
}

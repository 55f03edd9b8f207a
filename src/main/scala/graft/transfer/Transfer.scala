package graft.transfer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-transfer dataflow — the reference's hot path E2 (SURVEY.md §3:
  * `SyncTableData` sync_data.go:23-385) re-expressed as one distributed job
  * per table instead of a sequential keyset-pagination loop:
  *
  *   reference                         | here
  *   ----------------------------------+---------------------------------
  *   keyset/offset pagination loop     | partitioned read (parallel)
  *   (`connection.go:115-166`)         |
  *   per-batch PG transaction + COPY   | [[BatchSink]]: one transaction
  *                                     | per partition, batched INSERT or
  *                                     | COPY; file targets: `df.write`
  *   zero-date → NULL (`:526-541`)     | [[zeroDatesToNull]] column rule
  *   WKB point → (x,y) (`:596-633`)    | [[PointDecode]] expression
  *   COUNT(*) validation (`:313-356`)  | count + order-independent xor
  *                                     | checksum (stronger), folded in
  *                                     | the JDBC write loop (observed on
  *                                     | file writes) and in one read-back
  *                                     | job ([[copyTable]], [[validate]])
  *
  * Endpoints are pluggable: parquet directories (the test corpus) or JDBC
  * (any dialect on the classpath; Derby is used in tests). At cluster scale
  * the JDBC read is range-partitioned on the numeric key so every executor
  * pulls its own slice — Spark's equivalent of (and upgrade over) keyset
  * pagination.
  */
object Transfer {

  sealed trait Endpoint
  final case class ParquetDir(dir: String) extends Endpoint
  /** CSV directory endpoint — the text-format interchange path (same
    * fidelity class as the reference's COPY text encoding, K4). `schema`
    * types the read side: validation MUST read back with the source
    * schema, because an inferred `int` where the source had `bigint`
    * changes xxhash64 inputs and falsely fails the checksum. Writes pin
    * a microsecond timestamp format and a quoted empty-value so
    * `""` vs NULL survives the round trip. */
  final case class CsvDir(dir: String,
      schema: Option[StructType] = None) extends Endpoint
  /** JSON-lines directory endpoint; `schema` as in [[CsvDir]]. */
  final case class JsonDir(dir: String,
      schema: Option[StructType] = None) extends Endpoint
  /** ORC directory endpoint — lossless columnar alternative to parquet. */
  final case class OrcDir(dir: String) extends Endpoint
  final case class Jdbc(url: String, table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 4,
      batchSize: Int = 10000) extends Endpoint

  private val CsvTsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  final case class TransferResult(
      table: String, srcRows: Long, dstRows: Long, checksumMatch: Boolean)

  // ------------------------------------------------------------- reading

  def read(spark: SparkSession, src: Endpoint, table: String): DataFrame = src match {
    case ParquetDir(dir) => graft.sources.Tables.load(spark, dir, table)
    case CsvDir(dir, schema) =>
      val r = spark.read.option("header", "true")
        .option("timestampFormat", CsvTsFmt)
        .option("timestampNTZFormat", CsvTsFmt)
      schema.fold(r.option("inferSchema", "true"))(r.schema)
        .csv(s"$dir/$table.csv")
    case JsonDir(dir, schema) =>
      val r = spark.read
      schema.fold(r)(r.schema).json(s"$dir/$table.json")
    case OrcDir(dir) => spark.read.orc(s"$dir/$table.orc")
    case j: Jdbc =>
      // MySQL sources get the reference's type semantics (tinyint(1),
      // unsigned widening, spatial→binary) via the custom dialect
      if (graft.types.MySqlGraftDialect.canHandle(j.url))
        graft.types.MySqlGraftDialect.install()
      val base = spark.read.format("jdbc")
        .option("url", j.url).option("dbtable", j.table.replace("%s", table))
      j.partitionColumn match {
        case Some(pc) =>
          // range-partitioned scan: Spark's subsumption of keyset pagination.
          // Quote per target dialect (Derby et al. uppercase bare idents).
          val qpc = org.apache.spark.sql.jdbc.JdbcDialects.get(j.url).quoteIdentifier(pc)
          val bounds = spark.read.format("jdbc").option("url", j.url)
            .option("query",
              s"SELECT MIN($qpc) AS lo, MAX($qpc) AS hi FROM ${j.table.replace("%s", table)}")
            .load().collect().head
          if (bounds.isNullAt(0)) base.load()
          else base
            .option("partitionColumn", qpc)
            .option("lowerBound", bounds.getAs[Number](0).longValue)
            .option("upperBound", bounds.getAs[Number](1).longValue + 1)
            .option("numPartitions", j.numPartitions)
            .load()
        case None => base.load()
      }
  }

  // ------------------------------------------------- value conversions

  /** MySQL zero-dates arrive as strings '0000-00-00[ 00:00:00[.0...]]' or
    * as nulls depending on the driver; normalize string columns whose
    * ENTIRE value is a zero-date to NULL (reference `connection.go:
    * 526-541`). Full-match, not startsWith: a free-text column legally
    * begins with the literal ("0000-00-00 is the MySQL zero date") and a
    * prefix match would silently null it — and because validation hashes
    * the same converted frame, the corruption would verify clean. One
    * `withColumns` projection (not a per-column fold: O(cols) nested
    * Projects cost quadratic analysis on wide tables) with backtick-quoted
    * refs so dotted/reserved names resolve. */
  def zeroDatesToNull(df: DataFrame): DataFrame = {
    val zero = "\\A0000-00-00( \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?)?\\z"
    def ref(n: String) = col("`" + n.replace("`", "``") + "`")
    val updates = df.schema.fields.collect {
      case f if f.dataType == StringType =>
        f.name -> when(ref(f.name).rlike(zero), lit(null)).otherwise(ref(f.name))
    }
    if (updates.isEmpty) df else df.withColumns(updates.toMap)
  }

  /** Decode MySQL POINT binary columns into (x,y) structs where requested
    * (reference `postgres/connection.go:596-633`). */
  def decodePoints(df: DataFrame, pointCols: Seq[String]): DataFrame = {
    if (pointCols.nonEmpty) graft.functions.PointDecode.register(df.sparkSession)
    pointCols.foldLeft(df) { (d, c) =>
      // backtick-quoted like BatchSink.checksumCol: reserved/spaced column
      // names are legal MySQL identifiers and must survive expr()
      val q = "`" + c.replace("`", "``") + "`"
      d.withColumn(c, expr(s"graft_point_decode($q)"))
    }
  }

  // ------------------------------------------------------------- writing

  def write(df: DataFrame, dst: Endpoint, table: String, truncate: Boolean): Unit =
    dst match {
      case ParquetDir(dir) =>
        df.write.mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
          .parquet(s"$dir/$table.parquet")
      case CsvDir(dir, _) =>
        df.write.mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
          .option("header", "true")
          .option("timestampFormat", CsvTsFmt)
          .option("timestampNTZFormat", CsvTsFmt)
          // distinguish empty string from NULL on the round trip
          .option("emptyValue", "\"\"")
          .csv(s"$dir/$table.csv")
      case JsonDir(dir, _) =>
        df.write.mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
          .json(s"$dir/$table.json")
      case OrcDir(dir) =>
        df.write.mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
          .orc(s"$dir/$table.orc")
      case j: Jdbc =>
        BatchSink.write(df, j.url, j.table.replace("%s", table), j.batchSize, truncate)
    }

  // ---------------------------------------------------------- validation

  /** (row count, xor-xxhash64 checksum) of `df` in ONE job with no
    * shuffle: [[BatchSink.stats]] folds each task's `InternalRow`s in one
    * loop (the fold the JDBC write runs) and the driver merges one pair per
    * task — no aggregate stage, no sink, no generated hash code.
    *
    * The checksum is order-independent and strictly stronger than the
    * reference's row-count compare (P3) at the same cost class. KNOWN
    * LIMIT: xor is blind to EVEN-multiplicity drift — a row lost twice
    * while another is duplicated twice cancels out of both the count and
    * the xor (relevant only for PK-less tables with duplicated rows; a
    * wrapping SUM of hashes would catch it but overflows under ANSI
    * arithmetic, so the trade is documented rather than swapped). */
  def stats(df: DataFrame): (Long, Long) = BatchSink.stats(df)

  /** Write `df` to `dst`; (count, checksum) of exactly the rows written:
    * folded by the JDBC sink itself, `observe()`d on Spark's file writers. */
  private def writeCounted(df: DataFrame, dst: Endpoint, table: String,
                           truncate: Boolean): (Long, Long) = dst match {
    case j: Jdbc =>
      BatchSink.write(df, j.url, j.table.replace("%s", table), j.batchSize, truncate)
    case _ =>
      val obs = org.apache.spark.sql.Observation()
      write(df.observe(obs, count(lit(1)).as("n"), BatchSink.checksumCol(df).as("chk")),
        dst, table, truncate)
      val m = obs.get
      (m("n").asInstanceOf[Long], Option(m("chk")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Compare source against destination. `convertSrc` must be the same
    * conversion chain the writer applied (zero-dates, point decode, ...) —
    * validating the raw source against a converted destination would flag
    * correctly-migrated tables as corrupt. */
  def validate(spark: SparkSession, src: Endpoint, dst: Endpoint,
               table: String, withChecksum: Boolean = true,
               convertSrc: DataFrame => DataFrame = identity): TransferResult = {
    val srcConv = convertSrc(read(spark, src, table))
    val (sc, ssum) = stats(srcConv)
    // the destination read-back is TYPED with the converted-source schema,
    // exactly like copyTable/syncIncrement: an inferred CSV/JSON schema
    // widens/narrows types (int vs bigint hash differently under
    // xxhash64) and would fail the checksum on a correct migration
    val (dc, dsum) = stats(read(spark, typed(dst, srcConv.schema), table))
    val ok = !withChecksum || ssum == dsum
    TransferResult(table, sc, dc, ok && sc == dc)
  }

  /** Recursive local delete for throwaway transfer targets (deepest-first,
    * stream closed). Shared by the temp-layout queries and specs — NOT for
    * use on anything but directories this process created. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    val stream = java.nio.file.Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder())
      .forEach(x => java.nio.file.Files.deleteIfExists(x))
    finally stream.close()
  }

  /** Does the endpoint already hold `table`? Parquet: directory existence.
    * JDBC: catalog metadata lookup. This is the ONLY signal syncIncrement
    * treats as "destination absent" — transient read errors (network, auth,
    * corrupt files) propagate instead of silently triggering a duplicate
    * full load. */
  def exists(spark: SparkSession, ep: Endpoint, table: String): Boolean = ep match {
    case ParquetDir(dir) => pathExists(spark, s"$dir/$table.parquet")
    case CsvDir(dir, _)  => pathExists(spark, s"$dir/$table.csv")
    case JsonDir(dir, _) => pathExists(spark, s"$dir/$table.json")
    case OrcDir(dir)     => pathExists(spark, s"$dir/$table.orc")
    case j: Jdbc =>
      val parts = j.table.replace("%s", table).split('.')
      val bare = parts.last.replaceAll("[\"`]", "")
      // honor a schema qualifier if present: `archive.t` existing must not
      // make `public.t` look present (case-insensitive compare rather than
      // a getTables pattern — drivers disagree on pattern case folding)
      val qualifier =
        if (parts.length > 1) parts(parts.length - 2).replaceAll("[\"`]", "")
        else null
      val conn = java.sql.DriverManager.getConnection(j.url)
      try {
        // unqualified names resolve against the connection's CURRENT
        // schema, not any schema: a same-named table in an unrelated
        // schema (archive.t) must not make an unqualified `t` look
        // present — syncIncrement would then query a table the
        // connection can't resolve instead of running its full load.
        // Filtered in the loop (not via schemaPattern) because drivers
        // disagree on pattern case folding; getSchema() may be null on
        // old drivers, which degrades to the any-schema match.
        // MySQL's driver reports databases as CATALOGS (TABLE_SCHEM is
        // null and getSchema() is null) — the qualifier must match EITHER
        // namespace column, and the unqualified fallback tries the
        // connection's current catalog when it has no current schema
        val schema =
          if (qualifier != null) qualifier
          else {
            val s0 = try conn.getSchema catch { case _: Throwable => null }
            if (s0 != null) s0
            else try conn.getCatalog catch { case _: Throwable => null }
          }
        val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
        try {
          var found = false
          while (!found && rs.next())
            found = bare.equalsIgnoreCase(rs.getString("TABLE_NAME")) && {
              // the catalog column substitutes for the schema ONLY when
              // the driver reports no schema at all (MySQL): on engines
              // that populate TABLE_SCHEM, matching TABLE_CAT too would
              // make a same-named table in ANY schema look present
              // whenever the qualifier equals the database name
              val rowSchema = rs.getString("TABLE_SCHEM")
              schema == null ||
                (if (rowSchema != null) schema.equalsIgnoreCase(rowSchema)
                 else schema.equalsIgnoreCase(rs.getString("TABLE_CAT")))
            }
          found
        } finally rs.close()
      } finally conn.close()
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Schema-untyped text endpoints (CsvDir/JsonDir built without a schema,
    * e.g. from a config URL) get the writer's schema for the validation
    * read-back — inference would widen/narrow types (int vs bigint) and
    * change xxhash64 inputs, falsely failing the checksum. */
  private def typed(ep: Endpoint, schema: StructType): Endpoint = ep match {
    case CsvDir(d, None)  => CsvDir(d, Some(schema))
    case JsonDir(d, None) => JsonDir(d, Some(schema))
    case other => other
  }

  /** Incremental (keyset-resume) sync: append only source rows whose key
    * exceeds the destination's current maximum — the reference's
    * last-PK-value threading (`sync_data.go:207-311`, `SELECT MAX(pk)`
    * fallback `postgres/connection.go:582-590`) as one filtered
    * distributed append instead of a sequential cursor loop. The key
    * predicate reaches the source scan (parquet row-group / JDBC WHERE
    * pushdown), so the sync itself costs O(new rows), not O(table).
    * Assumes an append-only monotone key, exactly like the reference.
    *
    * "Destination absent → full load" is decided by [[exists]], never by
    * catching read errors. `validate = true` (default) runs a full
    * count+checksum compare of converted source vs destination after the
    * append (two extra O(table) scans — the reference's P3 gate);
    * `validate = false` skips it and reports `checksumMatch = false`,
    * meaning NOT VERIFIED, never "assumed good". */
  def syncIncrement(spark: SparkSession, src: Endpoint, dst: Endpoint,
                    table: String, keyCol: String,
                    pointCols: Seq[String] = Nil,
                    validate: Boolean = true): TransferResult = {
    val dstExists = exists(spark, dst, table)
    // JDBC sources are SNAPSHOTTED for the run: the delta count, the
    // append, and the post-append validation each launch a job, and a
    // live table mutating between them would misreport the delta or fail
    // the checksum on a correct sync
    val srcRaw = read(spark, src, table) // lazy: plan only, no job yet
    val srcSnapshot = src.isInstanceOf[Jdbc]
    val srcDf = if (srcSnapshot) srcRaw.persist() else srcRaw
    try {
    // the destination holds CONVERTED rows (point structs, nulled zero
    // dates), so text read-backs must be typed with the post-conversion
    // schema — srcDf.schema would parse a decoded point as binary.
    // Deriving it from the lazy plan runs no job.
    val dstTyped = typed(dst,
      decodePoints(zeroDatesToNull(srcDf), pointCols).schema)
    val lastKey: Option[Long] =
      if (!dstExists) None
      else { // errors here propagate: the destination demonstrably exists
        val r = read(spark, dstTyped, table).agg(max(col(keyCol))).collect().head
        if (r.isNullAt(0)) None else Some(r.getAs[Number](0).longValue)
      }
    val fresh0 = lastKey.fold(srcDf)(k => srcDf.filter(col(keyCol) > k))
    val fresh = decodePoints(zeroDatesToNull(fresh0), pointCols)
    // count only — a checksum of the delta alone validates nothing (the
    // post-append compare below hashes the full table), so don't pay a
    // hashing pass for a number the row-group metadata already knows
    val newRows = fresh.count()
    if (newRows > 0) write(fresh, dst, table, truncate = false)
    if (newRows == 0 && !dstExists) // empty source, nothing created
      return TransferResult(table, 0L, 0L, checksumMatch = validate)
    if (validate) {
      val (srcRows, srcSum) = stats(decodePoints(zeroDatesToNull(srcDf), pointCols))
      val (dstRows, dstSum) = stats(read(spark, dstTyped, table))
      TransferResult(table, newRows, dstRows,
        checksumMatch = srcRows == dstRows && srcSum == dstSum)
    } else {
      val (dstRows, _) = stats(read(spark, dstTyped, table))
      TransferResult(table, newRows, dstRows, checksumMatch = false)
    }
    } finally if (srcSnapshot) srcDf.unpersist(blocking = false)
  }

  /** Full per-table transfer: read → convert → write → validate, ONE
    * Spark job per side. The source is scanned once, by the write itself:
    * every row is counted and hashed as it flows to the writer — in
    * [[BatchSink]]'s bind loop for JDBC targets, by `observe()` on Spark's
    * file writers — so source count and checksum describe exactly the
    * rows that were written: the converted frame, not a raw re-read, so
    * in-flight conversions (zero-dates, point decode) never trip the
    * checksum. The destination read-back ([[stats]], the same fold) is
    * the one validation pass.
    *
    * Write parallelism is sized from a row count taken BEFORE the write: a
    * driver-side `SELECT COUNT(*)` for JDBC sources (the reference's S11
    * count, no Spark job), row-group metadata for file sources. It is only
    * a sizing hint and is never compared with anything; the source's own
    * partition count comes from the physical plan the write executes (no
    * job, no Row deserializer). A JDBC source is cached only when the
    * write repartitions it — a retried shuffle-map task would otherwise
    * re-read a live table — and never takes the empty-table shortcut
    * (sync_data.go:64-113): a zero counted outside the write proves
    * nothing about the rows it will see, so an empty JDBC table goes
    * through the normal write-and-verify path. */
  def copyTable(spark: SparkSession, src: Endpoint, dst: Endpoint, table: String,
                truncate: Boolean = true,
                pointCols: Seq[String] = Nil,
                validateChecksum: Boolean = true): TransferResult = {
    val df1 = decodePoints(zeroDatesToNull(read(spark, src, table)), pointCols)
    val rowsHint = src match {
      case j: Jdbc => graft.catalog.Catalog.rowCount(j.url, j.table.replace("%s", table))
      case _ =>
        // Catalyst strips the conversion projections under a bare count,
        // so file sources answer from row-group metadata (no scan)
        val n = df1.count()
        if (n == 0L) { // empty-table shortcut (sync_data.go:64-113)
          write(df1, dst, table, truncate)
          return TransferResult(table, 0L, 0L, checksumMatch = true)
        }
        n
    }
    // Re-size write parallelism from row count × estimated row width.
    // For JDBC this bounds per-partition transaction size (the scalable
    // version of the reference's per-batch pagination bound);
    // for file targets it decouples writer parallelism from the source's
    // split count (a single-row-group source file would otherwise funnel
    // the whole encode+write through one task). Only ever scales UP —
    // collapsing an already-parallel source would serialize the write.
    val width = math.max(df1.schema.defaultSize, 20 * df1.schema.size)
    val targetBytes = dst match {
      case _: Jdbc => 64L << 20
      case _ => 16L << 20
    }
    val target = graft.catalog.Catalog.suggestNumPartitions(
      rowsHint, width, targetBytesPerPartition = targetBytes)
    val reshuffle = target > df1.queryExecution.toRdd.getNumPartitions
    val snapshot = reshuffle && src.isInstanceOf[Jdbc]
    if (snapshot) df1.persist()
    try {
      val df = if (reshuffle) df1.repartition(target) else df1
      val (srcRows, srcSum) = writeCounted(df, dst, table, truncate)
      val (dstRows, dstSum) = stats(read(spark, typed(dst, df.schema), table))
      val ok = !validateChecksum || srcSum == dstSum
      TransferResult(table, srcRows, dstRows, ok && srcRows == dstRows)
    } finally if (snapshot) df1.unpersist()
  }
}

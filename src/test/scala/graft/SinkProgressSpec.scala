package graft

// (CopyEncoder golden tests live at the bottom of this suite)

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.transfer.BatchSink
import graft.pipeline.ProgressTracker
import graft.ddl.DdlConverter
import java.sql.DriverManager
import java.nio.file.Files

class SinkProgressSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = GraftSession("sink-progress-spec", 4)

  override def afterAll(): Unit = spark.stop()

  test("BatchSink: per-partition transactional batched load into Derby") {
    val db = Files.createTempDirectory("sinkdb").toString + "/s"
    val url = s"jdbc:derby:$db;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE nation (n_nationkey INT, n_name VARCHAR(50), n_regionkey INT)")
    conn.close()
    val df = graft.sources.Tables.load(spark, sf, "nation").repartition(3)
    // batchSize 7 forces mid-partition flushes; the fold is of the rows committed
    assert(BatchSink.write(df, url, "nation", batchSize = 7) == graft.transfer.Transfer.stats(df))
    assert(graft.catalog.Catalog.rowCount(url, "nation") == 25)
    // a frame column the table lacks fails on the driver, before any job
    val bad = df.withColumnRenamed("n_name", "wrong_col")
    intercept[Exception] { BatchSink.write(bad, url, "nation") }
    assert(graft.catalog.Catalog.rowCount(url, "nation") == 25) // unchanged
    // transactional probe: one partition, three batches of 7 flushed, then
    // the last row overflows VARCHAR(50) on the executor; the partition's
    // transaction must roll back the flushed batches with it
    import org.apache.spark.sql.functions._
    val late = df.orderBy("n_nationkey").coalesce(1).withColumn("n_name",
      when(col("n_nationkey") === 24, lit("x" * 60)).otherwise(col("n_name")))
    intercept[Exception] { BatchSink.write(late, url, "nation", batchSize = 7) }
    assert(graft.catalog.Catalog.rowCount(url, "nation") == 25) // unchanged
  }

  test("BatchSink: INSERT and COPY name the matched target columns, quoted") {
    import org.apache.spark.sql.jdbc.JdbcDialects
    import graft.transfer.CopyEncoder
    val db = Files.createTempDirectory("sinkdb").toString + "/q"
    val url = s"jdbc:derby:$db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      // created as the schema stage creates tables: quoted, case kept
      conn.createStatement().execute(
        "CREATE TABLE t (\"userId\" INT, \"order\" VARCHAR(10))")
      val df = spark.sql("SELECT 1 AS USERID, 'a' AS `Order` UNION ALL SELECT 2, NULL")
      val cols = BatchSink.targetColumns(conn, JdbcDialects.get(url), "t", df.schema,
        caseSensitive = false)
      assert(cols.toSeq == Seq("\"userId\"" -> java.sql.Types.INTEGER,
        "\"order\"" -> java.sql.Types.VARCHAR))
      assert(CopyEncoder.copyStatement("t", cols.map(_._1)) ==
        "COPY t (\"userId\", \"order\") FROM STDIN")
      // the INSERT path lands the same frame in the same columns
      assert(BatchSink.write(df, url, "t") == graft.transfer.Transfer.stats(df))
      val rs = conn.createStatement().executeQuery(
        "SELECT \"userId\", \"order\" FROM t ORDER BY 1")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), Option(r.getString(2)))).toList
      assert(got == List(1 -> Some("a"), 2 -> None))
    } finally conn.close()
  }

  test("BatchSink: an array column binds as a SQL array of the dialect's element type") {
    import java.lang.reflect.{InvocationHandler, Proxy}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    // Derby has no arrays: record the calls on a fake statement instead
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
    def fake[T](cls: Class[T])(answer: (String, Seq[Any]) => AnyRef): T =
      Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls),
        new InvocationHandler {
          def invoke(p: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef =
            m.getName match {
              case "equals" => Boolean.box(p eq args(0))
              case "hashCode" => Int.box(System.identityHashCode(p))
              case "toString" => cls.getSimpleName
              case name =>
                val as = Option(args).fold(Seq.empty[Any])(_.toSeq.map {
                  case a: Array[AnyRef] => a.toSeq
                  case a => a
                })
                calls += name -> as
                answer(name, as)
            }
        }).asInstanceOf[T]
    val sqlArray = fake(classOf[java.sql.Array])((_, _) => null)
    val conn = fake(classOf[java.sql.Connection])((_, _) => sqlArray)
    val ps = fake(classOf[java.sql.PreparedStatement])((m, _) => if (m == "getConnection") conn else null)
    val set = BatchSink.setter(ArrayType(IntegerType), JdbcDialects.get("jdbc:postgresql://h/db"))
    set(ps, InternalRow(new GenericArrayData(Array[Any](1, 2, 3))), 0)
    assert(calls.toSeq == Seq("getConnection" -> Nil,
      "createArrayOf" -> Seq("integer", Seq(1, 2, 3)), "setArray" -> Seq(1, sqlArray)))
  }

  test("ProgressTracker captures stage/task/record metrics for a span") {
    val (cnt, snap) = ProgressTracker.track(spark) {
      graft.sources.Tables.load(spark, sf, "lineitem")
        .groupBy("l_returnflag").count().collect().length
    }
    assert(cnt == 3)
    assert(snap.jobs >= 1)
    assert(snap.stages >= 2)       // partial + final aggregation
    assert(snap.tasks >= 2)
    assert(snap.recordsRead >= 6000L)
  }

  test("index corpus: reference CREATE INDEX statements convert cleanly") {
    val stmts = MySqlFixtures.statements("create_index.sql")
      .filter(_.toUpperCase.startsWith("CREATE"))
    val pat = "(?is)CREATE\\s+(UNIQUE\\s+)?INDEX\\s+([`\\w]+)\\s+ON\\s+([`\\w]+)\\s*\\(([^)]*)\\)".r
    var converted = 0
    stmts.foreach { s =>
      pat.findFirstMatchIn(s).foreach { m =>
        val unique = m.group(1) != null
        val name = m.group(2).replace("`", "")
        val table = m.group(3).replace("`", "")
        val cols = m.group(4).split(",")
          .map(_.trim.replace("`", "").replaceAll("\\(\\d+\\)$", "")) // prefix lengths
          .filter(_.nonEmpty).toSeq
        val ddl = DdlConverter.indexDdl(table, name, cols, unique)
        assert(ddl.isDefined, s"failed: $s")
        assert(ddl.get.contains(s""""${table}_$name"""") || name.length > 60)
        converted += 1
      }
    }
    info(s"converted $converted reference index statements")
    assert(converted >= 20)
  }

  test("CopyEncoder: golden COPY text-format bytes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.transfer.CopyEncoder
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("bin", BinaryType),
      StructField("ts", TimestampNTZType), StructField("d", DoubleType)))
    val ts = java.time.LocalDateTime.of(2024, 5, 6, 7, 8, 9, 123456000)
    val row = Row(42L, "a\tb\nc\\d", true, Array[Byte](0x0a, 0x7f.toByte), ts, 1.5)
    assert(CopyEncoder.encodeRow(schema, row) ==
      "42\ta\\tb\\nc\\\\d\tt\t\\\\x0a7f\t2024-05-06 07:08:09.123456\t1.5")
    val nulls = Row(null, null, null, null, null, null)
    assert(CopyEncoder.encodeRow(schema, nulls) == "\\N\t\\N\t\\N\t\\N\t\\N\t\\N")
    val batch = CopyEncoder.encodeBatch(schema, Iterator(nulls, nulls))
    assert(new String(batch, "UTF-8").count(_ == '\n') == 2)
    // this container ships only Derby: the reflective COPY path must gate off
    assert(!CopyEncoder.copySupported())
  }
}

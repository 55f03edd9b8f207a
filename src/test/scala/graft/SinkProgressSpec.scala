package graft

// (CopyEncoder golden tests live at the bottom of this suite)

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.transfer.BatchSink
import graft.pipeline.ProgressTracker
import graft.ddl.DdlConverter
import java.sql.DriverManager
import java.nio.file.Files
import scala.io.Source

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
    BatchSink.write(df, url, "nation", batchSize = 7) // forces mid-partition flushes
    assert(graft.catalog.Catalog.rowCount(url, "nation") == 25)
    // transactional probe: failing partition must roll back cleanly
    val bad = df.withColumnRenamed("n_name", "wrong_col")
    intercept[Exception] { BatchSink.write(bad, url, "nation") }
    assert(graft.catalog.Catalog.rowCount(url, "nation") == 25) // unchanged
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
    val text = {
      val s = Source.fromFile("/root/reference/scripts/mysql/create_index.sql", "UTF-8")
      try s.mkString finally s.close()
    }
    val stmts = text.replaceAll("(?m)^\\s*--.*$", "").split(";")
      .map(_.trim).filter(_.toUpperCase.startsWith("CREATE"))
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

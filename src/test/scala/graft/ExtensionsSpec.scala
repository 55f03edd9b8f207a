package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects all custom functions into a fresh session") {
    val spark = GraftSession("ext-spec", 2,
      Map("spark.sql.extensions" -> "graft.GraftExtensions"))
    try {
      val row = spark.sql(
        """SELECT graft_fingerprint('ab') AS fp,
          |       inet_aton('1.2.3.4') AS ip,
          |       inet_ntoa(16909060) AS ips,
          |       graft_point_decode(NULL) AS pt,
          |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
          |       graft_sorted_inter_n(array('a', 'b'), array('b', 'c')) AS inter,
          |       graft_json_set('{"a":1}', '$.b', 2) AS js,
          |       graft_json_remove('{"a":1,"b":2}', '$.b') AS jr""".stripMargin)
        .collect().head
      assert(row.getLong(0) == (97L * 31 + 98) % 1000000007L)
      assert(row.getLong(1) == 16909060L)
      assert(row.getString(2) == "1.2.3.4")
      assert(row.isNullAt(3))
      assert(row.getDouble(4) == 11.0)
      assert(row.getLong(5) == 1L)
      assert(row.getString(6) == """{"a":1,"b":2}""")
      assert(row.getString(7) == """{"a":1}""")
    } finally spark.stop()
  }
}

package graft

import graft.sqlrewrite.MySqlLexer
import scala.io.{Codec, Source}

/** The MySQL fixture scripts in `src/test/resources/mysql/`. */
object MySqlFixtures {

  def text(name: String): String = {
    val s = Source.fromResource(s"mysql/$name", getClass.getClassLoader)(Codec.UTF8)
    try s.mkString finally s.close()
  }

  /** The statements of a script: its comments dropped (version comments
    * unwrapped) by [[MySqlLexer.stripComments]], then split at every `;`
    * that is code, so one inside a string or identifier does not split. */
  def statements(name: String): Seq[String] = {
    val sql = MySqlLexer.stripComments(text(name))
    val ends = MySqlLexer.codeIndexes(sql).filter(sql.charAt(_) == ';').toSeq :+ sql.length
    (-1 +: ends).zip(ends).map { case (a, b) => sql.substring(a + 1, b).trim }.filter(_.nonEmpty)
  }
}

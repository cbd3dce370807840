package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.functions.GraftFunctions
import graft.SparkSuite.freshSession

/** The extensions class must make every native function of
  * [[GraftFunctions.all]] available by name to a pure-SQL session, with
  * the same result as the Column an operator builds, and
  * [[graft.util.LocalSession]] must install it. */
class GraftExtensionsSpec extends SparkSuite {

  /** Per function: its (a, b) arguments as SQL literals, and the result. */
  private val cases: Map[String, (String, String, Any)] = Map(
    "graft_dot" -> ("array(1.0f, 2.0f)", "array(3.0f, 4.0d)", 11.0),
    "graft_gram_min_md5" -> ("'abcdefgh'", "8", "e8dc4081b13434b45189a720b77b6818"),
    "graft_char_grams" -> ("'abcd'", "3", Seq("abc", "bcd")),
    "graft_sorted_inter" -> ("array('a', 'b', 'd')", "array('b', 'c', 'd')", 2L),
    "graft_bpe_sym_len" -> ("'lower'", "array(array('l', 'o'), array('lo', 'w'))", 4L),
    "graft_pq_adc" -> ("X'0001'", "array(1.0d, 2.0d, 10.0d, 20.0d)", 21.0))

  /** Every function resolves by name, and its SQL result equals both
    * the expected value and the result of the operators' Column. */
  private def assertSqlMatchesColumns(s: SparkSession): Unit = {
    assert(GraftFunctions.all.map(_.name).toSet == cases.keySet)
    GraftFunctions.all.foreach { f =>
      assert(s.catalog.functionExists(f.name), s"${f.name} does not resolve")
      val (a, b, expected) = cases(f.name)
      val row = s.sql(s"SELECT $a AS a, $b AS b")
      val bySql = row.selectExpr(s"${f.name}(a, b)").head().get(0)
      val byColumn = row.select(f(col("a"), col("b"))).head().get(0)
      assert(bySql == expected, f.name)
      assert(byColumn == bySql, f.name)
    }
  }

  test("spark.sql.extensions injects graft functions into a fresh session") {
    freshSession(SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate())(assertSqlMatchesColumns)
  }

  test("a LocalSession session resolves every native function by name") {
    // `spark` is first read here, after freshSession has stopped the
    // shared session, so LocalSession builds it anew
    freshSession(spark)(assertSqlMatchesColumns)
  }
}

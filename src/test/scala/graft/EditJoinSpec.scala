package graft

import graft.operators.Dedup

/** The symmetric-delete edit join's two load-bearing claims, checked
  * independently of the DuckDB hash gate: (1) the k = 1 deletion-
  * neighborhood filter is a PROVEN candidate superset for every edit
  * type (the losslessness theorem, exercised over random mutations);
  * (2) the full operator equals the naive all-pairs Levenshtein join
  * in-process at sf0.001. */
class EditJoinSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** {x} ∪ one-character deletions — the test's own spelling of the
    * signature set (independent of the operator's SQL expression). */
  private def sigs(x: String): Set[String] =
    Set(x) ++ x.indices.map(i => x.take(i) + x.drop(i + 1))

  test("deletion neighborhoods intersect for every single-edit mutation") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    def randStr(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 500) {
      val base = randStr(3 + rnd.nextInt(15))
      val i = rnd.nextInt(base.length)
      val mutants = Seq(
        base.updated(i, alpha(rnd.nextInt(alpha.length))), // substitution
        base.take(i) + base.drop(i + 1),                   // deletion
        base.take(i) + alpha(rnd.nextInt(alpha.length)) + base.drop(i), // insertion
        base)                                              // identity
      for (m <- mutants)
        assert(sigs(base).intersect(sigs(m)).nonEmpty,
          s"no shared signature for '$base' -> '$m'")
    }
  }

  test("editJoin equals the naive all-pairs Levenshtein join at sf0.001") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Dedup.editJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey".as("id"), $"c_name".as("nm"))
    val naive = c.as("a").join(c.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id", levenshtein($"a.nm", $"b.nm").cast("long").as("d"))
      .filter($"d" <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == naive)
    assert(got.nonEmpty) // the fixture names make this family dense
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark's own harness: its order statistics, its
  * reconcile check, and the determinism of its corpus generator.
  * Run from this directory: sbt test */
class HarnessSpec extends AnyFunSuite {

  private val small = Corpus.Shape(looseImages = 30, loosePixelBytes = 512, days = 5,
    sidecars = 2, archives = 4, membersPerArchive = 3, memberPixelBytes = 4096,
    oversized = 1, oversizedBytes = 10000100)

  private def scratch(name: String): Path = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), name)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(xs, 0.5) == 5.5)
    // statistics.quantiles(range(1, 11), n=4, method="inclusive") == [3.25, 5.5, 7.75]
    assert(math.abs(Stats.percentile(xs, 0.25) - 3.25) < 1e-12)
    assert(math.abs(Stats.percentile(xs, 0.75) - 7.75) < 1e-12)
    assert(math.abs(Stats.percentile(xs, 0.9) - 9.1) < 1e-12)
  }

  test("reported percentile keeps ten samples above it") {
    assert(Stats.reportable(200, 0.9) == 0.9)
    assert(Stats.reportable(100, 0.9) == 0.9)
    assert(math.abs(Stats.reportable(40, 0.9) - 0.75) < 1e-12)
    assert(Stats.reportable(12, 0.9) == 0.5) // never below the median
  }

  test("the same seed gives byte-identical corpora, whatever the thread count") {
    val a = scratch("corpus-a"); val b = scratch("corpus-b"); val c = scratch("corpus-c")
    try {
      Corpus.generate(a, small, 42L, threads = 1)
      Corpus.generate(b, small, 42L, threads = 4)
      Corpus.generate(c, small, 43L, threads = 4)
      def files(d: Path) = Layers.objects(d.resolve("objects")).map(p => d.relativize(p).toString)
      assert(files(a).nonEmpty && files(a) == files(b))
      files(a).foreach { f =>
        assert(java.util.Arrays.equals(Files.readAllBytes(a.resolve(f)), Files.readAllBytes(b.resolve(f))), f)
      }
      assert(files(a).exists(f => !java.util.Arrays.equals(
        Files.readAllBytes(a.resolve(f)), Files.readAllBytes(c.resolve(f)))), "another seed changes the bytes")
    } finally Seq(a, b, c).foreach(Main.delete)
  }

  test("the generated corpus holds the seeded error per stage and the truth's counts") {
    val d = scratch("corpus-layers")
    try {
      val truth = Corpus.generate(d, small, 7L, threads = 2)
      val p = Layers.pass(d.resolve("objects"), new Tracer("spec"))
      assert(p.objects == truth.objects)
      assert(Map("route" -> p.routeErrors, "expand" -> p.expandErrors, "parse" -> p.parseErrors,
        "transform" -> p.transformErrors) == truth.errorsByStage)
      assert(truth.archiveMembers - p.archiveMembers == truth.membersDropped)
      assert(p.readBytes == truth.scanBytes)
      // every image parses; the transform case parses too, then fails to flatten
      assert(p.images == truth.images.size + 1)
    } finally Main.delete(d)
  }

  private def truthAndMatch(): (Corpus.Truth, Gate.Observed) = {
    val d = scratch("corpus-gate")
    try {
      val truth = Corpus.generate(d, small, 9L, threads = 2)
      val n = truth.images.size.toLong
      (truth, Gate.Observed(n, n, truth.objectsWithImages.toLong,
        truth.errorsByStage.map { case (k, v) => k -> v.toLong }, truth.columns))
    } finally Main.delete(d)
  }

  test("reconcile accepts an ingest that matches the truth") {
    val (truth, obs) = truthAndMatch()
    assert(Gate.reconcile(truth, obs).isEmpty)
  }

  test("reconcile catches a dropped row") {
    val (truth, obs) = truthAndMatch()
    val problems = Gate.reconcile(truth, obs.copy(rows = obs.rows - 1, distinctSops = obs.distinctSops - 1))
    assert(problems.exists(_.startsWith("rows")), problems)
    assert(problems.exists(_.startsWith("distinct SOP")), problems)
  }

  test("reconcile catches an error filed under the wrong stage") {
    val (truth, obs) = truthAndMatch()
    val moved = obs.errorsByStage - "transform" + ("parse" -> 2L)
    val problems = Gate.reconcile(truth, obs.copy(errorsByStage = moved))
    assert(problems.exists(_.startsWith("errors by stage")), problems)
  }

  test("reconcile catches a missing column and an object that vanished") {
    val (truth, obs) = truthAndMatch()
    val problems = Gate.reconcile(truth, obs.copy(columns = obs.columns - "patient_id",
      sourceKeys = obs.sourceKeys - 1))
    assert(problems.exists(_.startsWith("columns differ")), problems)
    assert(problems.exists(_.startsWith("objects do not reconcile")), problems)
  }

  test("query answers render like Spark rows") {
    import org.apache.spark.sql.Row
    assert(Gate.canonical(Seq(Row("MR", 2L), Row("CT", 5L))) == Vector("CT|5", "MR|2"))
    assert(Gate.canonical(Seq(Row("P1", java.sql.Date.valueOf("2024-03-05")))) == Vector("P1|2024-03-05"))
  }
}

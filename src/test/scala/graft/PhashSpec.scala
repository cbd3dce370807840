package graft

import graft.operators.Multimodal

/** What the rows-only gate can't see about the perceptual-hash family:
  * dHash's invariance claims (re-encode exact, rescale/noise near,
  * structural difference far), the losslessness of the 8-band join at
  * the threshold, and determinism. */
class PhashSpec extends SparkSuite {

  private def bytes(dir: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name))

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash invariance: re-encode exact, rescale/noise near, inverted far") {
    val dir = Multimodal.ensurePhashFixtures()
    def h(n: String): Long = Multimodal.dHash(bytes(dir, n)).get
    val png = h("smooth-a.png")
    assert(h("smooth-a.bmp") == png) // identical pixels, different container
    assert(ham(h("smooth-small.png"), png) <= 6, "rescale drifted past the threshold")
    assert(ham(h("smooth-noisy.png"), png) <= 6, "mild noise drifted past the threshold")
    assert(ham(h("inverted.png"), png) > 20, "structurally different image came out near")
    // deterministic across calls
    assert(Multimodal.dHash(bytes(dir, "smooth-a.png")).get == png)
  }

  test("dHash refuses non-image bytes") {
    assert(Multimodal.dHash("not an image".getBytes).isEmpty)
  }

  test("phashNearDup: banded join finds exactly the brute-force pairs") {
    val dirs = Seq(Multimodal.ensureImageFixtures(), Multimodal.ensurePhashFixtures())
    val got = Multimodal.phashNearDup(spark, dirs).collect()
      .map(r => (name(r.getString(0)), name(r.getString(1)), r.getLong(2))).toSet

    // brute force over every decodable fixture — banding at 8×8 bits is
    // provably lossless for hamming ≤ 6, so the sets must be EQUAL
    val all = dirs.flatMap { d =>
      val f = new java.io.File(d)
      f.listFiles().toSeq.map(x =>
        (x.getName, Multimodal.dHash(java.nio.file.Files.readAllBytes(x.toPath))))
    }.collect { case (n, Some(hv)) => (n, hv) }
    val brute = (for {
      (na, ha) <- all; (nb, hb) <- all
      if na < nb
      d = ham(ha, hb) if d <= 6
    } yield (na, nb, d.toLong)).toSet
    // path ordering in the operator is full-path lexicographic; fixture
    // names are unique across the two dirs, so compare on names with
    // pair order normalized
    def norm(s: Set[(String, String, Long)]) =
      s.map { case (a, b, d) => if (a < b) (a, b, d) else (b, a, d) }
    assert(norm(got) == norm(brute))
    // and the family's reason to exist is present: the cross-format twin
    assert(norm(got).exists { case (a, b, d) =>
      a == "smooth-a.bmp" && b == "smooth-a.png" && d == 0L })
  }

  private def name(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)
}

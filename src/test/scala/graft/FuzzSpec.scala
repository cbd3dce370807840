package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.DicomPipeline

/** Never-throws property: `processObject` is the pipeline's executor-side
  * unit of work — it must ALWAYS return an Either (any escape would fail
  * the whole Spark stage instead of landing one object in the error
  * channel). Fuzz with random bytes and bit-flipped mutations of a valid
  * file under every routed extension. */
class FuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private val valid = DicomWriter.file(Seq(
    DicomWriter.strElement(0x0008, 0x0020, "DA", "19990101"),
    DicomWriter.strElement(0x0008, 0x0060, "CS", "OT"),
    DicomWriter.strElement(0x0010, 0x0010, "PN", "A^B"),
    DicomWriter.usElement(0x0028, 0x0010, 979)))

  private def process(key: String, bytes: Array[Byte]) =
    DicomPipeline.processObject("b", "r", key, () => new java.io.ByteArrayInputStream(bytes))

  private val exts = Seq("f", "f.dcm", "f.zip", "f.tar", "f.gz", "f.bz2",
    "f.xz", "f.json", "f.weird")

  test("random bytes never escape processObject") {
    (0 until 300).foreach { i =>
      val bytes = new Array[Byte](rnd.nextInt(4000))
      rnd.nextBytes(bytes)
      val key = exts(i % exts.length)
      val r = process(key, bytes) // must not throw
      assert(r.isLeft || r.isRight)
    }
  }

  test("bit-flipped valid files never escape processObject") {
    (0 until 300).foreach { i =>
      val mutated = valid.clone()
      // flip 1-4 random bits anywhere (header, VRs, lengths, values)
      (0 to rnd.nextInt(4)).foreach { _ =>
        val pos = rnd.nextInt(mutated.length)
        mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
      }
      val r = process("scan", mutated)
      assert(r.isLeft || r.isRight)
    }
  }

  test("truncations at every prefix never escape processObject") {
    (0 until valid.length by 7).foreach { n =>
      val r = process("scan", valid.take(n))
      assert(r.isLeft || r.isRight)
    }
  }

  test("multimodal decode never throws: random bytes under every sniffed type") {
    import graft.operators.Multimodal.{decodeOne, sniffMediaType, resample}
    // magic-byte prefixes that pass the sniff but lead into garbage — the
    // exact class of input that must degrade to the stub, not kill a task
    val magics: Seq[Array[Byte]] = Seq(
      Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array[Int](0xff, 0xd8, 0xff).map(_.toByte),
      "GIF89a".getBytes,
      Array[Int]('B', 'M').map(_.toByte) ++ new Array[Byte](28),
      Array[Int]('P', 'K', 0x03, 0x04).map(_.toByte),
      Array[Int](0x1f, 0x8b).map(_.toByte),
      "BZh".getBytes,
      Array.empty[Byte])
    (0 until 200).foreach { i =>
      val tail = new Array[Byte](rnd.nextInt(500))
      rnd.nextBytes(tail)
      val bytes = magics(i % magics.length) ++ tail
      val mt = sniffMediaType(bytes)
      val d = decodeOne(s"fuzz-$i", mt, bytes) // must not throw
      assert(d.decoder != null && d.width >= 0 && d.height >= 0)
      assert(resample(bytes, 64).forall(_._5.length == 32)) // None or md5
    }
  }
}

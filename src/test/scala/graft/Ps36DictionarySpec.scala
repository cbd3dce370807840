package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.dicom.{DicomParser, Tags}
import graft.pipeline.DicomPipeline

/** The full-PS3.6 dictionary expansion (VERDICT r5 "What's missing" #1):
  * the reference resolves ANY standard keyword through pydicom's data
  * dictionary (`/root/reference/src/utils/tags.py:115-141`,
  * `/root/reference/src/dicomwrapper.py:39-47`), so
  * uncommon-but-standard tags (RT, ophthalmology, SR, print, waveform
  * groups) must flow through to columns here too — not silently vanish
  * because a curated table lacks the keyword. */
class Ps36DictionarySpec extends SparkSuite {

  /** Deterministically sample `n` values from a generator (no
    * scalatestplus bridge in the offline dependency set). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1042L + i)))

  test("dictionary carries the full PS3.6 surface, not a curated subset") {
    assert(Tags.dict.size > 2800)
    // keywords stay unique (byKeyword would silently drop collisions)
    val kws = Tags.dict.values.map(_.keyword).filter(_.nonEmpty).toSeq
    assert(kws.distinct.size == kws.size)
    val vrs = Set("AE","AS","AT","CS","DA","DS","DT","FL","FD","IS","LO",
      "LT","OB","OD","OF","OL","OV","OW","PN","SH","SL","SQ","SS","ST",
      "SV","TM","UC","UI","UL","UN","UR","US","UT","UV")
    assert(Tags.dict.values.forall(t => vrs.contains(t.vr)))
  }

  test("uncommon-but-standard tags resolve across modality families") {
    // one probe per family the r5 verdict called out as silently absent
    val probes = Seq(
      (0x300a, 0x00c2, "BeamName", "LO"),             // RT plan
      (0x0022, 0x0007, "SphericalLensPower", "FL"),   // ophthalmology
      (0x0040, 0xa160, "TextValue", "UT"),            // SR content
      (0x2010, 0x0050, "FilmSizeID", "CS"),           // print management
      (0x003a, 0x0203, "ChannelLabel", "SH"),         // waveform
      (0x0062, 0x0005, "SegmentLabel", "LO"),         // segmentation
      (0x0012, 0x0040, "ClinicalTrialSubjectID", "LO"), // clinical trial
      (0x0048, 0x0006, "TotalPixelMatrixColumns", "UL")) // whole slide
    probes.foreach { case (g, e, kw, vr) =>
      val info = Tags.lookup(g, e)
      assert(info.exists(i => i.keyword == kw && i.vr == vr),
        s"(${g.toHexString},${e.toHexString}) → $info, wanted $kw/$vr")
    }
  }

  test("extended-set tags become columns end-to-end (explicit VR LE)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ps36spec")
    val bytes = DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0016, "UI", "1.2.840.10008.5.1.4.1.1.481.5"),
      DicomWriter.strElement(0x0008, 0x0018, "UI", "1.2.3.4.5"),
      DicomWriter.strElement(0x0008, 0x0020, "DA", "20240102"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "RTPLAN"),
      DicomWriter.strElement(0x300a, 0x0002, "SH", "PLAN1"),
      DicomWriter.strElement(0x300a, 0x00c2, "LO", "AP Beam"),
      DicomWriter.strElement(0x3006, 0x0026, "LO", "PTV"),
      DicomWriter.strElement(0x0012, 0x0040, "LO", "SUBJ-7"),
      DicomWriter.strElement(0x2010, 0x0050, "CS", "14INX17IN"),
      // VM 1-n tag with a single value must still list-wrap (the
      // reference's validate_vm rule keyed off the FULL dictionary)
      DicomWriter.strElement(0x300a, 0x000b, "LO", "PELVIS")))
    java.nio.file.Files.write(dir.resolve("rtplan.dcm"), bytes)
    val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
    val df = DicomPipeline.toDataFrame(spark, ex)
    val cols = df.columns.toSet
    Seq("rtplan_label", "beam_name", "roiname", "clinical_trial_subject_id",
        "film_size_id", "treatment_sites").foreach { c =>
      assert(cols.contains(c), s"missing column $c in ${cols.mkString(",")}")
    }
    val row = df.select("beam_name", "treatment_sites").head()
    assert(row.getString(0) == "AP Beam")
    assert(row.getSeq[String](1) == Seq("PELVIS"))
  }

  test("implicit VR LE resolves VR from the extended dictionary") {
    // implicit VR has no in-file VR: a tag outside the dictionary would
    // parse as UN; BeamNumber (300A,00C0) IS must round-trip as a string
    val ds = {
      import java.nio.{ByteBuffer, ByteOrder}
      def imp(g: Int, e: Int, v: Array[Byte]): Array[Byte] = {
        val padded = if (v.length % 2 == 0) v else v :+ ' '.toByte
        val b = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(g.toShort).putShort(e.toShort).putInt(padded.length).put(padded)
        b.array()
      }
      imp(0x0008, 0x0018, "1.2.3.9".getBytes) ++
        imp(0x300a, 0x00c0, "3".getBytes) ++
        imp(0x300a, 0x00c2, "Lat Beam".getBytes)
    }
    val bytes = DicomWriter.file(Nil, transferSyntax = "1.2.840.10008.1.2") ++ ds
    val parsed = DicomParser.parse(bytes)
    val byKw = parsed.elements.map(e => e.keyword -> e).toMap
    assert(byKw.contains("BeamNumber"), byKw.keys.mkString(","))
    assert(byKw("BeamNumber").vr == "IS")
    assert(byKw("BeamName").vr == "LO")
  }

  test("property: any sampled string-VR PS3.6 tag survives write→parse→flatten") {
    val stringVrs = Set("AE", "AS", "CS", "LO", "SH", "ST", "LT", "UC", "UT", "UI")
    val candidates = Tags.dict.toSeq
      .filter { case (k, t) =>
        stringVrs.contains(t.vr) && t.keyword.nonEmpty &&
        ((k >>> 16) & 0xffff) != 0x0002 && // meta group parses separately
        ((k >>> 16) & 0x1) == 0            // even groups only (odd = private)
      }
    assert(candidates.size > 800)
    val gen = Gen.pick(25, candidates)
    samples(gen, 10).foreach { picked =>
      val sorted = picked.toSeq.sortBy(_._1) // DICOM data sets are tag-ordered
      val bytes = DicomWriter.file(
        sorted.map { case (k, t) =>
          DicomWriter.strElement((k >>> 16) & 0xffff, k & 0xffff, t.vr, "VAL")
        })
      val parsed = DicomParser.parse(bytes)
      val kws = parsed.elements.map(_.keyword).toSet
      sorted.foreach { case (_, t) =>
        assert(kws.contains(t.keyword), s"${t.keyword} vanished")
      }
    }
  }
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** The benchmark's own explicit-VR little-endian DICOM writer (PS3.5
  * 7.1.2 element encoding, PS3.10 preamble + `DICM` + file meta). It
  * shares no code with the program's parser, so a parser change cannot
  * silently change the inputs it is measured on. */
object DicomBytes {

  val ExplicitLE = "1.2.840.10008.1.2.1"

  private val longForm = Set("OB", "OW", "OF", "OD", "OL", "OV", "SQ",
    "UC", "UR", "UT", "UN", "SV", "UV")

  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** One data element; odd-length values are padded (NUL for UI, space
    * for the other string VRs, NUL for binary VRs). */
  def element(out: ByteArrayOutputStream, group: Int, elem: Int, vr: String,
              value: Array[Byte]): Unit = {
    val pad = value.length % 2
    val len = value.length + pad
    val h = if (longForm(vr)) le(12) else le(8)
    h.putShort(group.toShort).putShort(elem.toShort)
    h.put(vr.charAt(0).toByte).put(vr.charAt(1).toByte)
    if (longForm(vr)) h.putShort(0).putInt(len) else h.putShort(len.toShort)
    out.write(h.array())
    out.write(value)
    if (pad == 1) out.write(if (vr == "UI" || longForm(vr)) 0 else ' ')
  }

  def str(out: ByteArrayOutputStream, group: Int, elem: Int, vr: String,
          value: String): Unit =
    element(out, group, elem, vr, value.getBytes(StandardCharsets.ISO_8859_1))

  /** Multi-valued string element: values joined by the `\` separator. */
  def strs(out: ByteArrayOutputStream, group: Int, elem: Int, vr: String,
           values: Seq[String]): Unit = str(out, group, elem, vr, values.mkString("\\"))

  def us(out: ByteArrayOutputStream, group: Int, elem: Int, value: Int): Unit =
    element(out, group, elem, "US", le(2).putShort(value.toShort).array())

  /** Defined-length SQ whose items are already-encoded data sets. */
  def sq(out: ByteArrayOutputStream, group: Int, elem: Int,
         items: Seq[Array[Byte]]): Unit = {
    val body = new ByteArrayOutputStream()
    items.foreach { item =>
      body.write(le(8).putShort(0xfffe.toShort).putShort(0xe000.toShort)
        .putInt(item.length).array())
      body.write(item)
    }
    element(out, group, elem, "SQ", body.toByteArray)
  }

  /** Preamble + `DICM` + file meta (group length, SOP class/instance,
    * transfer syntax) followed by the encoded data set. */
  def file(sopClass: String, sopInstance: String, dataSet: Array[Byte]): Array[Byte] = {
    val meta = new ByteArrayOutputStream()
    str(meta, 0x0002, 0x0002, "UI", sopClass)
    str(meta, 0x0002, 0x0003, "UI", sopInstance)
    str(meta, 0x0002, 0x0010, "UI", ExplicitLE)
    val out = new ByteArrayOutputStream(132 + 12 + meta.size() + dataSet.length)
    out.write(new Array[Byte](128))
    out.write("DICM".getBytes(StandardCharsets.US_ASCII))
    element(out, 0x0002, 0x0000, "UL", le(4).putInt(meta.size()).array())
    meta.writeTo(out)
    out.write(dataSet)
    out.toByteArray
  }
}

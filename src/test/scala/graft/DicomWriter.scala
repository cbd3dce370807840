package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Test-only explicit-VR-little-endian DICOM byte-stream writer, used by
  * the golden SQ tests and the ScalaCheck round-trip properties
  * (the Scala analog of the reference's `generate_dcm.py` fixture
  * generator role). */
object DicomWriter {

  private val longForm = Set("OB", "OW", "OF", "OD", "OL", "OV", "SQ",
                             "UC", "UR", "UT", "UN", "SV", "UV")

  def element(group: Int, elem: Int, vr: String, value: Array[Byte]): Array[Byte] = {
    val padded =
      if (value.length % 2 == 0) value
      else value :+ (if (vr == "UI") 0.toByte else ' '.toByte)
    val out = ByteBuffer.allocate(12 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(group.toShort).putShort(elem.toShort)
    out.put(vr.charAt(0).toByte).put(vr.charAt(1).toByte)
    if (longForm.contains(vr)) { out.putShort(0); out.putInt(padded.length) }
    else out.putShort(padded.length.toShort)
    out.put(padded)
    java.util.Arrays.copyOf(out.array(), out.position())
  }

  def strElement(group: Int, elem: Int, vr: String, value: String): Array[Byte] =
    element(group, elem, vr, value.getBytes("UTF-8"))

  def usElement(group: Int, elem: Int, values: Int*): Array[Byte] = {
    val b = ByteBuffer.allocate(values.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(v => b.putShort(v.toShort))
    element(group, elem, "US", b.array())
  }

  /** Defined-length SQ with the given items (each a concatenation of
    * encoded elements). */
  def sqElement(group: Int, elem: Int, items: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    items.foreach { item =>
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(0xfffe.toShort).putShort(0xe000.toShort).putInt(item.length)
      body.write(h.array()); body.write(item)
    }
    element(group, elem, "SQ", body.toByteArray)
  }

  /** Full file: preamble + DICM + meta + the given data-set elements,
    * under the given transfer syntax UID. The meta group holds its group
    * length, the transfer syntax and any further group-0002 `meta`
    * elements, in tag order. */
  def file(elements: Seq[Array[Byte]],
           transferSyntax: String = "1.2.840.10008.1.2.1",
           meta: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(new Array[Byte](128))
    out.write("DICM".getBytes)
    def elementNumber(e: Array[Byte]): Int = (e(2) & 0xff) | (e(3) & 0xff) << 8
    val metaBody = (meta :+ strElement(0x0002, 0x0010, "UI", transferSyntax)).sortBy(elementNumber)
    val groupLen = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(metaBody.map(_.length).sum).array()
    out.write(element(0x0002, 0x0000, "UL", groupLen))
    metaBody.foreach(out.write)
    elements.foreach(out.write)
    out.toByteArray
  }

  /** Encapsulated (undefined-length) OB pixel data: empty basic offset
    * table item + one item per fragment (even-padded with 0x00), closed
    * by the (FFFE,E0DD) sequence delimiter — the JPEG-family encoding of
    * (7FE0,0010). */
  def encapsulatedPixels(fragments: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    def item(bytes: Array[Byte]): Unit = {
      val padded = if (bytes.length % 2 == 0) bytes else bytes :+ 0.toByte
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(0xfffe.toShort).putShort(0xe000.toShort).putInt(padded.length)
      body.write(h.array()); body.write(padded)
    }
    item(Array.emptyByteArray) // basic offset table
    fragments.foreach(item)
    val sd = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    sd.putShort(0xfffe.toShort).putShort(0xe0dd.toShort).putInt(0)
    body.write(sd.array())
    val out = ByteBuffer.allocate(12 + body.size()).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(0x7fe0.toShort).putShort(0x0010.toShort)
    out.put('O'.toByte).put('B'.toByte).putShort(0).putInt(0xffffffff)
    out.put(body.toByteArray)
    out.array()
  }

  /** Implicit-VR-LE encoded element (tag + 4-byte length, no VR). */
  def implicitElement(group: Int, elem: Int, value: Array[Byte]): Array[Byte] = {
    val padded = if (value.length % 2 == 0) value else value :+ ' '.toByte
    val out = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(group.toShort).putShort(elem.toShort).putInt(padded.length)
    out.put(padded)
    out.array()
  }

  def implicitStr(group: Int, elem: Int, value: String): Array[Byte] =
    implicitElement(group, elem, value.getBytes("UTF-8"))

  /** Implicit-VR SQ with UNDEFINED length and undefined-length items —
    * the most common real-world sequence encoding. */
  def implicitSqUndefined(group: Int, elem: Int, items: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    items.foreach { item =>
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(0xfffe.toShort).putShort(0xe000.toShort).putInt(0xffffffff)
      body.write(h.array()); body.write(item)
      val d = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      d.putShort(0xfffe.toShort).putShort(0xe00d.toShort).putInt(0)
      body.write(d.array())
    }
    val sd = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    sd.putShort(0xfffe.toShort).putShort(0xe0dd.toShort).putInt(0)
    body.write(sd.array())
    val out = ByteBuffer.allocate(8 + body.size()).order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(group.toShort).putShort(elem.toShort).putInt(0xffffffff)
    out.put(body.toByteArray)
    out.array()
  }
}

package graft.sinks

import java.io.ByteArrayOutputStream

/** Minimal Mapbox Vector Tile (MVT v2.1) protobuf encoder — the encode
  * half of the reference's tippecanoe stage
  * (`/root/reference/build.sh:129-134,155-160`), hand-rolled against the
  * public vector-tile spec (no protobuf dependency available offline).
  *
  * Layout (spec 2.1):
  *   Tile        { repeated Layer layers = 3; }
  *   Layer       { version=15(varint,=2), name=1, Feature features=2,
  *                 keys=3, Value values=4, extent=5(varint) }
  *   Feature     { id=1(varint), tags=2(packed), type=3(varint),
  *                 geometry=4(packed command ints) }
  *   Value       { string=1 | double=3(fixed64) | int=4(varint) }
  *   geometry    command = (id & 7) | (count << 3); MoveTo=1, LineTo=2,
  *                 ClosePath=7; params zigzag-delta-encoded.
  */
object Mvt {

  sealed trait GeomType { def code: Int }
  case object PointGeom extends GeomType { val code = 1 }
  case object PolygonGeom extends GeomType { val code = 3 }

  /** One feature: integer id (the reference's `--use-attribute-for-id`),
    * pixel-space rings (a single point for PointGeom), and typed
    * attributes. Null attribute values must be pre-dropped (the
    * reference's `--empty-csv-columns-are-null`).
    */
  case class Feature(id: Long, geomType: GeomType,
                     rings: Seq[Seq[(Int, Int)]],
                     attrs: Seq[(String, Any)])

  // ---------------------------------------------------------------- wire
  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  private def writeVarint(o: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }

  private def writeTag(o: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    writeVarint(o, (field << 3) | wire)

  private def writeBytesField(o: ByteArrayOutputStream, field: Int,
                              b: Array[Byte]): Unit = {
    writeTag(o, field, 2); writeVarint(o, b.length); o.write(b)
  }

  private def writeStringField(o: ByteArrayOutputStream, field: Int,
                               s: String): Unit =
    writeBytesField(o, field, s.getBytes("UTF-8"))

  private def writeVarintField(o: ByteArrayOutputStream, field: Int,
                               v: Long): Unit = {
    writeTag(o, field, 0); writeVarint(o, v)
  }

  // -------------------------------------------------------------- values
  private def encodeValue(v: Any): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    v match {
      case s: String => writeStringField(o, 1, s)
      case d: Double =>
        writeTag(o, 3, 1)
        val bits = java.lang.Double.doubleToLongBits(d)
        for (i <- 0 until 8) o.write(((bits >>> (8 * i)) & 0xff).toInt)
      case f: Float => return encodeValue(f.toDouble)
      case i: Int => writeVarintField(o, 4, i.toLong)
      case l: Long => writeVarintField(o, 4, l)
      case b: Boolean => writeVarintField(o, 7, if (b) 1L else 0L)
      case other => writeStringField(o, 1, String.valueOf(other))
    }
    o.toByteArray
  }

  // ------------------------------------------------------------ geometry
  private[graft] def encodeGeometry(geomType: GeomType,
                                    rings: Seq[Seq[(Int, Int)]]): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cx = 0; var cy = 0
    geomType match {
      case PointGeom =>
        val pts = rings.flatten
        out += ((1L /*MoveTo*/ ) | (pts.length.toLong << 3))
        pts.foreach { case (x, y) =>
          out += zigzag(x - cx); out += zigzag(y - cy); cx = x; cy = y
        }
      case PolygonGeom =>
        rings.foreach { ring =>
          // drop the duplicate closing vertex if present; ClosePath closes
          val rr = if (ring.length > 1 && ring.head == ring.last)
            ring.dropRight(1) else ring
          out += (1L | (1L << 3)) // MoveTo 1
          val (x0, y0) = rr.head
          out += zigzag(x0 - cx); out += zigzag(y0 - cy); cx = x0; cy = y0
          out += (2L | ((rr.length - 1).toLong << 3)) // LineTo n-1
          rr.tail.foreach { case (x, y) =>
            out += zigzag(x - cx); out += zigzag(y - cy); cx = x; cy = y
          }
          out += 7L // ClosePath
        }
    }
    out.toSeq
  }

  // --------------------------------------------------------------- layer
  /** Encode one layer's features into MVT tile bytes. Keys/values are
    * interned in first-appearance order (deterministic given input
    * order).
    */
  def encodeLayer(name: String, features: Seq[Feature],
                  extent: Int = 4096): Array[Byte] = {
    val keys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val values = scala.collection.mutable.LinkedHashMap.empty[Any, Int]

    val featBytes = features.map { f =>
      val o = new ByteArrayOutputStream()
      writeVarintField(o, 1, f.id)
      val tagStream = new ByteArrayOutputStream()
      f.attrs.foreach { case (k, v) =>
        if (v != null) {
          val ki = keys.getOrElseUpdate(k, keys.size)
          val vi = values.getOrElseUpdate(v, values.size)
          writeVarint(tagStream, ki.toLong); writeVarint(tagStream, vi.toLong)
        }
      }
      writeBytesField(o, 2, tagStream.toByteArray)
      writeVarintField(o, 3, f.geomType.code.toLong)
      val geomStream = new ByteArrayOutputStream()
      encodeGeometry(f.geomType, f.rings).foreach(writeVarint(geomStream, _))
      writeBytesField(o, 4, geomStream.toByteArray)
      o.toByteArray
    }

    val layer = new ByteArrayOutputStream()
    writeVarintField(layer, 15, 2L) // version
    writeStringField(layer, 1, name)
    featBytes.foreach(writeBytesField(layer, 2, _))
    keys.keys.foreach(writeStringField(layer, 3, _))
    values.keys.foreach(v => writeBytesField(layer, 4, encodeValue(v)))
    writeVarintField(layer, 5, extent.toLong)

    val tile = new ByteArrayOutputStream()
    writeBytesField(tile, 3, layer.toByteArray)
    tile.toByteArray
  }
}

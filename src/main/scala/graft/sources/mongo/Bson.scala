package graft.sources.mongo

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.io.{ByteArrayOutputStream, StringWriter}
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal BSON codec for the MongoDB wire path — exactly the subset the
  * graft document model needs (JSON-shaped documents: the
  * [[MongoFindGen]] selector/projection on the way out, GeoJSON Feature
  * documents on the way back), implemented against the public BSON spec
  * (bsonspec.org): little-endian scalars, length-prefixed documents,
  * `\0`-terminated element names.
  *
  * Encoding maps JSON types 1:1 (string, integral → int32/int64, other
  * numbers → double, bool, null, object, array). Decoding additionally
  * accepts the non-JSON types a real MongoDB stamps on stored documents —
  * ObjectId (hex string), UTC datetime (epoch-millis number), timestamp,
  * binary (base64 string) — so `_id` fields round-trip harmlessly; the
  * flattening layer ignores unknown top-level keys anyway. Unknown
  * element types raise with the type byte named rather than desyncing
  * the stream.
  */
object Bson {

  private val mapper = new ObjectMapper()

  /** Nesting cap on BOTH codec directions. A hostile wire document can
    * nest 0x03/0x04 elements at ~5 bytes per level — unbounded recursion
    * turns that into a StackOverflowError, an Error escaping the
    * require-based loud-reject discipline every other lying-length check
    * here follows. 256 comfortably exceeds MongoDB's own server-side
    * nesting limit (100), so nothing a real server emits ever trips it. */
  private[mongo] val MaxDepth = 256

  // ------------------------------------------------------------- encode

  /** JSON text → one BSON document's bytes. `longFields` names elements
    * (at any depth) whose integral values MUST encode as int64 even when
    * they fit int32 — commands like `getMore` require the cursor id to
    * be int64, and JSON cannot express the distinction. `binaryFields`
    * names textual elements whose value is base64 of raw bytes to encode
    * as BSON binary subtype 0 — SASL conversations carry their payloads
    * as binary, and JSON cannot express that either. */
  def fromJson(json: String, longFields: Set[String] = Set.empty,
               binaryFields: Set[String] = Set.empty): Array[Byte] =
    encodeDoc(mapper.readTree(json), longFields, binaryFields)

  private def encodeDoc(node: JsonNode, longFields: Set[String],
                        binaryFields: Set[String], depth: Int = 0): Array[Byte] = {
    require(node.isObject, s"BSON document must encode a JSON object, got: $node")
    require(depth < MaxDepth, s"BSON nesting exceeds $MaxDepth levels")
    val out = new ByteArrayOutputStream()
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      encodeElement(out, e.getKey, e.getValue, longFields, binaryFields, depth)
    }
    finishDoc(out)
  }

  private def encodeArray(node: JsonNode, longFields: Set[String],
                          binaryFields: Set[String], depth: Int): Array[Byte] = {
    require(depth < MaxDepth, s"BSON nesting exceeds $MaxDepth levels")
    val out = new ByteArrayOutputStream()
    var i = 0
    val it = node.elements()
    while (it.hasNext) { encodeElement(out, i.toString, it.next(), longFields, binaryFields, depth); i += 1 }
    finishDoc(out)
  }

  private def finishDoc(body: ByteArrayOutputStream): Array[Byte] = {
    val inner = body.toByteArray
    val buf = ByteBuffer.allocate(4 + inner.length + 1).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(4 + inner.length + 1).put(inner).put(0.toByte)
    buf.array()
  }

  private def encodeElement(out: ByteArrayOutputStream, name: String, v: JsonNode,
                            longFields: Set[String], binaryFields: Set[String],
                            depth: Int): Unit = {
    def cstring(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(!b.contains(0.toByte), s"BSON names cannot contain NUL: $s")
      out.write(b, 0, b.length); out.write(0)
    }
    def le(n: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(n).array()
      out.write(b, 0, 4)
    }
    def le8(n: Long): Unit = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(n).array()
      out.write(b, 0, 8)
    }
    if (v.isTextual && binaryFields.contains(name)) {
      // BSON binary, subtype 0 (generic): the JSON value is base64 of
      // the raw bytes (SASL payloads travel this way)
      val raw = java.util.Base64.getDecoder.decode(v.textValue())
      out.write(0x05); cstring(name)
      le(raw.length); out.write(0); out.write(raw, 0, raw.length)
    } else if (v.isTextual) {
      out.write(0x02); cstring(name)
      val b = v.textValue().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      le(b.length + 1); out.write(b, 0, b.length); out.write(0)
    } else if (v.isIntegralNumber && v.canConvertToLong && longFields.contains(name)) {
      out.write(0x12); cstring(name); le8(v.longValue())
    } else if (v.isInt || (v.isIntegralNumber && v.canConvertToInt)) {
      out.write(0x10); cstring(name); le(v.intValue())
    } else if (v.isIntegralNumber && v.canConvertToLong) {
      out.write(0x12); cstring(name); le8(v.longValue())
    } else if (v.isNumber) {
      out.write(0x01); cstring(name)
      le8(java.lang.Double.doubleToLongBits(v.doubleValue()))
    } else if (v.isBoolean) {
      out.write(0x08); cstring(name); out.write(if (v.booleanValue()) 1 else 0)
    } else if (v.isNull) {
      out.write(0x0A); cstring(name)
    } else if (v.isObject) {
      out.write(0x03); cstring(name)
      val d = encodeDoc(v, longFields, binaryFields, depth + 1); out.write(d, 0, d.length)
    } else if (v.isArray) {
      out.write(0x04); cstring(name)
      val d = encodeArray(v, longFields, binaryFields, depth + 1); out.write(d, 0, d.length)
    } else throw new IllegalArgumentException(s"cannot BSON-encode: $v")
  }

  // ------------------------------------------------------------- decode

  /** One BSON document (starting at `buf`'s position) → JSON text. The
    * buffer's position advances past the document. */
  def toJson(buf: ByteBuffer): String = {
    buf.order(ByteOrder.LITTLE_ENDIAN)
    val sw = new StringWriter()
    val gen = graft.JsonText.factory.createGenerator(sw)
    writeDoc(buf, gen, array = false)
    gen.close()
    sw.toString
  }

  /** Whole-array convenience. */
  def toJson(doc: Array[Byte]): String = toJson(ByteBuffer.wrap(doc))

  private def writeDoc(buf: ByteBuffer, gen: com.fasterxml.jackson.core.JsonGenerator,
                       array: Boolean, depth: Int = 0): Unit = {
    // depth guard BEFORE any recursion: a hostile ~5-bytes-per-level
    // nest must reject loudly, not StackOverflowError past the require
    // discipline (reader side of [[MaxDepth]])
    require(depth < MaxDepth, s"BSON nesting exceeds $MaxDepth levels")
    val len = buf.getInt()
    // length-prefix hostility (the WARC/EBML discipline — these bytes
    // arrive off the WIRE): a lying length must reject BEFORE anything
    // dereferences it. Minimum document is 5 bytes (the length itself +
    // terminator); the body must fit what the buffer actually holds —
    // without the bound a huge value walks off the buffer, and a SHORT
    // one that happens to land on a stray 0x00 would silently truncate
    // the document (the position == end check below closes that half).
    require(len >= 5 && len - 4 <= buf.remaining(),
      s"BSON document length $len out of bounds (${buf.remaining()} bytes left)")
    val end = buf.position() + len - 4 - 1 // minus the length itself and terminator
    if (array) gen.writeStartArray() else gen.writeStartObject()
    while (buf.position() < end) {
      val t = buf.get()
      val name = cstring(buf)
      if (!array) gen.writeFieldName(name)
      t match {
        case 0x01 => gen.writeNumber(java.lang.Double.longBitsToDouble(buf.getLong()))
        case 0x02 => gen.writeString(string(buf))
        case 0x03 => writeDoc(buf, gen, array = false, depth + 1)
        case 0x04 => writeDoc(buf, gen, array = true, depth + 1)
        case 0x05 => // binary: int32 len, subtype byte, bytes → base64 string
          val n = buf.getInt()
          // allocation bound BEFORE new Array: a lying 2 GB length (or a
          // negative one) must reject, not OOM/NegativeArraySize
          require(n >= 0 && n + 1L <= buf.remaining(),
            s"BSON binary length $n out of bounds (${buf.remaining()} bytes left)")
          buf.get()
          val b = new Array[Byte](n); buf.get(b)
          gen.writeString(java.util.Base64.getEncoder.encodeToString(b))
        case 0x07 => // ObjectId: 12 bytes → hex
          val b = new Array[Byte](12); buf.get(b)
          gen.writeString(b.map(x => f"$x%02x").mkString)
        case 0x08 => gen.writeBoolean(buf.get() != 0)
        case 0x09 => gen.writeNumber(buf.getLong()) // UTC datetime: epoch millis
        case 0x0A => gen.writeNull()
        case 0x10 => gen.writeNumber(buf.getInt())
        case 0x11 => gen.writeNumber(buf.getLong()) // timestamp
        case 0x12 => gen.writeNumber(buf.getLong())
        case other => throw new IllegalArgumentException(
          f"unsupported BSON element type 0x$other%02x for '$name'")
      }
    }
    // the loop must land EXACTLY on the declared end: an inner element
    // whose own (lying) length overran the document boundary desyncs the
    // walk — overshooting is corruption, not an alignment detail
    require(buf.position() == end,
      s"BSON document length desync: landed at ${buf.position()}, declared end $end")
    val term = buf.get()
    require(term == 0, s"BSON document must end with 0x00, got $term")
    if (array) gen.writeEndArray() else gen.writeEndObject()
  }

  private def cstring(buf: ByteBuffer): String = {
    val out = new ByteArrayOutputStream()
    var b = buf.get()
    while (b != 0) { out.write(b); b = buf.get() }
    out.toString(java.nio.charset.StandardCharsets.UTF_8)
  }

  private def string(buf: ByteBuffer): String = {
    val n = buf.getInt()
    // n counts the bytes INCLUDING the terminator: must be >= 1 and fit
    // the buffer before the allocation (lying-length discipline)
    require(n >= 1 && n <= buf.remaining(),
      s"BSON string length $n out of bounds (${buf.remaining()} bytes left)")
    val b = new Array[Byte](n - 1); buf.get(b)
    val term = buf.get()
    require(term == 0, "BSON string must end with 0x00")
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }
}

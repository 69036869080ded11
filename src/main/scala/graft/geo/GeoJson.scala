package graft.geo

import com.fasterxml.jackson.core.{JsonGenerator, JsonParser, JsonToken}
import org.locationtech.jts.geom._

import java.io.StringWriter
import scala.collection.mutable.ArrayBuffer

/** GeoJSON (RFC 7946) codec over JTS geometries.
  *
  * Covers the geometry surface the reference consumes from MongoDB /
  * CouchDB documents (reference: extension/mongodb/mongo_extension.ts:49
  * ST_GeomFromGeoJSON pushdown; src/index.ts:323 convertRestoGeoJSON
  * FeatureCollection output). `Feature` / `FeatureCollection` inputs
  * resolve to their (first) geometry, as PostGIS ST_GeomFromGeoJSON does
  * for bare geometries.
  */
object GeoJson {
  // ---------------------------------------------------------------- parse

  def parse(json: String): Geometry = {
    val p = graft.JsonText.factory.createParser(json)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, "GeoJSON must be an object")
      parseObject(p)
    } finally p.close()
  }

  /** Parses one JSON object already positioned at START_OBJECT and leaves
    * the parser on its END_OBJECT — so a caller streaming a larger
    * document (the GeoJSON source's features) builds the geometry from its
    * own parser, without copying the subtree out as text first. */
  private[graft] def parseObject(p: JsonParser): Geometry = {
    val f = GeomSerde.factory
    var typ: String = null
    var coords: Any = null          // nested ArrayBuffer tree of doubles
    var geoms: ArrayBuffer[Geometry] = null // for GeometryCollection
    var innerGeom: Geometry = null  // for Feature
    var features: ArrayBuffer[Geometry] = null

    while (p.nextToken() != JsonToken.END_OBJECT) {
      p.currentName() match {
        case "type" =>
          p.nextToken(); typ = p.getText
        case "coordinates" =>
          p.nextToken(); coords = parseArray(p)
        case "geometries" =>
          p.nextToken() // START_ARRAY
          geoms = ArrayBuffer.empty[Geometry]
          while (p.nextToken() != JsonToken.END_ARRAY) geoms += parseObject(p)
        case "geometry" =>
          p.nextToken()
          if (p.currentToken() == JsonToken.START_OBJECT) innerGeom = parseObject(p)
        case "features" =>
          p.nextToken() // START_ARRAY
          features = ArrayBuffer.empty[Geometry]
          while (p.nextToken() != JsonToken.END_ARRAY) features += parseObject(p)
        case _ =>
          p.nextToken(); p.skipChildren()
      }
    }

    typ match {
      case "Point"              => f.createPoint(toCoord(coords))
      case "LineString"         => f.createLineString(toCoordArray(coords))
      case "Polygon"            => toPolygon(coords, f)
      case "MultiPoint"         => f.createMultiPoint(toCoordArray(coords).map(f.createPoint))
      case "MultiLineString"    => f.createMultiLineString(seq(coords).map(c => f.createLineString(toCoordArray(c))).toArray)
      case "MultiPolygon"       => f.createMultiPolygon(seq(coords).map(c => toPolygon(c, f)).toArray)
      case "GeometryCollection" => f.createGeometryCollection(geoms.toArray)
      case "Feature"            => innerGeom
      case "FeatureCollection"  => f.createGeometryCollection(features.toArray)
      case other => throw new IllegalArgumentException(s"unsupported GeoJSON type: $other")
    }
  }

  private def parseArray(p: JsonParser): Any = {
    // positioned at START_ARRAY; returns Double or ArrayBuffer[Any]
    val buf = ArrayBuffer.empty[Any]
    while (p.nextToken() != JsonToken.END_ARRAY) {
      p.currentToken() match {
        case JsonToken.START_ARRAY => buf += parseArray(p)
        case JsonToken.VALUE_NUMBER_FLOAT | JsonToken.VALUE_NUMBER_INT =>
          buf += p.getDoubleValue
        case t => throw new IllegalArgumentException(s"unexpected token in coordinates: $t")
      }
    }
    buf
  }

  private def seq(a: Any): ArrayBuffer[Any] = a.asInstanceOf[ArrayBuffer[Any]]

  private def toCoord(a: Any): Coordinate = {
    val nums = seq(a)
    val c = new Coordinate(nums(0).asInstanceOf[Double], nums(1).asInstanceOf[Double])
    if (nums.length > 2) c.setZ(nums(2).asInstanceOf[Double])
    c
  }

  private def toCoordArray(a: Any): Array[Coordinate] =
    seq(a).map(toCoord).toArray

  private def toPolygon(a: Any, f: GeometryFactory): Polygon = {
    val rings = seq(a).map(r => f.createLinearRing(toCoordArray(r)))
    if (rings.isEmpty) f.createPolygon()
    else f.createPolygon(rings.head, rings.tail.toArray)
  }

  // ---------------------------------------------------------------- write

  def write(g: Geometry): String = {
    val sw = new StringWriter()
    val gen = graft.JsonText.factory.createGenerator(sw)
    writeGeom(gen, g)
    gen.close()
    sw.toString
  }

  private def writeGeom(gen: JsonGenerator, g: Geometry): Unit = {
    gen.writeStartObject()
    g match {
      case p: Point =>
        gen.writeStringField("type", "Point")
        gen.writeFieldName("coordinates"); writeCoord(gen, p.getCoordinate)
      case l: LineString =>
        gen.writeStringField("type", "LineString")
        gen.writeFieldName("coordinates"); writeCoords(gen, l.getCoordinates)
      case pl: Polygon =>
        gen.writeStringField("type", "Polygon")
        gen.writeFieldName("coordinates"); writePolyCoords(gen, pl)
      case mp: MultiPoint =>
        gen.writeStringField("type", "MultiPoint")
        gen.writeFieldName("coordinates"); writeCoords(gen, mp.getCoordinates)
      case ml: MultiLineString =>
        gen.writeStringField("type", "MultiLineString")
        gen.writeFieldName("coordinates")
        gen.writeStartArray()
        (0 until ml.getNumGeometries).foreach { i =>
          writeCoords(gen, ml.getGeometryN(i).getCoordinates)
        }
        gen.writeEndArray()
      case mpl: MultiPolygon =>
        gen.writeStringField("type", "MultiPolygon")
        gen.writeFieldName("coordinates")
        gen.writeStartArray()
        (0 until mpl.getNumGeometries).foreach { i =>
          writePolyCoords(gen, mpl.getGeometryN(i).asInstanceOf[Polygon])
        }
        gen.writeEndArray()
      case gc: GeometryCollection =>
        gen.writeStringField("type", "GeometryCollection")
        gen.writeFieldName("geometries")
        gen.writeStartArray()
        (0 until gc.getNumGeometries).foreach(i => writeGeom(gen, gc.getGeometryN(i)))
        gen.writeEndArray()
      case other =>
        throw new IllegalArgumentException(s"unsupported geometry: ${other.getGeometryType}")
    }
    gen.writeEndObject()
  }

  private def writeCoord(gen: JsonGenerator, c: Coordinate): Unit = {
    gen.writeStartArray()
    gen.writeNumber(c.x); gen.writeNumber(c.y)
    if (!c.getZ.isNaN) gen.writeNumber(c.getZ)
    gen.writeEndArray()
  }

  private def writeCoords(gen: JsonGenerator, cs: Array[Coordinate]): Unit = {
    gen.writeStartArray(); cs.foreach(writeCoord(gen, _)); gen.writeEndArray()
  }

  private def writePolyCoords(gen: JsonGenerator, p: Polygon): Unit = {
    gen.writeStartArray()
    writeCoords(gen, p.getExteriorRing.getCoordinates)
    (0 until p.getNumInteriorRing).foreach { i =>
      writeCoords(gen, p.getInteriorRingN(i).getCoordinates)
    }
    gen.writeEndArray()
  }
}

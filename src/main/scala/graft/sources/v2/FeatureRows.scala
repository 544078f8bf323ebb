package graft.sources.v2

import graft.codec.FeatureCodec._
import graft.geom.{Envelope, Wkb}
import graft.sources.GeoJson
import graft.sources.GeoJsonIngest.PropCell
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one feature <-> Catalyst row mapping of the geomedea and
  * FlatGeobuf sources (batch and streaming readers, both writers).
  * Schemas are written out and `props` is read and written directly on
  * the row, so no encoder (and no classloader-dependent reflection) runs
  * in a task. `props` holds [[PropCell]]s field for field, so
  * `.as[Seq[PropCell]]` reads it back. A task builds each cell straight
  * from the decoded `PValue` and reads each written cell straight into
  * one, with no `PropCell` in between; the cells are those of
  * `GeoJsonIngest.toCell`/`fromCell` (13 scalar kinds, one level of
  * vec/map).
  */
object FeatureRows {
  private val ValueFields = Seq(StructField("b", BooleanType), StructField("i", LongType),
    StructField("d", DoubleType), StructField("s", StringType), StructField("bin", BinaryType))
  private val ScalarType = StructType(StructField("kind", StringType) +: ValueFields)
  val CellType: StructType = StructType(
    Seq(StructField("key", StringType), StructField("kind", StringType)) ++ ValueFields ++ Seq(
      StructField("vec", ArrayType(ScalarType)),
      StructField("kvs", ArrayType(StructType(Seq(
        StructField("k", StringType), StructField("v", ScalarType)))))))
  private val PropsType = ArrayType(CellType)

  private val EnvelopeColumns = Seq("min_lng", "min_lat", "max_lng", "max_lat")
  private val PropColumns = Set("props", "prop_keys", "prop_vals")

  /** `source_file`, the format's own location columns, then the shared
    * geometry, property and envelope columns.
    */
  def tableSchema(location: StructField*): StructType = StructType(
    (StructField("source_file", StringType) +: location) ++ Seq(
      StructField("wkb", BinaryType), StructField("props", PropsType),
      StructField("prop_keys", ArrayType(StringType)),
      StructField("prop_vals", ArrayType(StringType))) ++
      EnvelopeColumns.map(StructField(_, IntegerType, nullable = false)))

  /** The write contract (`wkb: binary` + `props`, extra columns ignored),
    * checked at planning: a wrong frame is a clean driver error, not a
    * retried task failure.
    */
  def requireWritable(format: String, s: StructType): Unit = {
    require(s.fieldNames.contains("wkb") && s.fieldNames.contains("props"),
      s"$format write needs wkb + props columns; got ${s.fieldNames.mkString(",")}")
    val props = s("props").dataType.catalogString
    require(props == PropsType.catalogString,
      s"props column must be array<PropCell> (${PropsType.catalogString}); got $props")
    require(s("wkb").dataType == BinaryType,
      s"wkb column must be binary; got ${s("wkb").dataType.catalogString}")
  }

  /** No property column projected: the decode may skip the props bytes. */
  def geomOnly(required: StructType): Boolean = !required.fieldNames.exists(PropColumns)

  /** Column-pruned row builder: one generator per required column, the
    * envelope computed only when an envelope column is projected.
    * `location` maps the format's location columns off its per-feature
    * location value `L`.
    */
  def rowBuilder[L](required: StructType, file: String)(
      location: PartialFunction[String, L => Any]): (L, Feature) => InternalRow = {
    val fileUtf8 = UTF8String.fromString(file)
    val gens = required.fieldNames.map[(L, Feature, Envelope) => Any] {
      case "source_file" => (_, _, _) => fileUtf8
      case "wkb"         => (_, f, _) => Wkb.write(f.geom)
      case "props"       => (_, f, _) =>
        array(f.props.map { case (k, v) => cell(k, v) })
      case "prop_keys"   => (_, f, _) => array(f.props.map(p => utf8(p._1)))
      case "prop_vals"   => (_, f, _) =>
        array(f.props.map(p => utf8(GeoJson.propValueString(p._2))))
      case "min_lng"     => (_, _, e) => e.minLng
      case "min_lat"     => (_, _, e) => e.minLat
      case "max_lng"     => (_, _, e) => e.maxLng
      case "max_lat"     => (_, _, e) => e.maxLat
      case name if location.isDefinedAt(name) =>
        val g = location(name)
        (l, _, _) => g(l)
      case other => throw new IllegalStateException(s"unknown column $other")
    }
    val needsEnv = required.fieldNames.exists(EnvelopeColumns.contains)
    (loc, f) => {
      val env = if (needsEnv) f.geom.envelope else null
      val values = new Array[Any](gens.length)
      var i = 0
      while (i < gens.length) { values(i) = gens(i)(loc, f, env); i += 1 }
      new GenericInternalRow(values)
    }
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def array(xs: Seq[Any]): ArrayData = new GenericArrayData(xs.toArray)

  // the 15 kind names, shared by every cell a task builds or reads
  private val KBool = utf8("bool")
  private val KI8 = utf8("i8")
  private val KU8 = utf8("u8")
  private val KI16 = utf8("i16")
  private val KU16 = utf8("u16")
  private val KI32 = utf8("i32")
  private val KU32 = utf8("u32")
  private val KI64 = utf8("i64")
  private val KU64 = utf8("u64")
  private val KF32 = utf8("f32")
  private val KF64 = utf8("f64")
  private val KBytes = utf8("bytes")
  private val KString = utf8("string")
  private val KVec = utf8("vec")
  private val KMap = utf8("map")

  /** One `props` cell ([[CellType]]): the kind at ordinal 1, the value
    * in its slot, null everywhere else — `toCell(key, v)` field for field.
    */
  private def cell(key: String, v: PValue): InternalRow = {
    val c = new Array[Any](CellType.length)
    c(0) = utf8(key)
    v match {
      case PVec(xs) =>
        c(1) = KVec
        c(7) = array(xs.map(scalar))
      case PMap(ps) =>
        c(1) = KMap
        c(8) = array(ps.map { case (k, x) => new GenericInternalRow(Array[Any](utf8(k), scalar(x))) })
      case x => putScalar(c, 1, x)
    }
    new GenericInternalRow(c)
  }

  /** A vec element or map value as a [[ScalarType]] row. */
  private def scalar(v: PValue): InternalRow = {
    val c = new Array[Any](ScalarType.length)
    putScalar(c, 0, v)
    new GenericInternalRow(c)
  }

  /** A scalar's kind at `c(o)` and its value in the slot after it:
    * `b`, `i` (unsigned kinds as their raw bits), `d`, `s` or `bin`.
    */
  private def putScalar(c: Array[Any], o: Int, v: PValue): Unit = v match {
    case PBool(x)    => c(o) = KBool; c(o + 1) = x
    case PInt8(x)    => c(o) = KI8; c(o + 2) = x.toLong
    case PUInt8(x)   => c(o) = KU8; c(o + 2) = x.toLong
    case PInt16(x)   => c(o) = KI16; c(o + 2) = x.toLong
    case PUInt16(x)  => c(o) = KU16; c(o + 2) = x.toLong
    case PInt32(x)   => c(o) = KI32; c(o + 2) = x.toLong
    case PUInt32(x)  => c(o) = KU32; c(o + 2) = x
    case PInt64(x)   => c(o) = KI64; c(o + 2) = x
    case PUInt64(x)  => c(o) = KU64; c(o + 2) = x
    case PFloat32(x) => c(o) = KF32; c(o + 3) = x.toDouble
    case PFloat64(x) => c(o) = KF64; c(o + 3) = x
    case PString(x)  => c(o) = KString; c(o + 4) = utf8(x)
    case PBytes(x)   => c(o) = KBytes; c(o + 5) = x
    case other       =>
      throw new IllegalArgumentException(
        s"columnar bridge carries one level of Vec/Map nesting; got nested $other")
  }

  /** The `props` column of a written row -> feature props. */
  def propsOf(cells: ArrayData): Vector[(String, PValue)] =
    structs(cells, CellType.length) { c =>
      val kind = c.getUTF8String(1)
      c.getUTF8String(0).toString -> (
        if (kind == KVec) PVec(structs(c.getArray(slot(c, 7, kind)), ScalarType.length)(scalarOf(_, 0)))
        else if (kind == KMap) PMap(structs(c.getArray(slot(c, 8, kind)), 2) { e =>
          e.getUTF8String(0).toString -> scalarOf(e.getStruct(1, ScalarType.length), 0)
        })
        else scalarOf(c, 1))
    }

  private def structs[T](a: ArrayData, width: Int)(f: InternalRow => T): Vector[T] =
    Vector.tabulate(a.numElements())(j => f(a.getStruct(j, width)))

  /** Ordinal `i`, which must hold the value that `kind` names. */
  private def slot(r: InternalRow, i: Int, kind: UTF8String): Int = {
    require(!r.isNullAt(i), s"prop kind $kind without its value")
    i
  }

  /** The scalar whose `kind` is at ordinal `o`, its values following. */
  private def scalarOf(r: InternalRow, o: Int): PValue = {
    val kind = r.getUTF8String(o)
    def i = r.getLong(slot(r, o + 2, kind))
    def d = r.getDouble(slot(r, o + 3, kind))
    kind match {
      case KBool   => PBool(r.getBoolean(slot(r, o + 1, kind)))
      case KI8     => PInt8(i.toByte)
      case KU8     => PUInt8(i.toInt)
      case KI16    => PInt16(i.toShort)
      case KU16    => PUInt16(i.toInt)
      case KI32    => PInt32(i.toInt)
      case KU32    => PUInt32(i)
      case KI64    => PInt64(i)
      case KU64    => PUInt64(i)
      case KF32    => PFloat32(d.toFloat)
      case KF64    => PFloat64(d)
      case KString => PString(r.getUTF8String(slot(r, o + 4, kind)).toString)
      case KBytes  => PBytes(r.getBinary(slot(r, o + 5, kind)))
      case k       => throw new IllegalArgumentException(s"unknown prop kind $k")
    }
  }
}

package graft.sources.v2

import graft.codec.FeatureCodec.{Feature, PValue}
import graft.geom.{Envelope, Wkb}
import graft.sources.GeoJson
import graft.sources.GeoJsonIngest.{fromCell, toCell, PropCell, PropEntry, PropScalar}
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
  * `.as[Seq[PropCell]]` reads it back; values follow
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
        array(f.props.map { case (k, v) => catalyst(toCell(k, v)) })
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

  /** A PropCell/PropScalar/PropEntry tree as Catalyst values, fields in
    * declaration order (the order of [[CellType]]).
    */
  private def catalyst(v: Any): Any = v match {
    case None          => null
    case Some(x)       => catalyst(x)
    case s: String     => utf8(s)
    case xs: Seq[_]    => array(xs.map(catalyst))
    case p: Product    => new GenericInternalRow(p.productIterator.map(catalyst).toArray)
    case x             => x // Boolean, Long, Double, Array[Byte]
  }

  /** The `props` column of a written row -> feature props. */
  def propsOf(cells: ArrayData): Vector[(String, PValue)] =
    structs(cells, CellType.length) { c =>
      val s = scalarAt(c, 1)
      fromCell(PropCell(c.getUTF8String(0).toString, s.kind, s.b, s.i, s.d, s.s, s.bin,
        opt(c, 7)(i => structs(c.getArray(i), ScalarType.length)(scalarAt(_, 0))),
        opt(c, 8)(i => structs(c.getArray(i), 2) { e =>
          PropEntry(e.getUTF8String(0).toString, scalarAt(e.getStruct(1, ScalarType.length), 0))
        })))
    }

  private def structs[T](a: ArrayData, width: Int)(f: InternalRow => T): Vector[T] =
    Vector.tabulate(a.numElements())(j => f(a.getStruct(j, width)))

  private def opt[T](r: InternalRow, i: Int)(get: Int => T): Option[T] =
    if (r.isNullAt(i)) None else Some(get(i))

  /** The scalar whose `kind` is at ordinal `o`, its values following. */
  private def scalarAt(r: InternalRow, o: Int): PropScalar =
    PropScalar(r.getUTF8String(o).toString, opt(r, o + 1)(r.getBoolean),
      opt(r, o + 2)(r.getLong), opt(r, o + 3)(r.getDouble),
      opt(r, o + 4)(r.getUTF8String(_).toString), opt(r, o + 5)(r.getBinary))
}

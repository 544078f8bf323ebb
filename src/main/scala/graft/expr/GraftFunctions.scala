package graft.expr

import org.apache.spark.sql.{Column, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Catalyst-native spatial/codec function surface (SURVEY.md §2.12).
  *
  * Every function lowers to a [[StaticInvoke]] of a pure static method —
  * codegen-compatible (the generated code is a direct static call inside
  * WholeStageCodegen, no Scala-UDF serialization or row boxing). Methods
  * that return arrays/strings/structs go through [[Adapters]], which
  * produce Catalyst internal types (ArrayData / UTF8String / InternalRow;
  * a primitive array as an unboxed `UnsafeArrayData`).
  *
  * DSL entry points return [[Column]]s; [[GraftFunctions.register]] also
  * exposes them to SQL as `gm_*` / `st_*` names.
  */
object GraftFunctions {

  private def inv(
      cls: Class[_],
      dt: DataType,
      method: String,
      args: Seq[Expression],
      nullable: Boolean = false): Column =
    GraftSqlShim.column(
      StaticInvoke(cls, dt, method, args, inputTypes = Nil,
        propagateNull = true, returnNullable = nullable))

  // Spark 4 Columns wrap ColumnNodes; ExpressionUtils converts both ways.
  private def ex(c: Column): Expression = GraftSqlShim.expression(c)

  private val envStruct = StructType(Seq(
    StructField("min_lng", IntegerType, nullable = false),
    StructField("min_lat", IntegerType, nullable = false),
    StructField("max_lng", IntegerType, nullable = false),
    StructField("max_lat", IntegerType, nullable = false)))

  private def i(c: Column) = ex(c.cast(IntegerType))
  private def l(c: Column) = ex(c.cast(LongType))

  // --- coordinate codec (F8: truncating quantization) ----------------------

  /** scaled i32 -> degrees. */
  def stScaleDown(scaled: Column): Column =
    inv(Adapters.getClass, DoubleType, "scaleDown", Seq(i(scaled)))

  // --- geometry construction / inspection ---------------------------------

  def stPointWkb(lng: Column, lat: Column): Column =
    inv(Adapters.getClass, BinaryType, "pointWkb", Seq(i(lng), i(lat)))

  def stRectWkb(minLng: Column, minLat: Column, maxLng: Column, maxLat: Column): Column =
    inv(Adapters.getClass, BinaryType, "rectWkb", Seq(i(minLng), i(minLat), i(maxLng), i(maxLat)))

  /** bbox of any WKB geometry as struct(min_lng,min_lat,max_lng,max_lat). */
  def stEnvelope(wkb: Column): Column =
    inv(Adapters.getClass, envStruct, "envelope", Seq(ex(wkb)))

  /** Fused envelope of the interleaved table's geom span (hot ingest
    * path): one call instead of filter+element_at+unhex+envelope.
    * Nullable: rows without a geom span (or with malformed hex) yield
    * null, like the composed chain.
    */
  def gmSpanEnvelope(spans: Column): Column =
    inv(Adapters.getClass, envStruct, "spanEnvelope", Seq(ex(spans)), nullable = true)

  private val spanFeatStruct = StructType(Seq(
    StructField("wkb", BinaryType, nullable = false),
    StructField("min_lng", IntegerType, nullable = false),
    StructField("min_lat", IntegerType, nullable = false),
    StructField("max_lng", IntegerType, nullable = false),
    StructField("max_lat", IntegerType, nullable = false)))

  /** Fused geom-span parse (wkb + envelope from ONE hex decode) — the
    * ingest-path twin of [[gmSpanEnvelope]] for consumers that need both
    * the geometry bytes and the stat columns. Nullable like the chain.
    */
  def gmSpanFeature(spans: Column): Column =
    GraftSqlShim.column(OpaquePure(
      StaticInvoke(Adapters.getClass, spanFeatStruct, "spanFeature", Seq(ex(spans)),
        inputTypes = Nil, propagateNull = true, returnNullable = true)))

  def stAsText(wkb: Column): Column =
    inv(Adapters.getClass, StringType, "asText", Seq(ex(wkb)))

  /** Exact point-in-polygon (closed boundary) against a WKB geometry. */
  def stContains(polyWkb: Column, lng: Column, lat: Column): Column =
    inv(Adapters.getClass, BooleanType, "containsWkb", Seq(ex(polyWkb), i(lng), i(lat)))

  /** Closed-interval bbox intersection as a plain codegen'd conjunction —
    * deliberately NOT a black-box expression so Catalyst can push the four
    * comparisons into the Parquet scan (SURVEY.md §4 "predicate pushdown").
    */
  def stBBoxIntersects(
      aMinLng: Column, aMinLat: Column, aMaxLng: Column, aMaxLat: Column,
      bMinLng: Column, bMinLat: Column, bMaxLng: Column, bMaxLat: Column): Column =
    aMaxLng >= bMinLng && aMaxLat >= bMinLat && aMinLng <= bMaxLng && aMinLat <= bMaxLat

  // --- curve / cells -------------------------------------------------------

  /** Hilbert key of a point relative to a dataset extent (O2+O3). */
  def gmHilbert(lng: Column, lat: Column,
                extMinLng: Column, extMinLat: Column, extMaxLng: Column, extMaxLat: Column): Column =
    inv(Adapters.getClass, LongType, "hilbert",
      Seq(i(lng), i(lat), i(extMinLng), i(extMinLat), i(extMaxLng), i(extMaxLat)))

  /** Grid cell id at resolution res (H3/S2 analog, SURVEY.md §2.11). */
  def gmCell(lng: Column, lat: Column, res: Int): Column =
    inv(Adapters.getClass, LongType, "cellId", Seq(i(lng), i(lat), ex(lit(res))))

  /** All cells intersecting an envelope. */
  def gmCellCover(minLng: Column, minLat: Column, maxLng: Column, maxLat: Column, res: Int): Column =
    inv(Adapters.getClass, ArrayType(LongType, containsNull = false), "coverEnv",
      Seq(i(minLng), i(minLat), i(maxLng), i(maxLat), ex(lit(res))))

  /** Level-tagged cell keys of a point, one per level in `levels`,
    * coarsest first. The levels are lowered to one `Int` mask literal
    * ([[graft.curve.Cells.levelMask]]), so the kernel emits exactly those
    * keys as a primitive `UnsafeArrayData` and an `explode` of it stays in
    * whole-stage codegen (a higher-order `filter` over the keys would not).
    */
  def gmPointKeys(lng: Column, lat: Column, levels: Seq[Int]): Column =
    inv(Adapters.getClass, ArrayType(LongType, containsNull = false), "pointKeys",
      Seq(i(lng), i(lat), ex(lit(graft.curve.Cells.levelMask(levels)))))

  /** Level-tagged cell keys of an envelope at its own level (<= maxRes):
    * at most 4 (see [[graft.curve.Cells.coverKeys]]).
    */
  def gmCoverKeys(minLng: Column, minLat: Column, maxLng: Column, maxLat: Column, maxRes: Int): Column =
    inv(Adapters.getClass, ArrayType(LongType, containsNull = false), "coverKeysEnv",
      Seq(i(minLng), i(minLat), i(maxLng), i(maxLat), ex(lit(maxRes))))

  def gmTile(lng: Column, lat: Column, zoom: Int): Column =
    inv(Adapters.getClass, LongType, "cellId", Seq(i(lng), i(lat), ex(lit(zoom))))

  // --- broadcast packed R-tree probe ---------------------------------------

  /** Indices (payloadHi) of build-side rows whose envelope intersects the
    * probe envelope, via the packed R-tree serialized into `treeBytes`
    * (a literal: the build side is small / broadcast by construction).
    */
  def rtreeHits(treeBytes: Array[Byte], numLeaves: Long,
                minLng: Column, minLat: Column, maxLng: Column, maxLat: Column): Column =
    inv(Adapters.getClass, ArrayType(LongType, containsNull = false), "rtreeHits",
      Seq(ex(lit(treeBytes)), ex(lit(numLeaves)), i(minLng), i(minLat), i(maxLng), i(maxLat)))

  // --- compact codecs (delta + zigzag varint) ------------------------------

  def gmDzEncode(ints: Column): Column =
    inv(Adapters.getClass, BinaryType, "dzEncode", Seq(ex(ints)))

  def gmDzDecode(bytes: Column): Column =
    inv(Adapters.getClass, ArrayType(IntegerType, containsNull = false), "dzDecode", Seq(ex(bytes)))

  // --- WKT (F6) + bincode feature codec (F2) --------------------------------

  /** WKT text -> WKB (runtime analog of the reference's wkt! DSL). */
  def stGeomFromText(wkt: Column): Column =
    inv(Adapters.getClass, BinaryType, "wktToWkb", Seq(ex(wkt.cast(StringType))))

  private val featStruct = StructType(Seq(
    StructField("wkb", BinaryType, nullable = false),
    StructField("prop_keys", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("prop_vals", ArrayType(StringType, containsNull = false), nullable = false)))

  /** bincode(legacy fixint LE) feature bytes of a point + 1 string prop. */
  def gmEncodePointFeature(lng: Column, lat: Column, key: Column, value: Column): Column =
    inv(Adapters.getClass, BinaryType, "encodePointFeature",
      Seq(i(lng), i(lat), ex(key.cast(StringType)), ex(value.cast(StringType))))

  /** decode bincode feature bytes -> struct(wkb, prop_keys, prop_vals). */
  def gmDecodeFeature(bytes: Column): Column =
    inv(Adapters.getClass, featStruct, "decodeFeature", Seq(ex(bytes)))

  // --- Hilbert curve chunks (J6 range join) ---------------------------------

  /** Order-res Hilbert curve chunk of a point (world-extent curve). */
  def gmHilbertChunk(lng: Column, lat: Column, res: Int): Column =
    inv(Adapters.getClass, LongType, "hilbertChunk", Seq(i(lng), i(lat), ex(lit(res))))

  /** All order-res chunks intersecting an envelope (world-extent curve). */
  def gmHilbertChunksEnv(minLng: Column, minLat: Column, maxLng: Column, maxLat: Column, res: Int): Column =
    inv(Adapters.getClass, ArrayType(LongType, containsNull = false), "hilbertChunksEnv",
      Seq(i(minLng), i(minLat), i(maxLng), i(maxLat), ex(lit(res))))

  /** Range bucket against a DESC-sorted boundary literal: the number of
    * boundaries above `key` (the caller cuts the boundaries).
    */
  def gmRangeBucketDesc(key: Column, boundaries: Array[Long]): Column =
    inv(Adapters.getClass, IntegerType, "rangeBucketDesc",
      Seq(l(key), ex(lit(boundaries))))

  // --- text fingerprints ----------------------------------------------------

  def gmSimhash(tokens: Column): Column =
    inv(Adapters.getClass, LongType, "simhash", Seq(ex(tokens)))

  def gmFingerprint(text: Column): Column =
    inv(Adapters.getClass, LongType, "fingerprint", Seq(ex(text.cast(StringType))))

  def gmMinShingleFp(text: Column): Column =
    inv(Adapters.getClass, LongType, "minShingleFingerprint", Seq(ex(text.cast(StringType))))

  // --- SQL registration -----------------------------------------------------

  /** Register all functions for SQL use (`SELECT gm_cell(lng, lat, 6)`).
    *
    * Arguments are Cast to the static method's JVM signature exactly like
    * the DSL entry points do — without this, `gm_hilbert(bigint_col, ...)`
    * would reach StaticInvoke uncast and fail at runtime/codegen instead
    * of behaving like any built-in (no-op Casts are elided by the
    * optimizer's SimplifyCasts).
    */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val reg = spark.sessionState.functionRegistry
    def f(name: String, builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    def si(dt: DataType, m: String, inTypes: Seq[DataType])(args: Seq[Expression]) = {
      require(args.length == inTypes.length,
        s"$m expects ${inTypes.length} arguments, got ${args.length}")
      val cast = args.zip(inTypes).map { case (e, t) => Cast(e, t) }
      StaticInvoke(Adapters.getClass, dt, m, cast, Nil, propagateNull = true, returnNullable = false)
    }
    val I = IntegerType; val B = BinaryType

    f("st_scale_up", a => si(I, "scaleUp", Seq(DoubleType))(a))
    f("st_scale_down", a => si(DoubleType, "scaleDown", Seq(I))(a))
    f("st_point_wkb", a => si(B, "pointWkb", Seq(I, I))(a))
    f("st_rect_wkb", a => si(B, "rectWkb", Seq(I, I, I, I))(a))
    f("st_envelope", a => si(envStruct, "envelope", Seq(B))(a))
    f("st_astext", a => si(StringType, "asText", Seq(B))(a))
    f("st_contains", a => si(BooleanType, "containsWkb", Seq(B, I, I))(a))
    f("gm_hilbert", a => si(LongType, "hilbert", Seq(I, I, I, I, I, I))(a))
    f("gm_cell", a => si(LongType, "cellId", Seq(I, I, I))(a))
    f("gm_cell_cover", a => si(ArrayType(LongType, containsNull = false), "coverEnv", Seq(I, I, I, I, I))(a))
    f("gm_cell_cover_wkb", a => si(ArrayType(LongType, containsNull = false), "coverWkb", Seq(B, I))(a))
    f("gm_kring", a => si(ArrayType(LongType, containsNull = false), "kring", Seq(LongType, I, I))(a))
    f("gm_dz_encode", a => si(B, "dzEncode", Seq(ArrayType(IntegerType)))(a))
    f("gm_dz_decode", a => si(ArrayType(IntegerType, containsNull = false), "dzDecode", Seq(B))(a))
    f("gm_simhash", a => si(LongType, "simhash", Seq(ArrayType(StringType)))(a))
    f("gm_fingerprint", a => si(LongType, "fingerprint", Seq(StringType))(a))
    f("gm_min_shingle_fp", a => si(LongType, "minShingleFingerprint", Seq(StringType))(a))
    f("st_geomfromtext", a => si(B, "wktToWkb", Seq(StringType))(a))
    f("gm_encode_point_feature", a =>
      si(B, "encodePointFeature", Seq(I, I, StringType, StringType))(a))
    f("gm_decode_feature", a => si(featStruct, "decodeFeature", Seq(B))(a))
    f("gm_hilbert_chunk", a => si(LongType, "hilbertChunk", Seq(I, I, I))(a))
    f("gm_hilbert_chunks_env", a =>
      si(ArrayType(LongType, containsNull = false), "hilbertChunksEnv", Seq(I, I, I, I, I))(a))
  }
}

package graft.core

import org.apache.spark.sql.types._

/** Cross-engine UUID read compatibility.
  *
  * The reference stores UUID data columns as parquet
  * FIXED_LEN_BYTE_ARRAY(16) (ref: io/pyarrow.py UUID → fixed[16]); our
  * writer stores canonical strings (Spark's parquet writer cannot emit
  * fixed-length binary — documented deviation, core/Types.scala). Scans
  * must read BOTH: uuid leaves are requested as BINARY — parquet serves
  * fixed[16] and UTF8-annotated string columns alike — and the reader
  * (graft.spark.ParquetShape) renders them as canonical lowercase strings
  * by byte length (16 = fixed vector, otherwise UTF-8 text), in struct
  * members, list elements and map keys/values too. The public Spark type
  * for uuid stays StringType.
  */
object UuidCompat {

  def hasUuid(t: IceType): Boolean = t match {
    case IUUID => true
    case IStruct(fs) => fs.exists(f => hasUuid(f.fieldType))
    case IList(_, el, _) => hasUuid(el)
    case IMap(_, k, _, v, _) => hasUuid(k) || hasUuid(v)
    case _ => false
  }

  def hasUuid(s: Schema): Boolean = s.fields.exists(f => hasUuid(f.fieldType))

  /** v3 nanosecond timestamps take the same physical-read detour: parquet
    * TIMESTAMP(NANOS) columns are requested as LONG
    * (`spark.sql.legacy.parquet.nanosAsLong`) and floor-divided to the
    * microsecond domain right after the read — the reference's
    * ns→us downcast (io/pyarrow.py:1654). */
  def hasNs(t: IceType): Boolean = t match {
    case ITimestampNs | ITimestamptzNs => true
    case IStruct(fs) => fs.exists(f => hasNs(f.fieldType))
    case IList(_, el, _) => hasNs(el)
    case IMap(_, k, _, v, _) => hasNs(k) || hasNs(v)
    case _ => false
  }

  def hasNs(s: Schema): Boolean = s.fields.exists(f => hasNs(f.fieldType))

  /** Physical read type: uuid → BinaryType, ns timestamp → LongType,
    * recursing through structs and lists; everything else keeps its
    * public Spark mapping. */
  def readType(t: IceType): DataType = t match {
    case IUUID => BinaryType
    case ITimestampNs | ITimestamptzNs => LongType
    case IStruct(fs) => StructType(fs.map(readField))
    case IList(_, el, req) => ArrayType(readType(el), containsNull = !req)
    case IMap(_, k, _, v, req) =>
      MapType(readType(k), readType(v), valueContainsNull = !req)
    case other => other.toSpark
  }

  /** Like SchemaConv.toSparkField but with the physical uuid read type. */
  def readField(f: NestedField): StructField =
    SchemaConv.toSparkField(f).copy(dataType = readType(f.fieldType))

  def readSchema(s: Schema): StructType = StructType(s.fields.map(readField))
}

package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.meta.MetadataJson

/** DSv2 row reader for ORC data files (the reference reads ORC:
  * io/pyarrow.py:1119–1125). Columns resolve by
  * `iceberg.id` type attributes first (ORC_FIELD_ID_KEY
  * io/pyarrow.py:740), then the (name-mapped) name, at every nesting
  * level of structs, lists and maps; unresolved fields null-fill.
  * Decoding drives ORC's own vectorized RecordReader with a column
  * `include` mask (only requested columns are decompressed) and walks the
  * VectorizedRowBatch row-wise into InternalRow — the same
  * batch-decode/row-emit shape as GraftVectorizedRowReader, so it mixes
  * freely with the other row-mode readers in one scan.
  *
  * Row-level deletes apply regardless of data format, matching the
  * reference (io/pyarrow.py:1629 applies deletes before projection):
  * position deletes / deletion vectors resolve to a sorted skip array
  * walked against the absolute row index (ORC row iteration is strictly
  * sequential from row 0, so batch-base + in-batch offset IS the spec's
  * file position), and equality-delete key tuples probe the same per-JVM
  * [[DeleteIndex]] key sets as the parquet reader — both sides build
  * plain JVM forms (DeleteIndex.keyOf), so tuple equality is exact across
  * formats. */
class GraftOrcPartitionReader(path: String, schemaJson: String, limit: Long,
    conf: Configuration,
    deletes: Array[DeleteFileRef] = Array.empty,
    eqDeletes: Array[EqDeleteRef] = Array.empty, eqSchemaJson: String = "",
    emitPos: Boolean = false)
    extends PartitionReader[InternalRow] with HasRowPosition {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val schema: Schema = MetadataJson.schemaFromJson(mapper.readTree(schemaJson))
  private val eqSchema: Schema =
    if (eqDeletes.isEmpty) Schema(Nil)
    else MetadataJson.schemaFromJson(mapper.readTree(eqSchemaJson))

  private val reader = OrcFile.createReader(new Path(path),
    OrcFile.readerOptions(conf).useUTCTimestamp(true))
  private val fileSchema: TypeDescription = reader.getSchema
  require(fileSchema.getCategory == TypeDescription.Category.STRUCT,
    s"ORC file $path has a non-struct root schema")

  private val deleteTally = new DeleteIndex.Tally

  /** Sorted absolute row positions deleted by position files / DVs —
    * the same executor-side resolution as the parquet row reader. */
  private val deletedPositions: Array[Long] =
    DeleteIndex.positions(path, deletes, conf, deleteTally)

  /** (output index, root-child column index or None, type). */
  private case class FieldPlan(outIdx: Int, colIdx: Option[Int], t: IceType) {
    val read: (ColumnVector, Int) => Any =
      colIdx.map(c => converter(fileSchema.getChildren.get(c), t)).orNull
  }

  private def idOf(td: TypeDescription): Option[Int] =
    Option(td.getAttributeValue("iceberg.id"))
      .flatMap(v => scala.util.Try(v.toInt).toOption)

  /** id-first, name-fallback: root-child column index for an engine field. */
  private def resolveCol(id: Int, name: String): Option[Int] = childOf(fileSchema, id, name)

  /** id-first, name-fallback: index of a struct's child for an engine field. */
  private def childOf(struct: TypeDescription, id: Int, name: String): Option[Int] = {
    val names = struct.getFieldNames
    val children = struct.getChildren
    var hit = -1
    var nameHit = -1
    var c = 0
    while (c < names.size()) {
      if (idOf(children.get(c)).contains(id)) hit = c
      if (names.get(c) == name && nameHit < 0) nameHit = c
      c += 1
    }
    Some(if (hit >= 0) hit else nameHit).filter(_ >= 0)
  }

  private val plans: Seq[FieldPlan] = schema.fields.zipWithIndex.map { case (f, i) =>
    FieldPlan(i, resolveCol(f.id, f.name), f.fieldType)
  }

  /** equality-delete key fields resolved against THIS data file — read
    * (but not emitted) even when pruned out of the requested schema. */
  private case class EqField(colIdx: Option[Int], t: IceType)
  private val eqFieldById: Map[Int, EqField] =
    eqDeletes.flatMap(_.ids).distinct.toSeq.map { id =>
      val f = eqSchema.byId(id)
      id -> EqField(resolveCol(f.id, f.name), f.fieldType)
    }.toMap

  /** Key sets per distinct equality-id list, from the per-JVM index the
    * parquet reader shares. */
  private val eqKeySets: Seq[(Array[Int], java.util.Set[Seq[Any]])] =
    DeleteIndex.eqKeySets(eqDeletes, eqSchema, conf, deleteTally)

  private val rows = {
    // decompress only the requested subtrees (count-style scans keep just
    // the root: ORC row iteration needs no data column)
    val include = new Array[Boolean](fileSchema.getMaximumId + 1)
    include(0) = true
    (plans.flatMap(_.colIdx) ++ eqFieldById.values.flatMap(_.colIdx)).foreach { c =>
      val td = fileSchema.getChildren.get(c)
      (td.getId to td.getMaximumId).foreach(i => include(i) = true)
    }
    reader.rows(reader.options().include(include))
  }
  private val batch: VectorizedRowBatch = fileSchema.createRowBatch()
  private var batchPos = 0
  private var rowBase = 0L // absolute file position of the batch's row 0
  private var emitted = 0L
  private var delPtr = 0

  override def currentPosition: Long = rowBase + batchPos

  private def isEqDeleted(r: Int): Boolean = eqKeySets.nonEmpty && {
    eqKeySets.exists { case (ids, set) =>
      val key: Seq[Any] = ids.map { id =>
        val ef = eqFieldById(id)
        ef.colIdx.map(c => convertPlainAt(batch.cols(c), r, ef.t)).orNull
      }.toSeq
      set.contains(key)
    }
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      while (batchPos >= batch.size) {
        rowBase += batch.size
        if (!rows.nextBatch(batch)) return false
        batchPos = 0
      }
      val pos = rowBase + batchPos
      // skip position-deleted rows (sorted walk, O(1) amortized)
      while (delPtr < deletedPositions.length && deletedPositions(delPtr) < pos) delPtr += 1
      val posDeleted = delPtr < deletedPositions.length && deletedPositions(delPtr) == pos
      if (!posDeleted && !isEqDeleted(batchPos)) return true
      batchPos += 1
    }
    false
  }

  override def get(): InternalRow = {
    // `emitPos` appends the absolute file position as a trailing long
    val row = new GenericInternalRow(plans.size + (if (emitPos) 1 else 0))
    val r = batchPos
    plans.foreach { p =>
      p.colIdx match {
        case None => row.update(p.outIdx, null)
        case Some(c) => row.update(p.outIdx, p.read(batch.cols(c), r))
      }
    }
    if (emitPos) row.update(plans.size, rowBase + batchPos)
    batchPos += 1
    emitted += 1
    row
  }

  /** Reader of one column: nested structs, lists and maps resolve their
    * children by id, then by (name-mapped) name, at every level. */
  private def converter(td: TypeDescription, t: IceType): (ColumnVector, Int) => Any = {
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    def at(v: ColumnVector, r: Int): Int = if (v.isRepeating) 0 else r
    def isNull(v: ColumnVector, i: Int): Boolean = !v.noNulls && v.isNull(i)
    (td.getCategory, t) match {
      case (TypeDescription.Category.STRUCT, IStruct(fs)) =>
        val kids = fs.map(f => childOf(td, f.id, f.name)
          .map(c => (c, converter(td.getChildren.get(c), f.fieldType)))).toArray
        (v, r) => {
          val sv = v.asInstanceOf[StructColumnVector]
          val i = at(sv, r)
          if (isNull(sv, i)) null
          else new GenericInternalRow(kids.map {
            case Some((c, read)) => read(sv.fields(c), i)
            case None => null
          })
        }
      case (TypeDescription.Category.LIST, IList(_, el, _)) =>
        val read = converter(td.getChildren.get(0), el)
        (v, r) => {
          val lv = v.asInstanceOf[ListColumnVector]
          val i = at(lv, r)
          if (isNull(lv, i)) null
          else new GenericArrayData(Array.tabulate[Any](lv.lengths(i).toInt)(k =>
            read(lv.child, lv.offsets(i).toInt + k)))
        }
      case (TypeDescription.Category.MAP, IMap(_, kt, _, vt, _)) =>
        val (readK, readV) =
          (converter(td.getChildren.get(0), kt), converter(td.getChildren.get(1), vt))
        (v, r) => {
          val mv = v.asInstanceOf[MapColumnVector]
          val i = at(mv, r)
          if (isNull(mv, i)) null
          else {
            val (off, len) = (mv.offsets(i).toInt, mv.lengths(i).toInt)
            new ArrayBasedMapData(
              new GenericArrayData(Array.tabulate[Any](len)(k => readK(mv.keys, off + k))),
              new GenericArrayData(Array.tabulate[Any](len)(k => readV(mv.values, off + k))))
          }
        }
      case _ => (v, r) => convert(v, r, t)
    }
  }

  private def convert(v: ColumnVector, r: Int, t: IceType): Any = {
    val i = if (v.isRepeating) 0 else r
    if (!v.noNulls && v.isNull(i)) return null
    (v, t) match {
      case (lv: LongColumnVector, IBoolean) => lv.vector(i) != 0L
      case (lv: LongColumnVector, IInt | IDate) => lv.vector(i).toInt
      case (lv: LongColumnVector, ILong | ITime) => lv.vector(i)
      case (dv: DoubleColumnVector, IFloat) => dv.vector(i).toFloat
      case (dv: DoubleColumnVector, IDouble) => dv.vector(i)
      case (bv: BytesColumnVector, IString) =>
        UTF8String.fromBytes(bv.vector(i), bv.start(i), bv.length(i))
      case (bv: BytesColumnVector, IUUID) =>
        val b = java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i),
          bv.start(i) + bv.length(i))
        UTF8String.fromString(
          if (b.length == 16) Conversions.fromBytes(IUUID, b).toString
          else new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case (bv: BytesColumnVector, IBinary | IFixed(_)) =>
        java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i), bv.start(i) + bv.length(i))
      case (dv: DecimalColumnVector, IDecimal(p, s)) =>
        Decimal(dv.vector(i).getHiveDecimal.bigDecimalValue.setScale(s), p, s)
      case (tv: TimestampColumnVector, ITimestamp | ITimestamptz) =>
        // time = epoch millis, nanos = full nanos-of-second
        Math.floorDiv(tv.getTime(i), 1000L) * 1000000L + tv.getNanos(i) / 1000L
      case (lv: LongColumnVector, ITimestamp | ITimestamptz) => lv.vector(i)
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"DSv2 ORC reader: $other over ${v.getClass.getSimpleName}")
    }
  }

  /** Plain JVM forms matching DeleteIndex.keyOf (String,
    * boxed primitives, BigDecimal, byte Seq) — eq-delete tuples from the
    * parquet-written delete files compare against these exactly. */
  private def convertPlainAt(v: ColumnVector, r: Int, t: IceType): Any = {
    val i = if (v.isRepeating) 0 else r
    if (!v.noNulls && v.isNull(i)) return null
    (v, t) match {
      case (lv: LongColumnVector, IBoolean) => lv.vector(i) != 0L
      case (lv: LongColumnVector, IInt | IDate) => lv.vector(i).toInt
      case (lv: LongColumnVector, ILong | ITime | ITimestamp | ITimestamptz) => lv.vector(i)
      case (dv: DoubleColumnVector, IFloat) => dv.vector(i).toFloat
      case (dv: DoubleColumnVector, IDouble) => dv.vector(i)
      case (bv: BytesColumnVector, IString) =>
        new String(bv.vector(i), bv.start(i), bv.length(i),
          java.nio.charset.StandardCharsets.UTF_8)
      case (bv: BytesColumnVector, IUUID) =>
        val b = java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i),
          bv.start(i) + bv.length(i))
        if (b.length == 16) Conversions.fromBytes(IUUID, b).toString
        else new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case (bv: BytesColumnVector, IBinary | IFixed(_)) =>
        java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i),
          bv.start(i) + bv.length(i)).toSeq
      case (dv: DecimalColumnVector, IDecimal(_, s)) =>
        dv.vector(i).getHiveDecimal.bigDecimalValue.setScale(s)
      case (tv: TimestampColumnVector, ITimestamp | ITimestamptz) =>
        Math.floorDiv(tv.getTime(i), 1000L) * 1000000L + tv.getNanos(i) / 1000L
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"DSv2 ORC eq-delete key: $other over ${v.getClass.getSimpleName}")
    }
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.values(0L, deleteTally)

  override def close(): Unit = { rows.close(); reader.close() }
}

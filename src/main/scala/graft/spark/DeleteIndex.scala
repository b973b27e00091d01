package graft.spark

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.meta.{DataFile, Io}

/** The delete sources every reader in this JVM has decoded, each decoded
  * once: a parquet position-delete file as canonical data path → sorted,
  * distinct positions, a v3 deletion-vector blob as its positions, an
  * equality-delete file as its key set. Delete files are immutable, so a
  * source is keyed by its path and manifest `file_size_in_bytes` (plus the
  * blob offset of a DV, the key fields of an equality file); a file
  * rewritten at the same path with another size is decoded again. Values
  * are soft references, reclaimed under memory pressure and decoded again
  * on the next miss. Tasks that miss one source together wait for a
  * single decode (ref PyIceberg reads each delete file once per scan,
  * io/pyarrow.py:1722 _read_all_delete_files; here once per executor JVM,
  * across scans). */
object DeleteIndex {
  /** Test seam: delete sources decoded in this JVM. */
  val decoded = new AtomicLong(0L)

  /** One reader's count of the sources it decoded and of those it found
    * already decoded — its task metrics. */
  final class Tally { var decoded = 0L; var hits = 0L }

  private sealed trait Key
  private final case class PositionFile(path: String, size: Long) extends Key
  private final case class Blob(path: String, size: Long, offset: Long) extends Key
  /** the key fields' current types decide the decoded values (a promoted
    * int column reads as long) */
  private final case class EqualityFile(path: String, size: Long, ids: Seq[Int],
      types: Seq[IceType]) extends Key

  /** An entry's monitor: a miss decodes while holding it. */
  private final class Slot { var value: SoftReference[AnyRef] = _ }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** Drops every decoded source (a fresh executor JVM's state). */
  def clear(): Unit = slots.clear()

  private def lookup[V <: AnyRef](key: Key, tally: Tally)(decode: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      val cached = if (slot.value == null) null else slot.value.get()
      if (cached != null) { tally.hits += 1; cached.asInstanceOf[V] }
      else {
        val v = decode
        slot.value = new SoftReference[AnyRef](v)
        decoded.incrementAndGet()
        tally.decoded += 1
        v
      }
    }
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    if (a.length < 2) a
    else {
      var n = 1
      var i = 1
      while (i < a.length) { if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }; i += 1 }
      if (n == a.length) a else java.util.Arrays.copyOf(a, n)
    }
  }

  /** Sorted, distinct positions deleted from the data file at `dataPath`
    * by its position-delete files and deletion vectors. The array may be
    * shared with other readers: never written to. */
  def positions(dataPath: String, deletes: Array[DeleteFileRef], conf: Configuration,
      tally: Tally): Array[Long] = {
    if (deletes.isEmpty) return Array.emptyLongArray
    val me = PathUtil.canon(dataPath)
    val parts = deletes.map { d =>
      if (d.contentOffset >= 0L) blob(d, conf, tally)
      else wholeFile(d, conf, tally).getOrElse(me, Array.emptyLongArray)
    }
    if (parts.length == 1) parts.head else sortedDistinct(parts.flatten)
  }

  /** Every (canonical data path, position) that position-delete files
    * and DVs delete, as one (`path`, `pos`) frame decoded on executors
    * through the index: the driver neither lists the files nor infers a
    * schema. */
  def frame(spark: SparkSession, deletes: Seq[DataFile]): DataFrame =
    spark.createDataFrame(decode(spark, deletes).flatMap { case (p, a) =>
      a.iterator.map(p -> _) }).toDF("path", "pos")

  /** The canonical data paths `deletes` name, as a (`path`) frame: one
    * row per delete source and path, not per position. */
  def paths(spark: SparkSession, deletes: Seq[DataFile]): DataFrame =
    spark.createDataFrame(decode(spark, deletes).map(e => Tuple1(e._1))).toDF("path")

  /** Each source's (canonical data path → positions). A DV names its data
    * file only in its manifest entry, resolved as the planner does. */
  private def decode(spark: SparkSession,
      deletes: Seq[DataFile]): org.apache.spark.rdd.RDD[(String, Array[Long])] = {
    val sources = deletes.map { f =>
      val target = if (!f.isDeletionVector) null
        else PathUtil.canon(graft.table.IceScan.refPathOf(f).getOrElse(
          throw new IllegalStateException(s"Deletion vector ${f.filePath} names no data file")))
      (DeleteFileRef.of(f), target)
    }.distinct
    val ioEntries = Io.confEntries(spark) // executors lack the driver's confFactory
    val sc = spark.sparkContext
    sc.parallelize(sources, math.max(1, math.min(sources.size, sc.defaultParallelism)))
      .mapPartitions { it =>
        val (conf, tally) = (Io.confFrom(ioEntries), new Tally)
        it.flatMap { case (d, target) =>
          if (d.contentOffset >= 0L) Iterator(target -> blob(d, conf, tally))
          else wholeFile(d, conf, tally).iterator
        }
      }
  }

  private def blob(d: DeleteFileRef, conf: Configuration, tally: Tally): Array[Long] =
    lookup(Blob(d.path, d.fileSize, d.contentOffset), tally)(sortedDistinct(
      graft.meta.DeletionVector.readPositions(d.path, d.contentOffset, d.contentSize, conf)))

  private def wholeFile(d: DeleteFileRef, conf: Configuration,
      tally: Tally): Map[String, Array[Long]] =
    lookup(PositionFile(d.path, d.fileSize), tally)(positionFile(d.path, conf))

  private val PositionSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** A whole position-delete file, decoded as columns. Stored paths are
    * canonicalized, so a foreign writer's equivalent path form (`file:`
    * URIs) still meets the data file it names; rows are sorted by path,
    * so each path is canonicalized once. */
  private def positionFile(path: String, conf: Configuration): Map[String, Array[Long]] = {
    val byPath = mutable.HashMap[String, mutable.ArrayBuilder.ofLong]()
    val reader = new ParquetFile(path, new Configuration(conf))
      .open(PositionSchema, rowMode = false, byName = true, filter = None)
    try {
      var stored: UTF8String = null
      var out: mutable.ArrayBuilder.ofLong = null
      while (reader.nextBatch()) {
        val batch = reader.resultBatch()
        val (paths, pos) = (batch.column(0), batch.column(1))
        var i = 0
        while (i < batch.numRows()) {
          val p = paths.getUTF8String(i)
          if (stored == null || p != stored) {
            stored = p.copy()
            out = byPath.getOrElseUpdate(PathUtil.canon(p.toString),
              new mutable.ArrayBuilder.ofLong)
          }
          out += pos.getLong(i)
          i += 1
        }
      }
    } finally reader.close()
    byPath.iterator.map { case (p, b) => p -> sortedDistinct(b.result()) }.toMap
  }

  /** One hash set of key tuples per distinct equality-id list, over every
    * equality-delete file of the data file. Iceberg equality is null-safe
    * (a null key deletes null rows), which Seq equality gives directly.
    * The sets may be shared with other readers: never written to. */
  def eqKeySets(eqDeletes: Array[EqDeleteRef], eqSchema: Schema, conf: Configuration,
      tally: Tally): Seq[(Array[Int], java.util.Set[Seq[Any]])] =
    eqDeletes.groupBy(_.ids.toSeq).toSeq.map { case (idSeq, refs) =>
      val ids = idSeq.toArray
      val types = ids.map(eqSchema.byId(_).fieldType)
      val sets = refs.map(r => r.path -> r.fileSize).distinct.map { case (path, size) =>
        lookup(EqualityFile(path, size, idSeq, types.toSeq), tally)(
          equalityFile(path, ids, eqSchema, conf))
      }
      (ids, if (sets.length == 1) sets.head
        else { val all = new java.util.HashSet[Seq[Any]](); sets.foreach(all.addAll); all })
    }

  /** id-first, name-fallback resolution of an engine field to a file
    * column (rename safety; id-less foreign files match by name). */
  private def resolveIn(mt: MessageType, id: Int, name: String): Option[String] = {
    val byId = mt.getFields.asScala.find(ft => ft.getId != null && ft.getId.intValue() == id)
    byId.orElse(mt.getFields.asScala.find(_.getName == name)).map(_.getName)
  }

  /** The key tuples of one equality-delete file, decoded as columns. A key
    * field the file lacks is null in every tuple. */
  private def equalityFile(path: String, ids: Array[Int], eqSchema: Schema,
      conf: Configuration): java.util.HashSet[Seq[Any]] = {
    val file = new ParquetFile(path, new Configuration(conf))
    val names = ids.map(id => resolveIn(file.schema, id, eqSchema.byId(id).name))
    val stored = names.flatten.distinct
    val typeOf = ids.zip(names).collect { case (id, Some(n)) => n -> eqSchema.byId(id).fieldType }
      .toMap
    val ordinals = names.map(_.map(stored.indexOf(_)).getOrElse(-1))
    val types = ids.map(eqSchema.byId(_).fieldType)
    val reader = file.open(
      StructType(stored.map(n => StructField(n, UuidCompat.readType(typeOf(n))))),
      rowMode = true, byName = true, filter = None)
    val set = new java.util.HashSet[Seq[Any]]()
    try {
      while (reader.nextKeyValue()) {
        val row = reader.getCurrentValue.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        set.add(keyOf(row, ordinals, types))
      }
    } finally reader.close()
    set
  }

  /** A key tuple from a decoded row: `ordinals(k) < 0` is a key field the
    * file lacks. Data rows and delete files build their tuples here, so
    * tuple equality is exact. */
  def keyOf(row: SpecializedGetters, ordinals: Array[Int], types: Array[IceType]): Seq[Any] =
    ordinals.indices.map(k =>
      if (ordinals(k) < 0) null else plainValue(row, ordinals(k), types(k)))

  /** Plain JVM value (String, boxed primitive, BigDecimal, byte Seq) of a
    * decoded column; uuids decode as binary and compare as their canonical
    * strings. */
  private def plainValue(row: SpecializedGetters, ord: Int, t: IceType): Any = {
    if (row.isNullAt(ord)) return null
    t match {
      case IBoolean => row.getBoolean(ord)
      case IInt | IDate => row.getInt(ord)
      case ILong | ITime | ITimestamp | ITimestamptz => row.getLong(ord)
      case IFloat => row.getFloat(ord)
      case IDouble => row.getDouble(ord)
      case IString => row.getUTF8String(ord).toString
      case IUUID => ParquetShape.fixOf(IUUID).get(row.getBinary(ord)).toString
      case IBinary | IFixed(_) => row.getBinary(ord).toSeq
      case IDecimal(p, s) => row.getDecimal(ord, p, s).toJavaBigDecimal
      case other => throw new UnsupportedOperationException(s"equality-delete key: $other")
    }
  }
}

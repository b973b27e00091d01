package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core._
import graft.meta._

/** Planning latency at metadata scale (ref: the reference's own planning
  * benchmark, tests/benchmark/test_partition_evaluator_benchmark.py:38).
  *
  * Synthesizes a table with 100,000 data files across 10,000 daily
  * partitions in 200 manifests — metadata only, no parquet — and gates
  * `planFiles()` wall time. This is the size the distributed planning
  * threshold (>64 manifests → Spark-job pruning with stats stripped
  * before the driver collect) exists for; a regression that serializes
  * manifest reads on the driver or ships column stats back fails the
  * wall-time bound long before it fails correctness.
  */
class PlanScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("graft-planscale").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def afterAll(): Unit = spark.stop()

  private val Manifests = 200
  private val DaysPerManifest = 50 // 10k partitions total
  private val FilesPerDay = 10 // 100k files total
  private val Day0 = 10000 // epoch-day origin of the synthetic range

  test("planFiles at 100k files / 10k partitions: pruned plan is manifest-bounded") {
    val schema = Schema(Seq(
      NestedField(1, "id", ILong, required = true),
      NestedField(2, "d", IDate, required = true)), 0)
    val spec = PartitionSpec.build(schema, 0, ("d", IdentityTransform, "d"))
    val t = catalog.createTable("planscale", schema, spec)
    val metaDir = s"${t.metadata.location}/metadata"

    // 200 manifests x 50 days x 10 files — written directly (the point is
    // planning cost, not write cost)
    val manifests: Seq[ManifestFile] = (0 until Manifests).map { m =>
      val d0 = Day0 + m * DaysPerManifest
      val entries = for {
        day <- d0 until d0 + DaysPerManifest
        f <- 0 until FilesPerDay
      } yield ManifestEntry(status = 1, snapshotId = 1L,
        dataSequenceNumber = 1L, fileSequenceNumber = 1L,
        dataFile = DataFile(content = 0,
          filePath = s"$warehouse/planscale/data/d=$day/f-$f.parquet",
          fileFormat = "PARQUET", partition = Seq(day),
          recordCount = 1000L, fileSizeInBytes = 1000000L))
      val path = s"$metaDir/m-scale-$m.avro"
      val len = ManifestIO.writeManifest(path, entries, spec, schema)
      ManifestFile(path, len, spec.specId, content = 0,
        sequenceNumber = 1L, minSequenceNumber = 1L, addedSnapshotId = 1L,
        addedFilesCount = entries.size, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = entries.size * 1000L, existingRowsCount = 0L, deletedRowsCount = 0L,
        partitions = Seq(FieldSummary(containsNull = false, Some(false),
          Some(Conversions.toBytes(IDate, d0)),
          Some(Conversions.toBytes(IDate, d0 + DaysPerManifest - 1)))))
    }
    val listPath = s"$metaDir/snap-1-scale.avro"
    ManifestIO.writeManifestList(listPath, manifests)
    val now = System.currentTimeMillis()
    val snap = Snapshot(1L, None, 1L, now, listPath,
      Map("operation" -> "append"), t.metadata.currentSchemaId)
    catalog.commit("planscale", 1, t.metadata.copy(
      lastSequenceNumber = 1L, lastUpdatedMs = now,
      currentSnapshotId = Some(1L), snapshots = Seq(snap),
      refs = Map("main" -> SnapshotRef(1L, "branch"))))

    val table = catalog.loadTable("planscale")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // one-partition filter: manifest-list summaries prune 199/200
    // manifests BEFORE any manifest is opened; wall time must reflect
    // that (one manifest read, 10 surviving tasks)
    val day = Day0 + 137 * DaysPerManifest + 7
    val date = java.time.LocalDate.ofEpochDay(day).toString
    val (pruned, prunedSec) = timed(table.scan(s"d = '$date'").planFiles())
    assert(pruned.size === FilesPerDay)
    assert(prunedSec < 10.0,
      f"pruned plan took $prunedSec%.1fs — manifest-list pruning regressed")

    // full plan: all 200 manifests, 100k tasks — must stay distributed
    // and stats-stripped (driver result ∝ file count)
    val (all, fullSec) = timed(table.scan.planFiles())
    assert(all.size === Manifests * DaysPerManifest * FilesPerDay)
    assert(fullSec < 60.0,
      f"full plan took $fullSec%.1fs at 100k files — planning path regressed")

    // range filter across 10 manifests: intermediate selectivity
    val d1 = java.time.LocalDate.ofEpochDay(Day0 + 10 * DaysPerManifest).toString
    val d2 = java.time.LocalDate.ofEpochDay(Day0 + 20 * DaysPerManifest - 1).toString
    val (range, rangeSec) = timed(
      table.scan(s"d >= '$d1' and d <= '$d2'").planFiles())
    assert(range.size === 10 * DaysPerManifest * FilesPerDay)
    assert(rangeSec < 30.0, f"range plan took $rangeSec%.1fs")

    info(f"planFiles: pruned=$prunedSec%.2fs full=$fullSec%.2fs range=$rangeSec%.2fs")
  }

  test("MoR planning: delete manifests are pruned by the manifest evaluator " +
      "and opened in the shared job") {
    // 100 data manifests (50 days x 10 files each) + 1,000 delete manifests
    // (10 days each) over the same 5,000-day range. A one-day filter must
    // open exactly ONE data manifest and ONE delete manifest — before r9,
    // every delete manifest was opened sequentially on the driver
    // (VERDICT r8 W1; the reference prunes ALL manifests through
    // manifest_evaluators, table/__init__.py:2596-2598).
    val DataManifests = 100
    val DeleteManifests = 1000
    val Days = DataManifests * DaysPerManifest // 5,000
    val schema = Schema(Seq(
      NestedField(1, "id", ILong, required = true),
      NestedField(2, "d", IDate, required = true)), 0)
    val spec = PartitionSpec.build(schema, 0, ("d", IdentityTransform, "d"))
    val t = catalog.createTable("planscale_mor", schema, spec)
    val metaDir = s"${t.metadata.location}/metadata"

    def summary(lo: Int, hi: Int) = Seq(FieldSummary(containsNull = false, Some(false),
      Some(Conversions.toBytes(IDate, lo)), Some(Conversions.toBytes(IDate, hi))))

    val dataManifests: Seq[ManifestFile] = (0 until DataManifests).map { m =>
      val d0 = Day0 + m * DaysPerManifest
      val entries = for {
        day <- d0 until d0 + DaysPerManifest
        f <- 0 until FilesPerDay
      } yield ManifestEntry(status = 1, snapshotId = 1L,
        dataSequenceNumber = 1L, fileSequenceNumber = 1L,
        dataFile = DataFile(content = 0,
          filePath = s"$warehouse/planscale_mor/data/d=$day/f-$f.parquet",
          fileFormat = "PARQUET", partition = Seq(day),
          recordCount = 1000L, fileSizeInBytes = 1000000L))
      val path = s"$metaDir/m-data-$m.avro"
      val len = ManifestIO.writeManifest(path, entries, spec, schema)
      ManifestFile(path, len, spec.specId, content = 0,
        sequenceNumber = 1L, minSequenceNumber = 1L, addedSnapshotId = 1L,
        addedFilesCount = entries.size, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = entries.size * 1000L, existingRowsCount = 0L, deletedRowsCount = 0L,
        partitions = summary(d0, d0 + DaysPerManifest - 1))
    }
    val DaysPerDelete = Days / DeleteManifests // 5
    val deleteManifests: Seq[ManifestFile] = (0 until DeleteManifests).map { m =>
      val d0 = Day0 + m * DaysPerDelete
      val entries = (d0 until d0 + DaysPerDelete).map { day =>
        ManifestEntry(status = 1, snapshotId = 2L,
          dataSequenceNumber = 2L, fileSequenceNumber = 2L,
          dataFile = DataFile(content = 1,
            filePath = s"$warehouse/planscale_mor/data/d=$day/del-$m.parquet",
            fileFormat = "PARQUET", partition = Seq(day),
            recordCount = 10L, fileSizeInBytes = 1000L))
      }
      val path = s"$metaDir/m-del-$m.avro"
      val len = ManifestIO.writeManifest(path, entries, spec, schema)
      ManifestFile(path, len, spec.specId, content = 1,
        sequenceNumber = 2L, minSequenceNumber = 2L, addedSnapshotId = 2L,
        addedFilesCount = entries.size, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = 0L, existingRowsCount = 0L, deletedRowsCount = 0L,
        partitions = summary(d0, d0 + DaysPerDelete - 1))
    }
    val listPath = s"$metaDir/snap-2-mor.avro"
    ManifestIO.writeManifestList(listPath, dataManifests ++ deleteManifests)
    val now = System.currentTimeMillis()
    val snap = Snapshot(2L, None, 2L, now, listPath,
      Map("operation" -> "overwrite"), t.metadata.currentSchemaId)
    catalog.commit("planscale_mor", 1, t.metadata.copy(
      lastSequenceNumber = 2L, lastUpdatedMs = now,
      currentSnapshotId = Some(2L), snapshots = Seq(snap),
      refs = Map("main" -> SnapshotRef(2L, "branch"))))

    val table = catalog.loadTable("planscale_mor")
    val day = Day0 + 1234
    val date = java.time.LocalDate.ofEpochDay(day).toString

    val before = ManifestIO.manifestOpens.get()
    val t0 = System.nanoTime()
    val tasks = table.scan(s"d = '$date'").planFiles()
    val sec = (System.nanoTime() - t0) / 1e9
    val opens = ManifestIO.manifestOpens.get() - before

    assert(tasks.size === FilesPerDay)
    // every surviving data file carries exactly its day's delete file
    assert(tasks.forall(_.deletes.size == 1))
    assert(tasks.forall(_.deletes.head.filePath.contains(s"d=$day/")))
    assert(opens === 2L,
      s"one-day MoR plan opened $opens manifests — expected 1 data + 1 delete " +
        "(delete-manifest pruning regressed)")
    assert(sec < 10.0, f"one-day MoR plan took $sec%.1fs")

    // full plan exercises the distributed branch with BOTH kinds in one
    // job; the one-day plan's 2 manifests are already cache-served
    val b2 = ManifestIO.manifestOpens.get()
    val t1 = System.nanoTime()
    val all = table.scan.planFiles()
    val fullSec = (System.nanoTime() - t1) / 1e9
    assert(ManifestIO.manifestOpens.get() - b2 ===
      (DataManifests + DeleteManifests).toLong - 2L)
    assert(all.size === DataManifests * DaysPerManifest * FilesPerDay)
    assert(all.forall(_.deletes.size == 1))
    assert(fullSec < 90.0, f"full MoR plan took $fullSec%.1fs")

    // manifest cache: a REPEAT of the same walk decodes NOTHING — every
    // manifest of this immutable forest is served from the entry LRU,
    // and the manifest LIST itself from the list LRU (zero avro IO)
    val b3 = ManifestIO.manifestOpens.get()
    val bl3 = ManifestIO.manifestListOpens.get()
    val t2 = System.nanoTime()
    val again = table.scan.planFiles()
    val cachedSec = (System.nanoTime() - t2) / 1e9
    assert(again.size === all.size)
    assert(ManifestIO.manifestOpens.get() - b3 === 0L,
      "a repeated full plan over an unchanged table must open ZERO manifests")
    assert(ManifestIO.manifestListOpens.get() - bl3 === 0L,
      "a repeated full plan over an unchanged table must re-read ZERO manifest lists")
    // cache disabled (0, the reference's manifest-cache-size semantics):
    // the same walk decodes everything again
    graft.meta.ManifestIO.setManifestCacheSize(0L)
    try {
      val b4 = ManifestIO.manifestOpens.get()
      val bl4 = ManifestIO.manifestListOpens.get()
      table.scan(s"d = '$date'").planFiles()
      assert(ManifestIO.manifestOpens.get() - b4 === 2L,
        "manifest-cache-size=0 must disable caching")
      assert(ManifestIO.manifestListOpens.get() - bl4 === 1L,
        "manifest-cache-size=0 must disable list caching too")
    } finally graft.meta.ManifestIO.setManifestCacheSize(
      graft.meta.ManifestIO.DefaultManifestCacheEntries)
    info(f"MoR planFiles: one-day=$sec%.2fs (opens=$opens) " +
      f"full=$fullSec%.2fs cached=$cachedSec%.2fs")
  }

  test("CDC pruning at 100k files: candidate sets exact, planning bounded") {
    // the file-pruned lineage diff's driver-side pruning must stay
    // metadata-proportional: 100k cursor files + a 100-file append →
    // changedTasks = exactly the appended files, NO delete candidates
    // (nothing removed or re-masked), and the whole pruning pass inside
    // the wall-time bound of two metadata plans
    val schema = Schema(Seq(
      NestedField(1, "id", ILong, required = true),
      NestedField(2, "d", IDate, required = true)), 0)
    val spec = PartitionSpec.build(schema, 0, ("d", IdentityTransform, "d"))
    val t = catalog.createTable("cdcscale", schema, spec)
    val metaDir = s"${t.metadata.location}/metadata"
    def mkManifest(m: Int, days: Int, seq: Long, snapId: Long): ManifestFile = {
      val d0 = Day0 + m * days
      val entries = for {
        day <- d0 until d0 + days
        f <- 0 until FilesPerDay
      } yield ManifestEntry(status = 1, snapshotId = snapId,
        dataSequenceNumber = seq, fileSequenceNumber = seq,
        dataFile = DataFile(content = 0,
          filePath = s"$warehouse/cdcscale/data/d=$day/s$snapId-f-$f.parquet",
          fileFormat = "PARQUET", partition = Seq(day),
          recordCount = 1000L, fileSizeInBytes = 1000000L,
          firstRowId = Some((m.toLong * days + day - d0) * FilesPerDay * 1000L)))
      val path = s"$metaDir/m-cdc-$snapId-$m.avro"
      val len = ManifestIO.writeManifest(path, entries, spec, schema)
      ManifestFile(path, len, spec.specId, content = 0,
        sequenceNumber = seq, minSequenceNumber = seq, addedSnapshotId = snapId,
        addedFilesCount = entries.size, existingFilesCount = 0, deletedFilesCount = 0,
        addedRowsCount = entries.size * 1000L, existingRowsCount = 0L,
        deletedRowsCount = 0L,
        partitions = Seq(FieldSummary(containsNull = false, Some(false),
          Some(Conversions.toBytes(IDate, d0)),
          Some(Conversions.toBytes(IDate, d0 + days - 1)))))
    }
    val corpusManifests = (0 until Manifests).map(mkManifest(_, DaysPerManifest, 1L, 1L))
    val list1 = s"$metaDir/snap-1-cdc.avro"
    ManifestIO.writeManifestList(list1, corpusManifests)
    // snapshot 2 appends ONE manifest of 100 files past the corpus range
    val added = mkManifest(Manifests + 1, 10, 2L, 2L)
    val list2 = s"$metaDir/snap-2-cdc.avro"
    ManifestIO.writeManifestList(list2, corpusManifests :+ added)
    val now = System.currentTimeMillis()
    val s1 = Snapshot(1L, None, 1L, now, list1,
      Map("operation" -> "append"), t.metadata.currentSchemaId,
      firstRowId = Some(0L), addedRows = Some(100000000L))
    val s2 = Snapshot(2L, Some(1L), 2L, now + 1, list2,
      Map("operation" -> "append"), t.metadata.currentSchemaId,
      firstRowId = Some(100000000L), addedRows = Some(100000L))
    catalog.commit("cdcscale", 1, t.metadata.copy(
      lastSequenceNumber = 2L, lastUpdatedMs = now,
      currentSnapshotId = Some(2L), snapshots = Seq(s1, s2),
      refs = Map("main" -> SnapshotRef(2L, "branch"))))
    val table = catalog.loadTable("cdcscale")

    val t0 = System.nanoTime()
    val plan = graft.streaming.TableChanges.prunedDiffTasks(table, 1L, 2L, 1L)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(plan.beforeTasks.size === Manifests * DaysPerManifest * FilesPerDay)
    assert(plan.changedTasks.size === 10 * FilesPerDay,
      s"change set must be exactly the appended files, got ${plan.changedTasks.size}")
    assert(plan.changedTasks.forall(_.file.filePath.contains("/s2-")))
    assert(plan.deleteCandCount === 0,
      "append-only churn must produce ZERO cursor-side delete candidates")
    assert(plan.curCand.size === 10 * FilesPerDay)
    assert(sec < 90.0, f"CDC pruning took $sec%.1fs at 100k files")

    // a SECOND poll over the unchanged table plans both snapshots
    // entirely from the manifest cache: zero manifest decodes
    val b = ManifestIO.manifestOpens.get()
    val t1 = System.nanoTime()
    val plan2 = graft.streaming.TableChanges.prunedDiffTasks(table, 1L, 2L, 1L)
    val sec2 = (System.nanoTime() - t1) / 1e9
    assert(plan2.changedTasks.size === plan.changedTasks.size &&
      plan2.deleteCandCount === 0)
    assert(ManifestIO.manifestOpens.get() - b === 0L,
      "a repeated CDC poll over an unchanged table must open ZERO manifests")
    info(f"prunedDiffTasks at 100k files: $sec%.2fs cold, $sec2%.2fs cached")
  }

  test("metadata parse cache: refresh costs a pointer probe, drop invalidates") {
    val spark2 = spark
    import spark2.implicits._
    catalog.createTable("metacache_t", Schema(Seq(
      NestedField(1, "id", ILong), NestedField(2, "v", IString))))
    val t = catalog.loadTable("metacache_t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    // version files are write-once: a second load of the SAME version must
    // be parse-free (this is what a steady streaming refresh() pays)
    catalog.loadTable("metacache_t")
    val p0 = MetadataCache.parses.get()
    val h0 = MetadataCache.hits.get()
    t.refresh(); t.refresh(); t.refresh()
    assert(MetadataCache.parses.get() - p0 === 0L,
      "refresh of an unchanged table must not re-parse metadata JSON")
    assert(MetadataCache.hits.get() - h0 === 3L)

    // a commit advances the pointer to a NEW path → exactly one new parse
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val p1 = MetadataCache.parses.get()
    t.refresh()
    assert(MetadataCache.parses.get() - p1 === 1L)

    // drop + recreate reuses HadoopCatalog's deterministic v<N> paths —
    // the recreated table must NOT be served the dropped table's metadata
    val uuid1 = t.metadata.tableUuid
    catalog.dropTable("metacache_t")
    catalog.createTable("metacache_t", Schema(Seq(
      NestedField(1, "id", ILong))))
    val t2 = catalog.loadTable("metacache_t")
    assert(t2.metadata.tableUuid !== uuid1,
      "recreated table served STALE cached metadata")
    assert(t2.schema.fields.map(_.name) === Seq("id"))

    // the kill switch disables this cache too
    graft.meta.ManifestIO.setManifestCacheSize(0L)
    try {
      graft.meta.ManifestIO.clearManifestCache()
      val p2 = MetadataCache.parses.get()
      t2.refresh(); t2.refresh()
      assert(MetadataCache.parses.get() - p2 === 2L,
        "manifest-cache-size=0 must disable metadata parse caching")
    } finally graft.meta.ManifestIO.setManifestCacheSize(
      graft.meta.ManifestIO.DefaultManifestCacheEntries)
  }
}

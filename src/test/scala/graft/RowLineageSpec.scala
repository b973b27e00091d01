package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core._
import graft.meta._

/** v3 row lineage (spec §Row Lineage; manifest fields 142/520) — an
  * EXTENSION beyond the reference, which declares the fields
  * (manifest.py:406, :771) but neither assigns nor surfaces them.
  * Commits assign each new data manifest a first_row_id range off
  * next-row-id; reads inherit per-file ids; manifest rewrites/merges
  * materialize explicit ids so they survive metadata maintenance; the
  * scan face serves _row_id = first_row_id + position and
  * _last_updated_sequence_number. Copy-on-write rewrites (compaction,
  * CoW delete, z-order) MATERIALIZE the reserved lineage columns into the
  * rewritten parquet (spec's rewrite rule); the scan prefers a non-null
  * materialized value over inheritance, so ids are stable across file
  * rewrites. */
class RowLineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("graft-lineage").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def afterAll(): Unit = spark.stop()

  def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def lineageMap(t: graft.table.IceTable): Map[Long, Long] =
    t.scan.toDFWithLineage.select(col("o_orderkey"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends assign dense unique ids and advance next-row-id") {
    val t0 = catalog.createTable("lin_append", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_append")
    t.append(orders.limit(100))
    t.append(orders.filter(col("o_orderkey") >= 1000).limit(50))

    val df = catalog.loadTable("lin_append").scan.toDFWithLineage
    val ids = df.select("_row_id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 150)
    assert(ids.toSeq === (0L until 150L), "ids must be dense [0, total)")
    assert(catalog.loadTable("lin_append").metadata.nextRowId === Some(150L))
    // sequence numbers: first append seq=1, second seq=2
    val seqs = df.select("_last_updated_sequence_number").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq === Seq(1L, 2L))
  }

  test("MoR deletion vectors preserve surviving rows' ids") {
    val t0 = catalog.createTable("lin_mor", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_mor")
    t.append(orders.limit(200))
    val before = lineageMap(catalog.loadTable("lin_mor"))
    t.deleteAsDeletionVector("o_orderkey <= 60")
    val after = lineageMap(catalog.loadTable("lin_mor"))
    assert(after.nonEmpty && after.size < before.size)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"row $k changed _row_id across a MoR delete")
    }
  }

  test("ids survive manifest rewrite (explicit materialization)") {
    val t0 = catalog.createTable("lin_rewrite", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_rewrite")
    (1 to 4).foreach(i => t.append(orders.limit(50 * i)))
    val before = t.scan.toDFWithLineage
      .groupBy().agg(sum("_row_id"), count(lit(1))).head
    val (rewritten, _) = t.rewriteManifests(Some(1L << 20))
    assert(rewritten > 0, "rewrite must actually merge manifests")
    val t2 = catalog.loadTable("lin_rewrite")
    val after = t2.scan.toDFWithLineage
      .groupBy().agg(sum("_row_id"), count(lit(1))).head
    assert(after.getLong(0) === before.getLong(0))
    assert(after.getLong(1) === before.getLong(1))
    // the rewritten manifests carry EXPLICIT per-file ids
    val mfs = ManifestIO.readManifestList(t2.metadata.currentSnapshot.get.manifestList)
    val entries = mfs.filter(_.content == 0).flatMap(mf =>
      ManifestIO.readManifest(mf.manifestPath, t2.metadata.specById(mf.partitionSpecId),
        t2.metadata.schema))
    assert(entries.forall(_.dataFile.firstRowId.isDefined))
  }

  test("ids survive copy-on-write compaction (materialized lineage columns)") {
    val t0 = catalog.createTable("lin_compact", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_compact")
    (1 to 3).foreach(i => t.append(
      orders.filter(col("o_orderkey") < 600 && col("o_orderkey") % 3 === i - 1).limit(60)))
    val before = lineageMap(catalog.loadTable("lin_compact"))
    val beforeSeqs = catalog.loadTable("lin_compact").scan.toDFWithLineage
      .select(col("o_orderkey"), col("_last_updated_sequence_number"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (rewritten, addedN) = t.rewriteDataFiles()
    assert(rewritten === 3 && addedN > 0, "compaction must actually rewrite")
    val t2 = catalog.loadTable("lin_compact")
    val after = lineageMap(t2)
    assert(after.keySet === before.keySet)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"row $k changed _row_id across compaction") }
    // _last_updated_sequence_number also survives: compaction does not
    // UPDATE rows, it moves them
    val afterSeqs = t2.scan.toDFWithLineage
      .select(col("o_orderkey"), col("_last_updated_sequence_number"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    afterSeqs.foreach { case (k, s) => assert(beforeSeqs(k) === s) }
    // a SECOND compaction over already-materialized files stays id-stable
    // (materialized values take precedence over re-inheritance)
    t2.append(orders.filter(col("o_orderkey") >= 1400).limit(5))
    val (r2, _) = catalog.loadTable("lin_compact").rewriteDataFiles(1L << 30)
    assert(r2 > 0)
    val third = lineageMap(catalog.loadTable("lin_compact"))
    after.foreach { case (k, id) =>
      assert(third(k) === id, s"row $k changed _row_id across a second compaction") }
  }

  test("ids survive copy-on-write delete") {
    val t0 = catalog.createTable("lin_cowdel", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_cowdel")
    t.append(orders.limit(200))
    val before = lineageMap(catalog.loadTable("lin_cowdel"))
    t.delete("o_orderkey <= 60")
    val after = lineageMap(catalog.loadTable("lin_cowdel"))
    assert(after.nonEmpty && after.size < before.size)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"row $k changed _row_id across a CoW delete") }
  }

  test("ids survive z-order rewrite") {
    val t0 = catalog.createTable("lin_zorder", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_zorder")
    // disjoint slices so o_orderkey stays a unique key across both appends
    // (sf0.001 orderkeys top out at 1499 — a 20000 split point would make
    // the second append silently empty)
    t.append(orders.filter(col("o_orderkey") < 750).limit(150))
    t.append(orders.filter(col("o_orderkey") >= 750).limit(150))
    val before = lineageMap(catalog.loadTable("lin_zorder"))
    val (rew, _) = t.rewriteDataFilesZOrder(Seq("o_orderkey", "o_custkey"))
    assert(rew > 0)
    val after = lineageMap(catalog.loadTable("lin_zorder"))
    assert(after.keySet === before.keySet)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"row $k changed _row_id across z-order rewrite") }
  }

  test("ORC tables serve row lineage (positions from the DSv2 ORC reader)") {
    val t0 = catalog.createTable("lin_orc", Schema.fromSpark(orders.schema),
      properties = Map("write.format.default" -> "orc"))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_orc")
    t.append(orders.filter(col("o_orderkey") < 700).limit(80))
    t.append(orders.filter(col("o_orderkey") >= 700).limit(40))
    val df = catalog.loadTable("lin_orc").scan.toDFWithLineage
    val ids = df.select("_row_id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 120)
    assert(ids.toSeq === (0L until 120L), "ORC lineage ids must be dense [0, total)")
    val seqs = df.select("_last_updated_sequence_number").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq === Seq(1L, 2L))
    // ids survive a CoW delete over ORC files (survivors rewritten to
    // new ORC files with MATERIALIZED lineage columns, name-resolved)
    val before = lineageMap(catalog.loadTable("lin_orc"))
    t.delete("o_orderkey <= 60")
    val after = lineageMap(catalog.loadTable("lin_orc"))
    assert(after.nonEmpty && after.size < before.size)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"ORC row $k changed _row_id across a CoW delete") }
  }

  test("partitioned tables: ids dense across fan-out appends, stable across " +
      "dynamic overwrite and spec evolution") {
    val schema = Schema.fromSpark(orders.schema)
    val t0 = catalog.createTable("lin_part", schema,
      PartitionSpec.build(schema, 0, ("o_orderpriority", IdentityTransform, "prio")))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_part")
    // fan-out append: 5 priorities → >= 5 files in ONE commit; ids must
    // still come out dense and unique across the files
    val slice = orders.filter(col("o_orderkey") < 1000).limit(400)
    t.append(slice)
    val n = slice.count()
    val t1 = catalog.loadTable("lin_part")
    assert(t1.scan.planFiles().size >= 5, "fan-out append must write per-partition files")
    val ids0 = t1.scan.toDFWithLineage.select("_row_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids0.toSeq === (0L until n), "fan-out ids must be dense [0, total)")
    val before = lineageMap(t1)
    val nextBefore = t1.metadata.nextRowId.get

    // dynamic partition overwrite of ONE partition: untouched partitions
    // keep their exact ids; replacement rows are NEW rows with fresh ids
    // past the previous next-row-id; global uniqueness holds
    val repl = slice.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", lit(0.0))
    t.dynamicPartitionOverwrite(repl)
    val t2 = catalog.loadTable("lin_part")
    val afterRows = t2.scan.toDFWithLineage
      .select(col("o_orderkey"), col("o_orderpriority"), col("_row_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    afterRows.filter(_._2 != "1-URGENT").foreach { case (k, _, id) =>
      assert(before(k) === id, s"untouched row $k changed _row_id across dynamic overwrite") }
    val replaced = afterRows.filter(_._2 == "1-URGENT")
    assert(replaced.nonEmpty)
    replaced.foreach { case (k, _, id) =>
      assert(id >= nextBefore, s"replacement row $k got id $id < next-row-id $nextBefore") }
    assert(afterRows.map(_._3).distinct.length === afterRows.length,
      "_row_id must stay globally unique after dynamic overwrite")
    val before2 = lineageMap(t2)
    val nextBefore2 = t2.metadata.nextRowId.get

    // spec evolution mid-history: add a bucket dimension, then append —
    // pre-evolution rows keep ids, post-evolution rows extend uniquely
    t2.updateSpec.addField("o_custkey", BucketTransform(4)).commit()
    val t3 = catalog.loadTable("lin_part")
    val extra = orders.filter(col("o_orderkey") >= 1000).limit(60)
    t3.append(extra)
    val t4 = catalog.loadTable("lin_part")
    val finalMap = lineageMap(t4)
    before2.foreach { case (k, id) =>
      assert(finalMap(k) === id, s"row $k changed _row_id across spec evolution + append") }
    val newIds = finalMap.filterNot { case (k, _) => before2.contains(k) }.values
    assert(newIds.nonEmpty && newIds.forall(_ >= nextBefore2))
    assert(finalMap.values.toSeq.distinct.length === finalMap.size,
      "_row_id must stay globally unique across the evolved spec")
  }

  test("position deletes and CoW deletes apply on partition paths containing spaces") {
    // regression: Spark's _metadata.file_path is URI-ENCODED (space → %20)
    // while manifest/delete-file paths are raw; before PathUtil.metaPathCol
    // every (__file)-keyed join silently dropped files under directories
    // like `_p_prio=4-NOT SPECIFIED/` — rows vanished from lineage scans,
    // MoR deletes missed their targets, CoW deletes kept deleted rows
    val schema = Schema.fromSpark(orders.schema)
    val t0 = catalog.createTable("lin_space", schema,
      PartitionSpec.build(schema, 0, ("o_orderpriority", IdentityTransform, "prio")))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_space")
    t.append(orders.filter(col("o_orderkey") < 1000).limit(400))
    val spacey = t.scan.toDF.filter(col("o_orderpriority") === "4-NOT SPECIFIED")
    val nSpacey = spacey.count()
    assert(nSpacey > 10, "fixture must include the spacey partition")
    val victim = spacey.select(min(col("o_orderkey"))).head.getLong(0)
    // MoR delete (v3 → deletion vector) of one row INSIDE the spacey partition
    t.deleteAsDeletionVector(s"o_orderkey = $victim")
    val t1 = catalog.loadTable("lin_space")
    assert(t1.scan.toDF.filter(col("o_orderpriority") === "4-NOT SPECIFIED").count()
      === nSpacey - 1, "positional delete must land inside the spacey partition")
    // lineage scan still serves every surviving row of the spacey file
    assert(t1.scan.toDFWithLineage.count() === t1.scan.toDF.count())
    // CoW delete of a second row (rewrites the spacey file's survivors)
    val victim2 = t1.scan.toDF.filter(col("o_orderpriority") === "4-NOT SPECIFIED")
      .select(min(col("o_orderkey"))).head.getLong(0)
    val beforeIds = lineageMap(t1)
    t1.delete(s"o_orderkey = $victim2")
    val t2 = catalog.loadTable("lin_space")
    val after = lineageMap(t2)
    assert(after.size === beforeIds.size - 1)
    assert(!after.contains(victim2))
    after.foreach { case (k, id) => assert(beforeIds(k) === id,
      s"row $k changed _row_id across a CoW delete in a spacey partition") }
  }

  test("path dict serves partition values containing % and + (URI-encoding worst case)") {
    // the reader stamps each row with its task's canonical path and its
    // row position, and a DV is keyed by that path: this pin covers the
    // nastiest encodings in one partition directory, literal '%'
    // (URI-escapes to %25) and literal '+' (stays literal in URI paths
    // but url_decode would eat it)
    val schema = Schema.fromSpark(orders.schema)
    val tagged = orders.limit(200).withColumn("o_orderpriority",
      concat(lit("p"), col("o_orderkey") % 2, lit("% +x")))
    val t0 = catalog.createTable("lin_pct", Schema.fromSpark(tagged.schema),
      PartitionSpec.build(Schema.fromSpark(tagged.schema), 0,
        ("o_orderpriority", IdentityTransform, "prio")))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_pct")
    t.append(tagged)
    assert(t.scan.toDFWithLineage.count() === 200)
    val victim = tagged.select(min(col("o_orderkey"))).head.getLong(0)
    t.deleteAsDeletionVector(s"o_orderkey = $victim")
    val t1 = catalog.loadTable("lin_pct")
    assert(t1.scan.toDF.count() === 199,
      "DV delete must land inside the %-and-+ partition")
    assert(t1.scan.toDFWithLineage.count() === 199)
  }

  test("upsert preserves survivor ids, keeps updated rows' ids with a new seq") {
    val t0 = catalog.createTable("lin_upsert", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_upsert")
    t.append(orders.filter(col("o_orderkey") < 1000).limit(300)) // seq 1
    val before = t.scan.toDFWithLineage
      .select(col("o_orderkey"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val nextBefore = catalog.loadTable("lin_upsert").metadata.nextRowId.get
    // source: update half the present keys (changed status), insert new keys
    val src = orders.filter(col("o_orderkey") < 1000 && col("o_orderkey") % 2 === 0)
      .limit(80).withColumn("o_orderstatus", lit("Z"))
      .unionByName(orders.filter(col("o_orderkey") >= 1000).limit(40))
    val (nUpd, nIns) = t.upsert(src, Seq("o_orderkey")) // seq 2
    assert(nUpd > 0 && nIns > 0)
    val after = catalog.loadTable("lin_upsert").scan.toDFWithLineage
      .select(col("o_orderkey"), col("_row_id"), col("_last_updated_sequence_number"),
        col("o_orderstatus"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(after.size === before.size + nIns)
    before.foreach { case (k, (id, seq)) =>
      val (aid, aseq, ast) = after(k)
      assert(aid === id, s"upsert renumbered row $k")
      if (ast == "Z") assert(aseq === 2L, s"updated row $k must carry the upsert's seq")
      else assert(aseq === seq, s"carried row $k must keep its seq")
    }
    val fresh = after.filterNot { case (k, _) => before.contains(k) }
    assert(fresh.values.forall { case (id, seq, _) => id >= nextBefore && seq === 2L })
    assert(after.values.map(_._1).toSeq.distinct.size === after.size, "ids stay unique")
  }

  test("upgrading a populated v2 table assigns lineage to existing rows") {
    val t0 = catalog.createTable("lin_upgrade", Schema.fromSpark(orders.schema))
    val t = catalog.loadTable("lin_upgrade")
    t.append(orders.filter(col("o_orderkey") < 700).limit(120))  // v2, seq 1
    t.append(orders.filter(col("o_orderkey") >= 700).limit(80))  // v2, seq 2
    // pre-upgrade: lineage is a typed error
    intercept[IllegalArgumentException](t.scan.toDFWithLineage)
    t.upgradeFormatVersion(3)
    val t1 = catalog.loadTable("lin_upgrade")
    assert(t1.metadata.nextRowId === Some(200L),
      "upgrade must advance next-row-id past the assigned ranges")
    // pre-upgrade rows serve lineage IMMEDIATELY (spec: the v3 manifest
    // list carries first-row-id for every data manifest)
    val rows = t1.scan.toDFWithLineage
      .select(col("o_orderkey"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect()
    assert(rows.length === 200)
    assert(rows.map(_.getLong(1)).sorted.toSeq === (0L until 200L),
      "upgraded rows must get dense unique ids")
    val bySeq = rows.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    assert(bySeq === Map(1L -> 120, 2L -> 80),
      "pre-upgrade rows keep their original data sequence numbers")
    val before = lineageMap(t1)
    // the first post-upgrade row-level op preserves the assigned ids
    t1.delete("o_orderkey < 100")
    val after = lineageMap(catalog.loadTable("lin_upgrade"))
    assert(after.nonEmpty && after.size < before.size)
    after.foreach { case (k, id) =>
      assert(before(k) === id, s"row $k changed _row_id across post-upgrade delete") }
  }

  test("branch appends share the id space: no collisions across lineages") {
    val t0 = catalog.createTable("lin_branch", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_branch")
    t.append(orders.filter(col("o_orderkey") < 500).limit(100)) // main, seq 1
    val mainIds = lineageMap(catalog.loadTable("lin_branch")).values.toSet
    // branch append draws from the SAME table-level next-row-id counter
    t.append(orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000).limit(50),
      Map.empty[String, String], Some("audit"))
    val t1 = catalog.loadTable("lin_branch")
    // a previously-absent branch starts an EMPTY lineage (documented):
    // the branch holds only its own rows, but they still draw ids from
    // the shared table-level counter, past main's range
    val branchIds = t1.scan.useRef("audit").toDFWithLineage
      .select("_row_id").collect().map(_.getLong(0)).toSet
    assert(branchIds.size === 50)
    assert(branchIds.forall(_ >= 100L),
      "branch rows must draw fresh ids past main's range")
    // a main append AFTER the branch append must not reuse the branch's ids
    t1.append(orders.filter(col("o_orderkey") >= 1000).limit(30))
    val mainAfter = lineageMap(catalog.loadTable("lin_branch")).values.toSet
    assert((mainAfter intersect branchIds).isEmpty,
      "main rows must not collide with branch-assigned ids")
    assert(mainAfter.size === 130)
    assert(mainIds.subsetOf(mainAfter))
  }

  test("an UPDATE that rewrites identical content keeps the old seq (content diff)") {
    // the SQL-face updated-row detection is a CONTENT diff: setting a
    // column to its existing value is indistinguishable from a carried
    // row and keeps the original _last_updated_sequence_number — the
    // documented CDC-style semantics of the group-based rewrite
    val s = spark
    s.conf.set("spark.sql.catalog.glin_t", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_t.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_t.db")
    s.sql("""CREATE TABLE glin_t.db.noop_upd (k BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_t.db.noop_upd SELECT id, 'same' FROM range(10)")
    s.sql("UPDATE glin_t.db.noop_upd SET v = 'same' WHERE k >= 5") // no-op content
    val rows = s.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM glin_t.db.noop_upd")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 10)
    assert(rows.forall(_._3 === 1L),
      "content-identical rewrites must not bump _last_updated_sequence_number")
    assert(rows.map(_._2).sorted.toSeq === (0L until 10L))
  }

  test("UPDATE's lineage diff prunes to SET-assigned columns (rule capture)") {
    // AssignedColumnsRule stamps the SET targets onto the operation so
    // the CoW content diff re-reads only (_row_id + assigned columns);
    // the capture must name exactly the assigned data column, and the
    // pruned diff must still bump seq for changed rows only
    val s = spark
    s.conf.set("spark.sql.catalog.glin_p", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_p.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_p.db")
    s.sql("""CREATE TABLE glin_p.db.prune_upd (k BIGINT, a STRING, b STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_p.db.prune_upd SELECT id, 'x', 'y' FROM range(10)")
    graft.spark.AssignedColumnsRule.lastCaptured = None
    s.sql("UPDATE glin_p.db.prune_upd SET b = 'z' WHERE k >= 5")
    val captured = graft.spark.AssignedColumnsRule.lastCaptured
    assert(captured.isDefined, "rule must capture UPDATE assignments")
    assert(captured.get.filter(Set("k", "a", "b")) === Seq("b"),
      s"capture must name exactly the assigned data column, got $captured")
    val rows = s.sql(
      "SELECT k, b, _last_updated_sequence_number FROM glin_p.db.prune_upd")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.filter(_._1 >= 5).forall(r => r._2 == "z" && r._3 == 2L))
    assert(rows.filter(_._1 < 5).forall(r => r._2 == "y" && r._3 == 1L))
  }

  test("MERGE's lineage diff prunes via Keep-instruction contexts") {
    // MergeRows' Keep instructions are context-tagged: the rule derives
    // assigned columns from UPDATE-context outputs vs the Copy
    // pass-through, so a MERGE assigning one column diffs one column —
    // and the content-identical-update rule still holds through it
    val s = spark
    s.conf.set("spark.sql.catalog.glin_m", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_m.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_m.db")
    s.sql("""CREATE TABLE glin_m.db.merge_pr (k BIGINT, a STRING, b STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_m.db.merge_pr SELECT id, 'x', 'y' FROM range(10)")
    graft.spark.AssignedColumnsRule.lastCaptured = None
    s.sql("""MERGE INTO glin_m.db.merge_pr t
      USING (SELECT id AS k, CASE WHEN id >= 8 THEN 'z' ELSE 'y' END AS nb
             FROM range(6, 12)) src
      ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET b = src.nb
      WHEN NOT MATCHED THEN INSERT (k, a, b) VALUES (src.k, 'n', src.nb)""")
    val captured = graft.spark.AssignedColumnsRule.lastCaptured
    assert(captured.isDefined, "rule must capture MERGE assignments")
    assert(captured.get.filter(Set("k", "a", "b")) === Seq("b"),
      s"MERGE capture must name exactly the assigned data column, got $captured")
    val rows = s.sql(
      "SELECT k, b, _row_id, _last_updated_sequence_number FROM glin_m.db.merge_pr")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 12)
    // matched k=6,7: b set to its existing value 'y' → content identical,
    // seq stays 1; matched k=8,9: b changes to 'z' → seq 2; ids 0..9 keep
    assert(rows.filter(r => r._1 == 6 || r._1 == 7).forall(r => r._2 == "y" && r._4 == 1L))
    assert(rows.filter(r => r._1 == 8 || r._1 == 9).forall(r => r._2 == "z" && r._4 == 2L))
    assert(rows.filter(_._1 < 6).forall(r => r._4 == 1L))
    assert(rows.filter(_._1 >= 10).forall(r => r._4 == 2L), "inserts take the new seq")
    assert(rows.filter(_._1 < 10).map(_._3).sorted.toSeq === (0L until 10L))
  }

  test("CoW SQL DELETE direct-commits the staged files (no second write)") {
    // unpartitioned + unsorted + parquet + diff-free (DELETE) → the
    // per-task staged files ARE the committed data files, under the data
    // root with field ids and footer stats; survivors keep their lineage
    val s = spark
    s.conf.set("spark.sql.catalog.glin_d", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_d.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_d.db")
    s.sql("""CREATE TABLE glin_d.db.direct_del (k BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_d.db.direct_del SELECT id, concat('v', id) FROM range(100)")
    val idsBefore = s.sql("SELECT k, _row_id FROM glin_d.db.direct_del")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    s.sql("DELETE FROM glin_d.db.direct_del WHERE k % 4 = 1")
    val t = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.direct_del")
    val files = t.scan.planFiles().map(_.file)
    assert(files.nonEmpty)
    assert(files.forall(f => f.filePath.contains("/data/cow-")),
      s"DELETE replacement must commit staged files directly, got " +
        files.map(_.filePath).mkString(","))
    assert(files.forall(_.recordCount > 0), "footer stats must be harvested")
    assert(files.forall(f => f.lowerBounds.nonEmpty && f.upperBounds.nonEmpty),
      "direct-committed files must carry column bounds")
    val rows = s.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM glin_d.db.direct_del")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 75)
    assert(rows.forall(r => r._1 % 4 != 1))
    assert(rows.forall(r => idsBefore(r._1) === r._2),
      "survivors keep their materialized ids")
    assert(rows.forall(_._3 === 1L), "survivors keep their original seq")
    // metadata count short-circuit and predicate pruning still work on
    // the direct-committed files (stats present, ids readable)
    assert(s.sql("SELECT count(*) FROM glin_d.db.direct_del").head().getLong(0) === 75L)
  }

  test("PARTITIONED CoW SQL DELETE direct-commits routed staged files") {
    // partitioned direct commit: the write requires clustering+ordering
    // by the partition transforms, the staging writer routes rows into
    // _p_name=value/ dirs, and harvest parses the partition tuples back —
    // pruning and per-partition file layout must match the rewrite path's
    val s = spark
    s.conf.set("spark.sql.catalog.glin_pd", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_pd.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_pd.db")
    s.sql("""CREATE TABLE glin_pd.db.part_del (k BIGINT, d DATE, v STRING)
      PARTITIONED BY (days(d), bucket(4, k))
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("""INSERT INTO glin_pd.db.part_del
      SELECT id, date_add(DATE'2021-03-01', CAST(id % 3 AS INT)), concat('v', id)
      FROM range(300)""")
    s.sql("DELETE FROM glin_pd.db.part_del WHERE k % 5 = 2")
    val t = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.part_del")
    val files = t.scan.planFiles().map(_.file)
    assert(files.nonEmpty)
    assert(files.forall(f => f.filePath.contains("/data/cow-")),
      s"partitioned DELETE must direct-commit, got ${files.map(_.filePath).take(3)}")
    assert(files.forall(f => f.filePath.contains("_p_d=") && f.filePath.contains("_p_k_bucket")
      || f.filePath.matches(".*_p_.*=.*")),
      s"staged files must sit in partition dirs: ${files.head.filePath}")
    assert(files.forall(_.partition.size == 2),
      "harvest must parse both partition values from the path")
    // partition pruning still works on the direct-committed layout
    val opens0 = graft.meta.ManifestIO.manifestOpens.get()
    val oneDay = s.sql(
      "SELECT count(*) FROM glin_pd.db.part_del WHERE d = DATE'2021-03-01'")
      .head().getLong(0)
    assert(oneDay === (0L until 300L).count(i => i % 3 == 0 && i % 5 != 2))
    assert(s.sql("SELECT count(*) FROM glin_pd.db.part_del").head().getLong(0) ===
      (0L until 300L).count(_ % 5 != 2))
    // survivors keep lineage through the routed stage
    val rows = s.sql(
      "SELECT k, _row_id, _last_updated_sequence_number FROM glin_pd.db.part_del")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._3 === 1L), "survivors keep their original seq")
    assert(rows.map(_._2).distinct.length === rows.length)
    assert(opens0 >= 0L)
  }

  test("v3 UPDATE and MERGE direct-commit via in-plan seq stamping") {
    // the optimizer stamps `seq := if(content changed, null, seq)` into
    // the ReplaceData plan, so the staged files are FINAL: no read-back
    // diff, no second write — the committed files live under the staged
    // cow- directory, and lineage semantics hold through the direct path
    val s = spark
    s.conf.set("spark.sql.catalog.glin_du", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_du.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_du.db")
    s.sql("""CREATE TABLE glin_du.db.direct_upd (k BIGINT, a STRING, b STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_du.db.direct_upd SELECT id, 'x', 'y' FROM range(100)")
    val t = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.direct_upd")
    val before = t.scan.planFiles().map(_.file.filePath).toSet
    s.sql("UPDATE glin_du.db.direct_upd SET b = 'z' WHERE k >= 50")
    t.refresh()
    val files = t.scan.planFiles().map(_.file)
    val added = files.filterNot(f => before.contains(f.filePath))
    assert(added.nonEmpty)
    assert(added.forall(f => f.filePath.contains("/data/cow-")),
      s"v3 UPDATE must direct-commit staged files, got " +
        added.map(_.filePath).take(3).mkString(","))
    assert(added.forall(f => f.lowerBounds.nonEmpty && f.upperBounds.nonEmpty),
      "direct-committed files must carry footer stats")
    val afterUpd = s.sql(
      "SELECT k, b, _row_id, _last_updated_sequence_number FROM glin_du.db.direct_upd")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(afterUpd.length === 100)
    assert(afterUpd.filter(_._1 < 50).forall(r => r._2 == "y" && r._4 == 1L),
      "carried rows keep their original seq through the direct path")
    assert(afterUpd.filter(_._1 >= 50).forall(r => r._2 == "z" && r._4 == 2L),
      "updated rows take the committing seq (stamped null inherits)")
    assert(afterUpd.map(_._3).sorted.toSeq === (0L until 100L),
      "row ids stable through the direct UPDATE")
    // MERGE through the same stamped direct path: one assigned column,
    // a content-identical match, a real change, and a fresh insert
    s.sql("""MERGE INTO glin_du.db.direct_upd t
      USING (SELECT id AS k, CASE WHEN id >= 98 THEN 'w' ELSE 'z' END AS nb
             FROM range(96, 102)) src
      ON t.k = src.k
      WHEN MATCHED THEN UPDATE SET b = src.nb
      WHEN NOT MATCHED THEN INSERT (k, a, b) VALUES (src.k, 'n', src.nb)""")
    t.refresh()
    val before2 = files.map(_.filePath).toSet
    val added2 = t.scan.planFiles().map(_.file)
      .filterNot(f => before2.contains(f.filePath))
    assert(added2.nonEmpty)
    assert(added2.forall(f => f.filePath.contains("/data/cow-")),
      s"v3 MERGE must direct-commit staged files, got " +
        added2.map(_.filePath).take(3).mkString(","))
    val afterMrg = s.sql(
      "SELECT k, b, _row_id, _last_updated_sequence_number FROM glin_du.db.direct_upd")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(afterMrg.length === 102)
    // k=96,97: matched, SET to existing 'z' → content identical, seq stays
    assert(afterMrg.filter(r => r._1 == 96 || r._1 == 97)
      .forall(r => r._2 == "z" && r._4 == 2L))
    // k=98,99: matched, changed to 'w' → bumped to the MERGE's seq
    assert(afterMrg.filter(r => r._1 == 98 || r._1 == 99)
      .forall(r => r._2 == "w" && r._4 == 3L))
    // inserts draw fresh ids past the existing range, seq = MERGE's
    assert(afterMrg.filter(_._1 >= 100).forall(r => r._3 >= 100L && r._4 == 3L))
    // ids of pre-existing rows survive both DMLs
    assert(afterMrg.filter(_._1 < 100).map(_._3).sorted.toSeq === (0L until 100L))
  }

  test("direct-committed staged files honor max-records-per-file (rollover)") {
    val s = spark
    s.conf.set("spark.sql.catalog.glin_r", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_r.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_r.db")
    s.sql("""CREATE TABLE glin_r.db.roll_del (k BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3', 'write.spark.max-records-per-file'='25')""")
    s.sql("INSERT INTO glin_r.db.roll_del SELECT id, concat('v', id) FROM range(0, 200, 1, 1)")
    s.sql("DELETE FROM glin_r.db.roll_del WHERE k % 4 = 1")
    val t = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.roll_del")
    val files = t.scan.planFiles().map(_.file)
    assert(files.forall(_.filePath.contains("/data/cow-")), "must be direct-committed")
    // 150 survivors / 25-record cap → at least 6 files, each within cap
    assert(files.length >= 6, s"expected rolled files, got ${files.length}")
    assert(files.forall(_.recordCount <= 25L),
      s"files exceed the record cap: ${files.map(_.recordCount).mkString(",")}")
    assert(s.sql("SELECT count(*) FROM glin_r.db.roll_del").head().getLong(0) === 150L)
    val rows = s.sql("SELECT k, _row_id FROM glin_r.db.roll_del")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._2).distinct.length === 150, "ids stay unique across rolled files")
  }

  test("SORTED table CoW DELETE direct-commits with sorted files + sortOrderId") {
    val s = spark
    s.conf.set("spark.sql.catalog.glin_so", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_so.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_so.db")
    s.sql("""CREATE TABLE glin_so.db.sort_del (k BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3')""")
    val t0 = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.sort_del")
    t0.replaceSortOrder("k" -> "desc")
    s.sql("""INSERT INTO glin_so.db.sort_del
      SELECT CAST(id * 37 % 500 AS BIGINT), concat('v', id) FROM range(0, 500, 1, 2)""")
    s.sql("DELETE FROM glin_so.db.sort_del WHERE k % 5 = 2")
    val t = new graft.catalog.HadoopCatalog(warehouse, s).loadTable("db.sort_del")
    val files = t.scan.planFiles().map(_.file)
    assert(files.nonEmpty)
    assert(files.forall(_.filePath.contains("/data/cow-")),
      "sorted table DELETE must direct-commit via the required ordering")
    val orderId = t.metadata.defaultSortOrderId
    assert(files.forall(_.sortOrderId.contains(orderId)),
      s"files must carry the sort order id, got ${files.map(_.sortOrderId)}")
    // each file's rows really are sorted per the declared DESC order
    files.foreach { f =>
      val ks = s.read.parquet(f.filePath).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks === ks.sorted.reverse, s"file ${f.filePath} not desc-sorted")
    }
    assert(s.sql("SELECT count(*) FROM glin_so.db.sort_del").head().getLong(0) ===
      (0L until 500L).map(i => i * 37 % 500).count(_ % 5 != 2))
  }

  test("UPDATE with a subquery condition keeps lineage semantics (rule fallback-safe)") {
    // whatever plan shape the rewrite produces, the diff must stay
    // correct: changed rows take the new seq, untouched rows keep theirs
    val s = spark
    s.conf.set("spark.sql.catalog.glin_sq", "graft.spark.GraftCatalog")
    s.conf.set("spark.sql.catalog.glin_sq.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS glin_sq.db")
    s.sql("""CREATE TABLE glin_sq.db.subq_upd (k BIGINT, v STRING)
      TBLPROPERTIES ('format-version'='3')""")
    s.sql("INSERT INTO glin_sq.db.subq_upd SELECT id, 'a' FROM range(20)")
    s.sql("""UPDATE glin_sq.db.subq_upd SET v = 'b'
      WHERE k IN (SELECT id FROM range(5, 9))""")
    val rows = s.sql(
      "SELECT k, v, _row_id, _last_updated_sequence_number FROM glin_sq.db.subq_upd")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 20)
    assert(rows.filter(r => r._1 >= 5 && r._1 < 9)
      .forall(r => r._2 == "b" && r._4 == 2L))
    assert(rows.filter(r => r._1 < 5 || r._1 >= 9)
      .forall(r => r._2 == "a" && r._4 == 1L))
    assert(rows.map(_._3).sorted.toSeq === (0L until 20L))
  }

  test("v3 reserves the lineage column names (create / upgrade / evolution)") {
    val clash = Schema(Seq(
      NestedField(1, "k", ILong, required = false),
      NestedField(2, "_row_id", ILong, required = false)))
    // creating a v3 table with the reserved name fails typed
    val e1 = intercept[IllegalArgumentException](
      catalog.createTable("lin_resv1", clash,
        properties = Map("format-version" -> "3")))
    assert(e1.getMessage.contains("_row_id"))
    // upgrading a v2 table that holds the name fails typed
    val t2 = catalog.createTable("lin_resv2", clash)
    val e2 = intercept[IllegalArgumentException](t2.upgradeFormatVersion(3))
    assert(e2.getMessage.contains("_row_id"))
    // evolving the name INTO a v3 table fails typed; v2 allows it
    val t3 = catalog.createTable("lin_resv3",
      Schema(Seq(NestedField(1, "k", ILong, required = false))),
      properties = Map("format-version" -> "3"))
    val e3 = intercept[IllegalArgumentException](
      t3.updateSchema.addColumn("_last_updated_sequence_number", ILong).commit())
    assert(e3.getMessage.contains("_last_updated_sequence_number"))
  }

  test("v2 tables reject lineage scans typed") {
    val t = catalog.createTable("lin_v2", Schema.fromSpark(orders.schema))
    t.append(orders.limit(10))
    val e = intercept[IllegalArgumentException](t.scan.toDFWithLineage)
    assert(e.getMessage.contains("format version"))
  }

  test("filtered lineage scan keeps absolute positions") {
    val t0 = catalog.createTable("lin_filter", Schema.fromSpark(orders.schema))
    t0.upgradeFormatVersion(3)
    val t = catalog.loadTable("lin_filter")
    t.append(orders.limit(300))
    val all = lineageMap(catalog.loadTable("lin_filter"))
    val some = catalog.loadTable("lin_filter").scan("o_custkey < 500")
      .toDFWithLineage.select(col("o_orderkey"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(some.nonEmpty)
    some.foreach { case (k, id) => assert(all(k) === id) }
  }
}

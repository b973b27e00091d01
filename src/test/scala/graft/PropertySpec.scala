package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Property-based differential tests (ref test strategy: Hypothesis in
  * tests/test_transforms.py; SURVEY §5): the driver-side expression
  * evaluator must agree with Spark's Column execution on arbitrary
  * predicates, and codecs/transforms must hold their invariants. */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  /** deterministic sampling from a Gen (no scalatest-scalacheck bridge in
    * the offline dependency set) */
  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] = {
    var s = Seed(seed)
    (0 until n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, s)
      s = s.next
      r
    }
  }

  private def forAllSampled[T](g: Gen[T], n: Int = 100)(body: T => Unit): Unit =
    samples(g, n).foreach(body)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val schema = Schema(Seq(
    NestedField(1, "id", ILong, required = true),
    NestedField(2, "name", IString),
    NestedField(3, "price", IDouble)))

  // small fixed dataset incl. nulls and NaN
  val rows: Seq[(Long, String, java.lang.Double)] = Seq(
    (1L, "apple", java.lang.Double.valueOf(1.5)),
    (2L, "banana", java.lang.Double.valueOf(-3.0)),
    (3L, null, java.lang.Double.valueOf(0.0)),
    (4L, "apricot", null),
    (5L, "cherry", java.lang.Double.valueOf(Double.NaN)),
    (6L, "", java.lang.Double.valueOf(99.25)),
    (7L, "APPLE", java.lang.Double.valueOf(1.5)))

  lazy val df = {
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("price", DoubleType)))
    import scala.jdk.CollectionConverters._
    // NOT cached: InMemoryRelation's cached-batch min/max pruning drops
    // NaN rows under ordered predicates (its batch stats ignore NaN while
    // Spark's comparison semantics rank NaN above everything) — an
    // upstream inconsistency this differential test would trip over
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, st)
  }

  val genLeaf: Gen[Expr] = {
    val names = Gen.oneOf("id", "name", "price")
    val longLit: Gen[Any] = Gen.chooseNum(-5L, 10L).map(x => x: Any)
    val strLit: Gen[Any] = Gen.oneOf("apple", "banana", "", "z").map(x => x: Any)
    val dblLit: Gen[Any] = Gen.oneOf(-3.0, 0.0, 1.5, 99.25)
      .map(x => new java.math.BigDecimal(x.toString): Any)
    def litFor(n: String): Gen[Any] = n match {
      case "id" => longLit
      case "name" => strLit
      case "price" => dblLit
    }
    names.flatMap { n =>
      val lit = litFor(n)
      Gen.oneOf[Gen[Expr]](
        lit.map(v => Eq(n, v)), lit.map(v => NotEq(n, v)),
        lit.map(v => Lt(n, v)), lit.map(v => LtEq(n, v)),
        lit.map(v => Gt(n, v)), lit.map(v => GtEq(n, v)),
        Gen.listOfN(2, lit).map(vs => In(n, vs)),
        Gen.listOfN(2, lit).map(vs => NotIn(n, vs)),
        Gen.const(IsNull(n)), Gen.const(NotNull(n)),
        Gen.const(IsNaN(n)), Gen.const(NotNaN(n)),
        Gen.oneOf("a", "ap", "").map(p => StartsWith(n, p): Expr)).flatMap(identity)
    }
  }

  def genExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      2 -> Gen.zip(genExpr(depth - 1), genExpr(depth - 1)).map { case (a, b) => And(a, b) },
      2 -> Gen.zip(genExpr(depth - 1), genExpr(depth - 1)).map { case (a, b) => Or(a, b) },
      1 -> genExpr(depth - 1).map(Not(_)))

  test("driver evaluator agrees with Spark Column execution on random predicates") {
    forAllSampled(genExpr(2), 60) { e =>
      val bound = Exprs.rewriteNot(Binder.bind(schema, e))
      val sparkIds = df.filter(ToColumn.compile(bound))
        .collect().map(_.getLong(0)).toSet
      val ourIds = rows.filter { r =>
        Evaluator.eval(bound, Map(1 -> r._1, 2 -> r._2, 3 -> r._3))
      }.map(_._1).toSet
      assert(sparkIds === ourIds, s"expr $e bound $bound")
    }
  }

  test("REST expression wire codec preserves binding semantics") {
    // litToJson erases some literal types (Double → BigDecimal through a
    // floating JSON node), so the invariant is SEMANTIC: the round-tripped
    // expression binds to the identical bound form — exactly what the
    // scan-planning protocol needs (residuals are re-bound on arrival)
    import graft.catalog.RestScanJson
    forAllSampled(genExpr(2), 80) { e =>
      val rt = RestScanJson.exprFromJson(RestScanJson.exprToJson(e))
      assert(Binder.bind(schema, rt) === Binder.bind(schema, e),
        s"wire round-trip changed binding for $e -> $rt")
    }
  }

  test("REST typed-value codec round-trips every scalar type") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import graft.catalog.RestScanJson
    val mapper = new ObjectMapper()
    def rt(t: IceType, v: Any): Any = {
      val n = mapper.createObjectNode()
      RestScanJson.valueToJson(t, v, n, "v")
      RestScanJson.valueFromJson(t, n.get("v"))
    }
    forAllSampled(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { v =>
      assert(rt(ILong, v) === v)
      assert(rt(ITimestamp, v) === v)
    }
    forAllSampled(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      assert(rt(IInt, v) === v); assert(rt(IDate, v) === v)
    }
    forAllSampled(Gen.asciiPrintableStr) { s => assert(rt(IString, s) === s) }
    forAllSampled(Gen.chooseNum(-1e12, 1e12)) { v =>
      assert(rt(IDouble, v) === v)
    }
    forAllSampled(Gen.chooseNum(-999999L, 999999L)) { unscaled =>
      val v = java.math.BigDecimal.valueOf(unscaled, 2)
      assert(rt(IDecimal(10, 2), v) === v)
    }
    forAllSampled(Gen.listOfN(8, Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      assert(java.util.Arrays.equals(
        rt(IBinary, bs.toArray).asInstanceOf[Array[Byte]], bs.toArray))
    }
    assert(rt(IBoolean, true) === true)
    assert(rt(IString, null) === null)
  }

  test("single-value codec round-trips arbitrary values") {
    forAllSampled(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { v =>
      assert(Conversions.fromBytes(ILong, Conversions.toBytes(ILong, v)) === v)
    }
    forAllSampled(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      assert(Conversions.fromBytes(IInt, Conversions.toBytes(IInt, v)) === v)
      assert(Conversions.fromBytes(IDate, Conversions.toBytes(IDate, v)) === v)
    }
    forAllSampled(Gen.chooseNum(-1e18, 1e18)) { v =>
      val back = Conversions.fromBytes(IDouble, Conversions.toBytes(IDouble, v))
      assert(back == v || (v.isNaN && back.asInstanceOf[Double].isNaN))
    }
    forAllSampled(Gen.asciiPrintableStr) { s =>
      assert(Conversions.fromBytes(IString, Conversions.toBytes(IString, s)) === s)
    }
    // ns codec: stored bytes hold NANOS, the engine domain is MICROS —
    // decode must equal BigInt floor division (incl. pre-epoch values),
    // and encode∘decode must be the identity on the us domain
    forAllSampled(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { ns =>
      val bytes = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(ns).array()
      val want = (BigInt(ns) - (((BigInt(ns) % 1000) + 1000) % 1000)) / 1000
      assert(Conversions.fromBytes(ITimestampNs, bytes) === want.toLong)
      assert(Conversions.fromBytes(ITimestamptzNs, bytes) === want.toLong)
    }
    forAllSampled(Gen.chooseNum(-9000000000000000L, 9000000000000000L)) { us =>
      assert(Conversions.fromBytes(ITimestampNs,
        Conversions.toBytes(ITimestampNs, us)) === us)
    }
  }

  test("truncate invariants: result <= value, within width, idempotent") {
    forAllSampled(Gen.zip(Gen.chooseNum(-1000000L, 1000000L), Gen.chooseNum(1, 5000))) { case (v, w) =>
      val t = TruncateTransform(w)
      val r = t.apply(v, ILong).asInstanceOf[Long]
      assert(r <= v && v - r < w)
      assert(t.apply(r, ILong) === r)
    }
  }

  test("bucket is stable, in range, and int/long consistent") {
    forAllSampled(Gen.zip(Gen.chooseNum(Int.MinValue, Int.MaxValue), Gen.chooseNum(1, 64))) { case (v, n) =>
      val b = BucketTransform(n)
      val r = b.apply(v, IInt).asInstanceOf[Int]
      assert(r >= 0 && r < n)
      // ints hash as longs (spec): bucket(int v) == bucket(long v)
      assert(b.apply(v.toLong, ILong) === r)
    }
  }

  test("inclusive projection soundness: a partition holding a matching row is never pruned") {
    import graft.meta._
    // schema with a long key and a timestamp, partitioned four ways
    val s2 = Schema(Seq(
      NestedField(1, "k", ILong, required = true),
      NestedField(2, "ts", ITimestamp, required = true),
      NestedField(3, "tag", IString)))
    val specs = Seq(
      PartitionSpec(0, Seq(PartitionField(1, 1000, "k_bucket", BucketTransform(8)))),
      PartitionSpec(1, Seq(PartitionField(1, 1000, "k_trunc", TruncateTransform(100)))),
      PartitionSpec(2, Seq(PartitionField(2, 1000, "ts_day", DayTransform))),
      PartitionSpec(3, Seq(PartitionField(2, 1000, "ts_month", MonthTransform),
        PartitionField(3, 1001, "tag", IdentityTransform))))
    val genRow: Gen[(Long, Long, String)] = for {
      k <- Gen.chooseNum(-500L, 500L)
      // micros within ±2 years of epoch to cross year/month boundaries
      ts <- Gen.chooseNum(-63113904000000000L / 1000, 63113904000000L)
      tag <- Gen.oneOf("a", "b", null)
    } yield (k, ts, tag)
    val leafGen: Gen[Expr] = {
      val kLit: Gen[Any] = Gen.chooseNum(-500L, 500L).map(x => x: Any)
      val tsLit: Gen[Any] = Gen.chooseNum(-63113904000000L, 63113904000000L)
        .map(x => x: Any)
      Gen.oneOf[Gen[Expr]](
        kLit.map(v => Eq("k", v)), kLit.map(v => Lt("k", v)), kLit.map(v => GtEq("k", v)),
        Gen.listOfN(3, kLit).map(vs => In("k", vs)),
        tsLit.map(v => LtEq("ts", v)), tsLit.map(v => Gt("ts", v)), tsLit.map(v => Eq("ts", v)),
        Gen.oneOf("a", "b", "c").map(v => Eq("tag", v): Expr),
        Gen.const(IsNull("tag")), Gen.const(NotNull("tag"))).flatMap(identity)
    }
    def genPred(depth: Int): Gen[Expr] =
      if (depth <= 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => And(a, b) },
        2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => Or(a, b) },
        1 -> genPred(depth - 1).map(Not(_)))

    val rowsSample = samples(genRow, 200)
    forAllSampled(Gen.zip(genPred(2), Gen.chooseNum(0, 3)), 150) { case (pred, specIdx) =>
      val spec = specs(specIdx)
      val bound = Exprs.rewriteNot(Binder.bind(s2, pred))
      val projected = Evaluators.inclusiveProjection(s2, spec, bound)
      rowsSample.foreach { case (k, ts, tag) =>
        val record = Map(1 -> (k: Any), 2 -> (ts: Any), 3 -> (tag: Any))
        if (Evaluator.eval(bound, record)) {
          val tuple = spec.fields.map { pf =>
            val src = s2.byId(pf.sourceId)
            pf.transform.apply(record(pf.sourceId), src.fieldType)
          }
          assert(Evaluators.partitionMatches(spec, projected, tuple),
            s"UNSOUND: pred=$bound spec=${spec.specId} row=($k,$ts,$tag) tuple=$tuple")
        }
      }
    }
  }

  test("metrics evaluators are sound: mustMatch ⟹ all rows match; !mightMatch ⟹ none do") {
    import graft.meta._
    val s2 = Schema(Seq(
      NestedField(1, "k", ILong),
      NestedField(2, "s", IString)))
    val genRow: Gen[(java.lang.Long, String)] = for {
      k <- Gen.oneOf(Gen.const(null: java.lang.Long),
        Gen.chooseNum(-50L, 50L).map(Long.box))
      s <- Gen.oneOf(Gen.const(null: String), Gen.oneOf("a", "ab", "abc", "b", "zz"))
    } yield (k, s)
    val leaf: Gen[Expr] = {
      val kLit: Gen[Any] = Gen.chooseNum(-60L, 60L).map(x => x: Any)
      val sLit: Gen[Any] = Gen.oneOf("a", "ab", "b", "zz", "c").map(x => x: Any)
      Gen.oneOf[Gen[Expr]](
        kLit.map(v => Eq("k", v)), kLit.map(v => NotEq("k", v)),
        kLit.map(v => Lt("k", v)), kLit.map(v => GtEq("k", v)),
        Gen.listOfN(2, kLit).map(vs => In("k", vs)),
        Gen.listOfN(2, kLit).map(vs => NotIn("k", vs)),
        sLit.map(v => Eq("s", v)), sLit.map(v => LtEq("s", v)),
        Gen.oneOf("a", "z").map(p => StartsWith("s", p): Expr),
        Gen.const(IsNull("k")), Gen.const(NotNull("s"))).flatMap(identity)
    }
    def gen(depth: Int): Gen[Expr] =
      if (depth <= 0) leaf
      else Gen.frequency(3 -> leaf,
        2 -> Gen.zip(gen(depth - 1), gen(depth - 1)).map { case (a, b) => And(a, b) },
        2 -> Gen.zip(gen(depth - 1), gen(depth - 1)).map { case (a, b) => Or(a, b) },
        1 -> gen(depth - 1).map(Not(_)))

    def fileFor(rows: Seq[(java.lang.Long, String)]): DataFile = {
      val ks = rows.map(_._1).filter(_ != null).map(_.longValue())
      val ss = rows.map(_._2).filter(_ != null)
      DataFile(0, "f", "PARQUET", Nil, rows.size.toLong, 1L,
        valueCounts = Map(1 -> rows.size.toLong, 2 -> rows.size.toLong),
        nullValueCounts = Map(1 -> rows.count(_._1 == null).toLong,
          2 -> rows.count(_._2 == null).toLong),
        lowerBounds = Seq(ks.minOption.map(v => 1 -> (v: Any)),
          ss.minOption.map(v => 2 -> (v: Any))).flatten.toMap,
        upperBounds = Seq(ks.maxOption.map(v => 1 -> (v: Any)),
          ss.maxOption.map(v => 2 -> (v: Any))).flatten.toMap)
    }

    forAllSampled(Gen.zip(gen(2), Gen.listOfN(20, genRow)), 200) { case (pred, rows) =>
      val bound = Exprs.rewriteNot(Binder.bind(s2, pred))
      val file = fileFor(rows)
      def rowMatches(r: (java.lang.Long, String)): Boolean =
        Evaluator.eval(bound, Map(1 -> r._1, 2 -> r._2))
      val matches = rows.map(rowMatches)
      if (!Evaluators.rowsMightMatch(bound, file))
        assert(!matches.exists(identity),
          s"UNSOUND prune: $bound dropped a file containing a match; rows=$rows")
      if (rows.nonEmpty && Evaluators.rowsMustMatch(bound, file))
        assert(matches.forall(identity),
          s"UNSOUND strict: $bound claimed all-match on a file with a miss; rows=$rows")
    }
  }

  test("residual soundness: folding against a row's own partition preserves the filter") {
    import graft.meta._
    val s2 = Schema(Seq(
      NestedField(1, "k", ILong, required = true),
      NestedField(2, "ts", ITimestamp, required = true),
      NestedField(3, "tag", IString)))
    val specs = Seq(
      PartitionSpec(0, Seq(PartitionField(1, 1000, "k_bucket", BucketTransform(8)))),
      PartitionSpec(1, Seq(PartitionField(1, 1000, "k_trunc", TruncateTransform(100)))),
      PartitionSpec(2, Seq(PartitionField(2, 1000, "ts_day", DayTransform))),
      PartitionSpec(3, Seq(PartitionField(2, 1000, "ts_month", MonthTransform),
        PartitionField(3, 1001, "tag", IdentityTransform))),
      PartitionSpec(4, Seq(PartitionField(3, 1000, "tag_t", TruncateTransform(2)))))
    val genRow: Gen[(Long, Long, String)] = for {
      k <- Gen.chooseNum(-500L, 500L)
      ts <- Gen.chooseNum(-63113904000000L, 63113904000000L)
      tag <- Gen.oneOf("a", "ab", "abc", "abd", "b", "zz", null)
    } yield (k, ts, tag)
    val leafGen: Gen[Expr] = {
      val kLit: Gen[Any] = Gen.chooseNum(-500L, 500L).map(x => x: Any)
      val tsLit: Gen[Any] = Gen.chooseNum(-63113904000000L, 63113904000000L)
        .map(x => x: Any)
      val sLit: Gen[Any] = Gen.oneOf("a", "ab", "abc", "abd", "b", "zz").map(x => x: Any)
      Gen.oneOf[Gen[Expr]](
        kLit.map(v => Eq("k", v)), kLit.map(v => NotEq("k", v)),
        kLit.map(v => Lt("k", v)), kLit.map(v => GtEq("k", v)),
        Gen.listOfN(3, kLit).map(vs => In("k", vs)),
        Gen.listOfN(3, kLit).map(vs => NotIn("k", vs)),
        tsLit.map(v => LtEq("ts", v)), tsLit.map(v => Gt("ts", v)), tsLit.map(v => Eq("ts", v)),
        sLit.map(v => Eq("tag", v)), sLit.map(v => Lt("tag", v)), sLit.map(v => GtEq("tag", v)),
        Gen.oneOf("a", "ab", "abc", "z").map(p => StartsWith("tag", p): Expr),
        Gen.const(IsNull("tag")), Gen.const(NotNull("tag"))).flatMap(identity)
    }
    def genPred(depth: Int): Gen[Expr] =
      if (depth <= 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => And(a, b) },
        2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => Or(a, b) },
        1 -> genPred(depth - 1).map(Not(_)))

    val rowsSample = samples(genRow, 200)
    forAllSampled(Gen.zip(genPred(2), Gen.chooseNum(0, 4)), 200) { case (pred, i) =>
      val spec = specs(i)
      val bound = Exprs.rewriteNot(Binder.bind(s2, pred))
      rowsSample.foreach { case (k, ts, tag) =>
        val record = Map(1 -> (k: Any), 2 -> (ts: Any), 3 -> (tag: Any))
        // the file's partition tuple for a file containing exactly this row
        val tuple = spec.fields.map(pf =>
          pf.transform.apply(record(pf.sourceId), s2.byId(pf.sourceId).fieldType))
        val res = Evaluators.residual(s2, spec, bound, tuple)
        assert(Evaluator.eval(res, record) === Evaluator.eval(bound, record),
          s"residual changed the filter: pred=$bound spec=${spec.specId} " +
            s"row=($k,$ts,$tag) tuple=$tuple residual=$res")
      }
    }
  }

  test("time transforms round-trip through human strings for recent dates") {
    forAllSampled(Gen.chooseNum(0, 40000)) { days =>
      val d = DayTransform.apply(days, IDate).asInstanceOf[Int]
      assert(d === days)
      val human = DayTransform.toHumanString(d, IDate)
      assert(java.time.LocalDate.parse(human).toEpochDay === days.toLong)
    }
  }

  test("uuid fixed[16] Spark-side normalization agrees with the JVM codec") {
    // the scan reader's hex rendering (ParquetShape) and
    // Conversions.fromBytes are two independent decoders of the same
    // 16-byte layout — random bits must agree (including bytes that are
    // not valid UTF-8)
    val render = graft.spark.ParquetShape.fixOf(IUUID).get
    forAllSampled(Gen.zip(Gen.long, Gen.long), 60) { case (hi, lo) =>
      val u = new java.util.UUID(hi, lo)
      val bytes = Conversions.toBytes(IUUID, u.toString)
      assert(Conversions.fromBytes(IUUID, bytes) === u.toString)
      assert(render(bytes).toString === u.toString)
    }
  }

  test("summary totals invariant: accumulated totals equal the live file set") {
    // the byte/delete totals are INCREMENTAL (parent totals + added -
    // removed, IceTable commitOnce) — drift would be invisible to any
    // single-commit test, so drive a random append/delete sequence and
    // re-derive the ground truth from planFiles() after every commit
    import org.apache.spark.sql.functions._
    val warehouse = java.nio.file.Files.createTempDirectory("prop-totals").toString
    val cat = new graft.catalog.HadoopCatalog(warehouse, spark)
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val t = cat.createTable("totals_t", Schema.fromSpark(orders.schema))
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { i =>
      if (i <= 2 || rnd.nextBoolean())
        t.append(orders.filter(col("o_orderkey") % 8 === rnd.nextInt(8)).limit(200))
      else {
        val cut = 1 + rnd.nextInt(1400)
        t.delete(s"o_orderkey < $cut and o_orderstatus = 'O'")
      }
      val files = t.scan.planFiles().map(_.file)
      val sm = t.metadata.currentSnapshot.get.summary
      assert(sm("total-files-size").toLong === files.map(_.fileSizeInBytes).sum,
        s"total-files-size drifted at step $i")
      assert(sm("total-data-files").toLong === files.size.toLong,
        s"total-data-files drifted at step $i")
      assert(sm("total-records").toLong === files.map(_.recordCount).sum,
        s"total-records drifted at step $i")
      assert(sm("total-delete-files").toLong === 0L)
    }
    // MoR: position deletes move the delete totals, data totals untouched
    t.deletePositional("o_orderkey < 100")
    val sm2 = t.metadata.currentSnapshot.get.summary
    assert(sm2("total-delete-files").toLong >= 1L)
    assert(sm2("total-position-deletes").toLong > 0L)
    val dataFiles = t.scan.planFiles().map(_.file)
    assert(sm2("total-data-files").toLong === dataFiles.size.toLong)
  }
}

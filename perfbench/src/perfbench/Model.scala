package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

/** One `orders` row in the column layout of the TPC-H-shaped test corpus
  * (`o_orderdate` as an epoch day). Prices are whole numbers, so every
  * sum the benchmark checks is exact in any summation order. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
    day: Int, priority: String) {
  def year: Int = LocalDate.ofEpochDay(day.toLong).getYear
}

/** One `customer` row (the dimension of the join view). */
final case class Customer(key: Long, nation: Int, segment: String)

/** A result that disagrees with the model. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Gen {
  val Statuses: Vector[String] = Vector("F", "O", "P")
  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Vector[String] =
    Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val FirstYear = 1992
  val LastYear = 1998
  def firstDay(year: Int): Int = LocalDate.of(year, 1, 1).toEpochDay.toInt
  def dayString(day: Int): String = LocalDate.ofEpochDay(day.toLong).toString
}

/** Seeded source of every row and operation argument a workload uses:
  * the same seed gives the same inputs. */
final class Gen(seed: Long) {
  import Gen._
  val rnd = new Random(seed)

  def int(n: Int): Int = rnd.nextInt(n)
  def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  def price(): Double = (1000 + rnd.nextInt(499000)).toDouble
  def day(): Int = {
    val lo = firstDay(FirstYear)
    lo + rnd.nextInt(firstDay(LastYear + 1) - lo)
  }
  def order(key: Long, customers: Int): Order =
    Order(key, 1L + rnd.nextInt(customers), pick(Statuses), price(), day(),
      pick(Priorities))
  def customer(key: Long): Customer =
    Customer(key, rnd.nextInt(25), pick(Segments))
  def shuffled(keys: Seq[Long]): Seq[Long] = rnd.shuffle(keys)
}

/** The live rows of one keyed table, kept apart from graft and updated
  * only from the rows and filters the benchmark generated. */
final class TableModel[K, R](keyOf: R => K) {
  val rows: mutable.LinkedHashMap[K, R] = mutable.LinkedHashMap.empty

  def append(rs: Seq[R]): Unit = rs.foreach(r => rows(keyOf(r)) = r)
  /** Returns (updated, inserted) with upsert's meaning: a matched row
    * counts as updated only when some column differs. */
  def upsert(rs: Seq[R]): (Long, Long) = {
    var upd = 0L; var ins = 0L
    rs.foreach { r =>
      rows.get(keyOf(r)) match {
        case Some(old) => if (old != r) upd += 1
        case None => ins += 1
      }
      rows(keyOf(r)) = r
    }
    (upd, ins)
  }
  def deleteWhere(p: R => Boolean): Unit =
    rows.filterInPlace { case (_, r) => !p(r) }
  def updateWhere(p: R => Boolean)(f: R => R): Unit =
    rows.mapValuesInPlace { case (_, r) => if (p(r)) f(r) else r }
  def values: Iterable[R] = rows.values
  def snapshot: Map[K, R] = rows.toMap
}

object Model {
  def orders(): TableModel[Long, Order] = new TableModel[Long, Order](_.key)
  def customers(): TableModel[Long, Customer] = new TableModel[Long, Customer](_.key)

  /** `SELECT priority, count(*), sum(price) ... GROUP BY priority`. */
  def aggByPriority(rows: Iterable[Order]): Map[String, (Long, Double)] =
    rows.groupBy(_.priority).map { case (p, g) => p -> ((g.size.toLong, g.map(_.price).sum)) }

  /** The aggregate view: per customer (count, sum, min, max) of price. */
  def aggView(rows: Iterable[Order]): Map[Long, (Long, Double, Double, Double)] =
    rows.groupBy(_.cust).map { case (c, g) =>
      val ps = g.map(_.price)
      c -> ((g.size.toLong, ps.sum, ps.min, ps.max))
    }

  /** The join view: orders ⋈ customer per market segment (count, sum). */
  def joinView(orders: Iterable[Order], cust: Map[Long, Customer]): Map[String, (Long, Double)] =
    orders.flatMap(o => cust.get(o.cust).map(c => c.segment -> o.price))
      .groupBy(_._1).map { case (s, g) => s -> ((g.size.toLong, g.map(_._2).sum)) }

  /** The top-k view: per priority the k highest prices, ties broken by the
    * lower key, as (priority, key) pairs. */
  def topK(rows: Iterable[Order], k: Int): Set[(String, Long)] =
    rows.groupBy(_.priority).toSeq.flatMap { case (p, g) =>
      g.toSeq.sortBy(o => (-o.price, o.key)).take(k).map(o => p -> o.key)
    }.toSet
}

/** The comparisons every workload makes, each returning the mismatch
  * message or None. Pure, so the self test can feed them corrupted
  * results. */
object Checks {
  private def diff[K, V](what: String, want: Map[K, V], got: Map[K, V]): Option[String] =
    if (want == got) None
    else {
      val keys = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
      val shown = keys.take(3).map(k => s"$k: want ${want.get(k)} got ${got.get(k)}")
      Some(s"$what: ${keys.size} keys differ (${shown.mkString("; ")})")
    }

  def rows(what: String, want: Iterable[Order], got: Seq[Order]): Option[String] =
    if (got.map(_.key).distinct.size != got.size) Some(s"$what: duplicate keys in result")
    else diff(what, want.map(o => o.key -> o).toMap, got.map(o => o.key -> o).toMap)

  def count(what: String, want: Long, got: Long): Option[String] =
    if (want == got) None else Some(s"$what: want $want rows, got $got")

  def groups[K, V](what: String, want: Map[K, V], got: Map[K, V]): Option[String] =
    diff(what, want, got)

  /** Row count, key set and price checksum of a table against its model. */
  def tableState(want: Iterable[Order], got: Seq[(Long, Double)]): Option[String] = {
    val wantKeys = want.map(_.key).toSet
    val gotKeys = got.map(_._1).toSet
    if (got.size != want.size) Some(s"row count: want ${want.size}, got ${got.size}")
    else if (gotKeys != wantKeys)
      Some(s"key set: ${(wantKeys -- gotKeys).size} missing, ${(gotKeys -- wantKeys).size} unexpected")
    else {
      val (w, g) = (want.map(_.price).sum, got.map(_._2).sum)
      if (w != g) Some(s"price checksum: want $w, got $g") else None
    }
  }

  def filesExist(paths: Seq[String], exists: String => Boolean): Option[String] =
    paths.filterNot(exists) match {
      case Seq() => None
      case missing => Some(s"${missing.size} referenced files missing, e.g. ${missing.head}")
    }

  def topK(want: Set[(String, Long)], got: Seq[(String, Long)]): Option[String] =
    if (got.distinct.size != got.size) Some("top-k view: duplicate rows")
    else if (want == got.toSet) None
    else Some(s"top-k view: ${(want -- got).size} missing, ${(got.toSet -- want).size} unexpected")

  /** Applying the changelog (deletes, then inserts, commit by commit) to
    * the rows before the range must give the rows after it. */
  def changelog(before: Map[Long, Order], after: Map[Long, Order],
      changes: Seq[(Int, String, Order)]): Option[String] = {
    val state = mutable.Map[Long, Order]() ++ before
    val problems = mutable.ArrayBuffer[String]()
    changes.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (ord, cs) =>
      cs.filter(_._2 == "delete").foreach { case (_, _, o) =>
        if (!state.get(o.key).contains(o)) problems += s"commit $ord deletes absent row ${o.key}"
        state -= o.key
      }
      cs.filter(_._2 == "insert").foreach { case (_, _, o) =>
        if (state.contains(o.key)) problems += s"commit $ord inserts present row ${o.key}"
        state(o.key) = o
      }
    }
    problems.headOption.map(p => s"changelog: $p")
      .orElse(diff("changelog replay", after, state.toMap))
  }
}

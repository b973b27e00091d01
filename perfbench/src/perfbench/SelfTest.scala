package perfbench

/** Shows that every check the workloads make passes on a right result and
  * catches a corrupted one. Needs no Spark: the checks are pure. Exits
  * non-zero on the first check that misses its corruption. */
object SelfTest {
  private var failures = 0

  private def expectCaught(what: String, right: Option[String], corrupted: Option[String]): Unit = {
    val ok = right.isEmpty && corrupted.isDefined
    if (!ok) failures += 1
    println(f"${if (ok) "ok  " else "FAIL"} $what%-44s right: ${right.getOrElse("passes")}; " +
      s"corrupted: ${corrupted.getOrElse("NOT CAUGHT")}")
  }

  def main(args: Array[String]): Unit = {
    val gen = new Gen(7)
    val rows = (1L to 200L).map(gen.order(_, 20))
    val m = Model.orders()
    m.append(rows)
    val live = m.values.toSeq
    val bumped = live.head.copy(price = live.head.price + 1)

    expectCaught("serve lookup: changed column",
      Checks.rows("lookup", Some(live.head), Seq(live.head)),
      Checks.rows("lookup", Some(live.head), Seq(bumped)))
    expectCaught("serve lookup: deleted row returned",
      Checks.rows("lookup", None, Nil), Checks.rows("lookup", None, Seq(live.head)))
    expectCaught("serve range count: one row off",
      Checks.count("range", 57, 57), Checks.count("range", 57, 58))
    val agg = Model.aggByPriority(live)
    val (p, (n, s)) = agg.head
    expectCaught("serve filtered aggregate: sum off by one",
      Checks.groups("agg", agg, Model.aggByPriority(live)),
      Checks.groups("agg", agg, agg.updated(p, (n, s + 1))))

    val state = live.map(o => (o.key, o.price))
    expectCaught("refresh orders state: lost row",
      Checks.tableState(live, state), Checks.tableState(live, state.tail))
    expectCaught("refresh orders state: duplicated row",
      Checks.tableState(live, state), Checks.tableState(live, state.tail :+ state(1)))
    expectCaught("refresh orders state: wrong key",
      Checks.tableState(live, state),
      Checks.tableState(live, (state.head._1 + 10000, state.head._2) +: state.tail))
    expectCaught("refresh orders state: price changed",
      Checks.tableState(live, state),
      Checks.tableState(live, (state.head._1, state.head._2 + 1) +: state.tail))
    val files = Seq("a.parquet", "b.parquet")
    expectCaught("refresh orders files: one missing",
      Checks.filesExist(files, _ => true), Checks.filesExist(files, _ != "b.parquet"))

    val customers = (1L to 20L).map(gen.customer)
    val cust = customers.map(c => c.key -> c).toMap
    val view = Model.aggView(live)
    val (ck, (cc, cs, cmn, cmx)) = view.head
    expectCaught("refresh aggregate view: stale max",
      Checks.groups("agg view", view, Model.aggView(live)),
      Checks.groups("agg view", view, view.updated(ck, (cc, cs, cmn, cmx - 1))))
    expectCaught("refresh aggregate view: group not retired",
      Checks.groups("agg view", view, view),
      Checks.groups("agg view", view, view.updated(-1L, (1L, 1.0, 1.0, 1.0))))
    val jv = Model.joinView(live, cust)
    val moved = cust.updated(live.head.cust, cust(live.head.cust).copy(segment = "NEW"))
    expectCaught("refresh join view: dimension change missed",
      Checks.groups("join view", Model.joinView(live, moved), Model.joinView(live, moved)),
      Checks.groups("join view", Model.joinView(live, moved), jv))
    val top = Model.topK(live, 5)
    val outsider = live.find(o => !top.contains((o.priority, o.key))).get
    expectCaught("refresh top-k view: wrong member",
      Checks.topK(top, top.toSeq),
      Checks.topK(top, top.toSeq.tail :+ (outsider.priority -> outsider.key)))

    val before = live.take(150).map(o => o.key -> o).toMap
    val after = (before - live.head.key) + (live(150).key -> live(150)) +
      (live(1).key -> live(1).copy(price = 5.0))
    val changes = Seq((0, "delete", live.head), (0, "insert", live(150)),
      (1, "delete", live(1)), (1, "insert", live(1).copy(price = 5.0)))
    expectCaught("refresh changelog: update's pre-image missing",
      Checks.changelog(before, after, changes),
      Checks.changelog(before, after, changes.filterNot(_ == ((1, "delete", live(1))))))
    expectCaught("refresh changelog: insert missing",
      Checks.changelog(before, after, changes),
      Checks.changelog(before, after, changes.filterNot(_ == ((0, "insert", live(150))))))

    if (failures > 0) {
      println(s"$failures checks missed their corruption")
      sys.exit(1)
    }
    println("every check caught its corruption")
  }
}

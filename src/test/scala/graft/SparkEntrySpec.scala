package graft

class SparkEntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has a runnable DataFrame at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      // noop materializes every column; count() lets Catalyst drop the
      // projections it does not need, a failing one included
      try df.write.format("noop").mode("overwrite").save()
      catch { case e: Exception => fail(s"$name failed to materialize", e) }
    }
  }

  test("a streaming query leaves no view behind and reruns to the same rows") {
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    def run() = SparkEntry.queries("q_dedup_windowed_stream")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(first == second)
    assert(spark.catalog.listTables().collect().map(_.name).toSet == views)
  }

  test("q_growth_accounting matches an in-memory state-machine model") {
    import org.apache.spark.sql.functions.{col, expr}
    val act = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts_ns div 604800000000000").as("w"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val firstW = act.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val weeks = act.map(_._2)
    val allW = (weeks.min to weeks.max + 1)
    val want = allW.map { w =>
      val activeNow = act.collect { case (u, `w`) => u }
      val activePrev = act.collect { case (u, pw) if pw == w - 1 => u }
      val nNew = activeNow.count(u => firstW(u) == w)
      val nRet = activeNow.count(activePrev)
      val nRes = activeNow.count(u => !activePrev(u) && firstW(u) < w)
      val nChurn = activePrev.count(u => !activeNow(u))
      (w, nNew.toLong, nRet.toLong, nRes.toLong, nChurn.toLong)
    }.filter(t => t._2 + t._3 + t._4 + t._5 > 0).toSeq.sorted
    val got = SparkEntry.queries("q_growth_accounting")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(got == want)
  }

  test("q1_agg groups and sums correctly") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 0)
    // group keys unique
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
    // total count_order equals filtered row count
    val li = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <= "1998-09-02")
    assert(rows.map(_.getAs[Long]("count_order")).sum == li.count())
  }
}

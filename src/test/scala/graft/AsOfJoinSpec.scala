package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOfJoin

/** Native as-of join (custom LogicalPlan + Strategy + SparkPlan): result
  * parity with the window formulation, physical-plan shape, and
  * null-padding semantics. */
class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private def native() = {
    val e = T(spark, sf001, "events")
    val errors = e.filter($"event_type" === "error")
      .select($"user_id".as("r_user"), $"ts".as("r_ts"),
        $"event_id".as("r_tie"), $"value".as("r_value"))
    AsOfJoin(e, errors, "user_id", "ts", "event_id", "r_user", "r_ts", "r_tie")
  }

  test("native as-of join == window last_value(IGNORE NULLS) formulation") {
    val got = native()
      .select($"event_id", $"user_id", $"event_type",
        $"r_value".as("last_error_value"))
      .orderBy($"event_id").collect().toSeq
    val expected = SparkEntry.queries("join_asof")(spark, sf001)
      .collect().toSeq
    assert(got == expected)
  }

  test("physical plan is the custom exec: one merge pass, no window, no union") {
    val s = native().queryExecution.executedPlan.toString
    // AQE wraps the tree, so match on the exec's nodeName in the string
    assert(s.contains("AsOfJoin"), s"no AsOfJoinExec:\n$s")
    assert(!s.contains("Window"), s"window exec crept in:\n$s")
    assert(!s.contains("Union"), s"union materialization crept in:\n$s")
  }

  test("custom Rule pushes left-side filters through the node into the scan") {
    val filtered = native().filter($"event_type" === "click")
    val s = filtered.queryExecution.executedPlan.toString
    assert(s.contains("EqualTo(event_type,click)"),
      s"filter did not reach the left parquet scan's PushedFilters:\n$s")
    // and pushing preserves semantics
    val expected = SparkEntry.queries("join_asof")(spark, sf001)
      .filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"event_type", $"last_error_value")
      .orderBy($"event_id").collect().toSeq
    val got = filtered
      .select($"event_id", $"user_id", $"event_type",
        $"r_value".as("last_error_value"))
      .orderBy($"event_id").collect().toSeq
    assert(got == expected)
  }

  test("randomized parity with the window formulation (20 generated sets)") {
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(300)
      val rows = (0 until n).map { i =>
        (i.toLong, new java.sql.Timestamp(1700000000000L +
          rnd.nextInt(120) * 1000L), // narrow range => frequent ts ties
          rnd.nextInt(8).toLong, rnd.nextInt(3) == 0, rnd.nextDouble() * 100)
      }
      val e = rows.toDF("event_id", "ts", "user_id", "is_err", "value")
      val right = e.filter($"is_err")
        .select($"user_id".as("r_user"), $"ts".as("r_ts"),
          $"event_id".as("r_tie"), $"value".as("r_value"))
      val nativeRes = AsOfJoin(e, right, "user_id", "ts", "event_id",
          "r_user", "r_ts", "r_tie")
        .select($"event_id", $"r_value")
        .orderBy($"event_id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Long.MinValue, 0)
      val windowRes = e
        .withColumn("r_value",
          last(when($"is_err", $"value"), ignoreNulls = true).over(w))
        .select($"event_id", $"r_value")
        .orderBy($"event_id").collect().toSeq
      assert(nativeRes == windowRes, s"seed=$seed")
    }
  }

  /** One generated event: (event_id, µs ts, user, is_error, value). */
  private type Ev = (Long, Long, Long, Boolean, Option[Double])

  /** Exhaustive as-of reference over one user's events: for event `e`,
    * the errors at-or-before / at-or-after it in (ts, event_id) order.
    * A value is carried from the nearest error whose value is not null
    * (the IGNORE NULLS frames); a distance is measured to the nearest
    * error of any value (the min/max µs frames). */
  private def reference(evs: Seq[Ev]): Map[Long, (Option[Double], Option[Double])] = {
    import scala.math.Ordering.Implicits._
    evs.groupBy(_._3).values.flatMap { user =>
      val errs = user.filter(_._4).sortBy(e => (e._2, e._1))
      user.map { case (id, ts, _, _, _) =>
        val before = errs.filter(x => (x._2, x._1) <= ((ts, id)))
        val after = errs.filter(x => (x._2, x._1) >= ((ts, id)))
        val leVal = before.reverse.flatMap(_._5).headOption
        val neVal = after.flatMap(_._5).headOption
        val nearest = (before.lastOption.map(_._2), after.headOption.map(_._2)) match {
          case (None, _) => neVal
          case (_, None) => leVal
          case (Some(le), Some(ne)) => if (ts - le <= ne - ts) leVal else neVal
        }
        id -> (neVal, nearest)
      }
    }.toMap
  }

  test("randomized parity: join_asof_forward / join_asof_nearest vs an exhaustive reference") {
    var nullErrors, tiedTs = 0
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 150 + rnd.nextInt(200)
      val users = 2 + rnd.nextInt(8)
      // the last user never errs; ts in a narrow range ⇒ frequent ties
      val evs: Seq[Ev] = (0 until n).map { i =>
        val u = rnd.nextInt(users).toLong
        val err = u != users - 1 && rnd.nextInt(4) == 0
        val v = if (err && rnd.nextInt(4) == 0) None else Some(rnd.nextInt(10000) / 100.0)
        (i.toLong, 1700000000000000L + rnd.nextInt(60) * 1000000L, u, err, v)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_asof_$seed").toString
      evs.map { case (id, ts, u, err, v) =>
        (id, new java.sql.Timestamp(ts / 1000), u, if (err) "error" else "click", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$dir/events.parquet")
      val want = reference(evs)
      def got(key: String, c: String) = SparkEntry.queries(key)(spark, dir)
        .select($"event_id", col(c)).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      assert(got("join_asof_forward", "next_error_value") == want.view.mapValues(_._1).toMap,
        s"forward, seed=$seed")
      assert(got("join_asof_nearest", "nearest_error_value") == want.view.mapValues(_._2).toMap,
        s"nearest, seed=$seed")
      nullErrors += evs.count(e => e._4 && e._5.isEmpty)
      tiedTs += evs.size - evs.map(e => (e._3, e._2)).distinct.size
    }
    assert(nullErrors > 0 && tiedTs > 0, "the generator must cover null values and tied ts")
  }

  test("type validation: non-integral key rejected, integer key widened") {
    val l = Seq((1, 10L, 1L, "a")).toDF("k", "ts", "tie", "payload")
    val r = Seq((1, 5L, 1L, 9.9)).toDF("rk", "rts", "rtie", "rv")
    // IntegerType key/tie: must be widened via cast, not read raw
    val joined = AsOfJoin(l, r, "k", "ts", "tie", "rk", "rts", "rtie")
    assert(joined.collect().head.getAs[Double]("rv") == 9.9)
    // string key: loud rejection, not silent garbage
    val bad = l.withColumn("k", lit("oops"))
    val ex = intercept[IllegalArgumentException](
      AsOfJoin(bad, r, "k", "ts", "tie", "rk", "rts", "rtie"))
    assert(ex.getMessage.contains("must be an integral type"))
  }

  test("runtime null in a join column fails loudly instead of mis-joining") {
    val l = Seq((Some(1L), 10L, 1L), (None, 20L, 2L))
      .toDF("k", "ts", "tie")
    val r = Seq((1L, 5L, 1L)).toDF("rk", "rts", "rtie")
    val ex = intercept[Exception](
      AsOfJoin(l, r, "k", "ts", "tie", "rk", "rts", "rtie").collect())
    assert(ex.getMessage != null)
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(ex).exists(_.contains("requires non-null")),
      s"expected the null-rejection error, got: $ex")
  }

  test("left rows with no eligible right row are null-padded") {
    val e = T(spark, sf001, "events")
    // a right side that can never match: errors shifted 100 years forward
    val future = e.filter($"event_type" === "error")
      .select($"user_id".as("r_user"),
        ($"ts" + expr("INTERVAL 36500 DAYS")).as("r_ts"),
        $"event_id".as("r_tie"), $"value".as("r_value"))
    val joined = AsOfJoin(e, future, "user_id", "ts", "event_id",
      "r_user", "r_ts", "r_tie")
    assert(joined.filter($"r_value".isNotNull).count() == 0)
    assert(joined.count() == e.count())
  }
}

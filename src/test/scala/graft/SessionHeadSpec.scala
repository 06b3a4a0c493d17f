package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.operators.EventOps.{HeadEvent, SessionHead}

/** The session-head fold ([[EventOps.headsOf]] under
  * [[EventOps.sessionHeads]]) against the window chain it replaced, kept
  * here as the reference: lag gap flag → running-sum session seq
  * ([[EventOps.sessionized]]), `row_number` per session capped at 8, then
  * one sorted `collect_list` per session. Generated per-user frames from
  * fixed seeds cover tied ts, equal ts with different event ids, gaps of
  * exactly 1800 s and 1800 s + 1 µs, sessions longer than 8 events,
  * single-event users and nulls in every column the fold reads. */
class SessionHeadSpec extends SparkSpec {

  private val T0 = 1700000000000000L // µs
  private val Gap = 1800000000L // µs
  private val Types = Vector("view", "click", "purchase", "error", "signup")

  private def ev(id: Long, tpe: String, us: Long): HeadEvent =
    HeadEvent(Some(id), tpe, Some(us))

  private def heads(evs: HeadEvent*): Seq[SessionHead] =
    EventOps.headsOf(Some(7L), evs.iterator).toSeq

  test("the pure fold: the 1800 s gap is exclusive, the cap keeps the gap clock") {
    val out = heads(ev(1, "a", T0), ev(2, "b", T0 + Gap), ev(3, "c", T0 + 2 * Gap + 1))
    assert(out.map(h => (h.session_seq, h.toks)) == Seq(1L -> Seq("a", "b"), 2L -> Seq("c")))
    // events 9 and 10 stay out of the head, but each moves prev_ts, so the
    // 11th event (one gap after the 10th) still continues the session
    val long = (1 to 10).map(i => ev(i, s"t$i", T0 + i * Gap)) :+ ev(11, "x", T0 + 11 * Gap)
    assert(heads(long: _*).map(h => (h.session_seq, h.toks)) ==
      Seq(1L -> (1 to 8).map(i => s"t$i")))
  }

  test("the pure fold: a null ts opens a session after it, not at it") {
    val nul = HeadEvent(Some(1), "n", None)
    // nulls sort first: every null-ts event and the first timed one open
    val out = heads(nul, nul.copy(event_id = Some(2)), ev(3, "a", T0), ev(4, "b", T0 + 1))
    assert(out.map(h => (h.session_seq, h.eids)) ==
      Seq(1L -> Seq(Some(1L)), 2L -> Seq(Some(2L)), 3L -> Seq(Some(3L), Some(4L))))
    // a null ts after a timed event stays in that event's session
    val after = EventOps.headStep(Some(EventOps.OpenSession(1, Some(T0), Vector.empty)), nul)
    assert(after._1.seq == 1 && after._2.isEmpty)
  }

  test("the pure fold emits each session when it closes") {
    var read = 0
    val it = Iterator.from(1).take(1000).map { i =>
      read += 1
      ev(i, "a", T0 + (if (i <= 3) i else 10 * Gap + i))
    }
    val out = EventOps.headsOf(None, it)
    assert(out.next().eids == Seq(Some(1L), Some(2L), Some(3L)))
    assert(read == 4, "the fold read past the event that closed the session")
  }

  /** One generated events table: (user_id, event_id, µs ts, event_type),
    * unique in (user_id, ts, event_id) so the arrival order has no ties
    * that either side could break its own way. */
  private def gen(seed: Int): Seq[(Option[Long], Option[Long], Option[Long], String)] = {
    val rnd = new scala.util.Random(seed)
    var nextId = 0L
    val rows = (0 until 40).flatMap { u =>
      val user = if (u == 0) None else Some(u.toLong)
      val n = if (u % 7 == 1) 1 else 1 + rnd.nextInt(if (u % 5 == 0) 25 else 12)
      var t = T0 + rnd.nextInt(1000) * 1000000L
      (0 until n).map { _ =>
        t += (rnd.nextInt(8) match {
          case 0 => 0L // tied ts
          case 1 => Gap
          case 2 => Gap + 1
          case 3 => Gap - 1
          case 4 => 3 * Gap
          case _ => rnd.nextInt(600) * 1000000L
        })
        nextId += 1 + rnd.nextInt(3)
        // ids run backwards within a tie now and then
        val id = if (rnd.nextInt(4) == 0) 1000000L - nextId else nextId
        (user,
          if (rnd.nextInt(20) == 0) None else Some(id),
          if (rnd.nextInt(20) == 0) None else Some(t),
          if (rnd.nextInt(10) == 0) null else Types(rnd.nextInt(Types.size)))
      }
    }
    rows.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toSeq
  }

  private def table(seed: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("session_head_spec").toString
    gen(seed).toDF("user_id", "event_id", "us", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** The replaced window chain: session head rows and `>`-terminated paths. */
  private def reference(dir: String): DataFrame = {
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    def field(f: String): Column = transform(col("seq"), x => x.getField(f))
    EventOps.sessionized(spark, dir)
      .withColumn("rn", row_number().over(bySession))
      .filter(col("rn") <= 8)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(struct(col("rn"), col("event_type"),
        col("event_id"), unix_micros(col("ts")).as("eus")))).as("seq"))
      .select(col("user_id"), col("session_seq"), field("event_type").as("toks"),
        field("event_id").as("eids"), field("eus").as("eps"),
        concat(concat_ws(">", field("event_type")), lit(">")).as("path"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("user_id", "session_seq", "toks", "eids", "eps", "path").collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted

  test("the fold gives the window chain's session heads and paths (fixed seeds)") {
    (1 to 6).foreach { seed =>
      val dir = table(seed)
      val want = rows(reference(dir))
      val got = rows(EventOps.sessionPaths(spark, dir))
      assert(want.size > 60, s"seed $seed: only ${want.size} sessions")
      assert(got == want, s"seed $seed:\n${got.diff(want).take(5).mkString("\n")}\nvs\n" +
        want.diff(got).take(5).mkString("\n"))
    }
  }

  test("the generated frames hold the cases the fold must get right") {
    val seeds = (1 to 6).map(gen)
    def any(p: Map[Option[Long], Seq[(Option[Long], Option[Long], Option[Long], String)]] =>
        Boolean) = seeds.exists(rs => p(rs.groupBy(_._1)))
    def gap(d: Long) = any(_.values.exists(u => u.flatMap(_._3).sorted.sliding(2)
      .exists { case Seq(a, b) => b - a == d; case _ => false }))
    assert(gap(0) && gap(Gap) && gap(Gap + 1), "a gap case is missing")
    assert(any(_.values.exists(_.groupBy(_._3).exists { case (t, es) =>
      t.isDefined && es.map(_._2).distinct.size > 1 })), "no equal ts with different ids")
    assert(any(_.values.exists(_.size > 8)) && any(_.values.exists(_.size == 1)))
    assert(any(_.contains(None)) && seeds.flatten.exists(_._2.isEmpty) &&
      seeds.flatten.exists(_._3.isEmpty) && seeds.flatten.exists(_._4 == null),
      "a null case is missing")
  }
}

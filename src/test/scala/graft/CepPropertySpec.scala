package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.flow.Cep
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, PatternSpan, PatternTail}

/** Randomized CEP properties against brute-force references that read the
  * pattern's STRUCTURE, never Cep's parse of its string:
  *
  *   - the streaming machine's pure fold ([[StreamOps.patternStep]]), fed
  *     random per-user sequences split at random micro-batch seams (each
  *     batch shuffled — the fold owns the (ts, event_id) order), against
  *     "does a window ending at this event match" over the whole sequence;
  *   - [[Cep.compile]]'s regex (Java's engine over the `a>b>` token
  *     string) against a backtracking matcher of the grammar.
  *
  * Fixed seeds, so every run checks the same cases. */
class CepPropertySpec extends AnyFunSuite {

  /** One generated step: atom (None = `.`), quantifier, alternatives. */
  private case class Step(atom: Option[Seq[String]], quant: Option[Char]) {
    def render: String = atom.fold(".") { alts =>
      if (alts.size == 1) alts.head else alts.mkString("(", "|", ")")
    } + quant.fold("")(_.toString)
    def accepts(t: String): Boolean = atom.forall(_.contains(t))
    /** Repetition bounds; `maxRep` caps `*` and `+`. */
    def reps(maxRep: Int): Range = quant match {
      case Some('*') => 0 to maxRep
      case Some('+') => 1 to maxRep
      case Some('?') => 0 to 1
      case _         => 1 to 1
    }
  }

  // "a" next to "ab"/"ba": token-boundary aliasing would show
  private val Alphabet = Vector("a", "b", "ab", "ba", "c")

  private def genStep(rnd: scala.util.Random, quantified: Boolean): Step = {
    val atom = rnd.nextInt(6) match {
      case 0 => None
      case 1 => Some(rnd.shuffle(Alphabet).take(2 + rnd.nextInt(2)))
      case _ => Some(Seq(Alphabet(rnd.nextInt(Alphabet.size))))
    }
    val quant =
      if (quantified && rnd.nextInt(2) == 0) Some("*+?"(rnd.nextInt(3))) else None
    Step(atom, quant)
  }

  private def genSteps(rnd: scala.util.Random, quantified: Boolean,
      minSteps: Int = 1): List[Step] =
    List.fill(minSteps + rnd.nextInt(5 - minSteps))(genStep(rnd, quantified))

  /** toks matches steps in full, each step repeated within `reps`. */
  private def fullMatch(steps: List[Step], toks: Seq[String],
      reps: Step => Range): Boolean = steps match {
    case Nil => toks.isEmpty
    case st :: rest => reps(st).exists { r =>
      r <= toks.size && toks.take(r).forall(st.accepts) &&
        fullMatch(rest, toks.drop(r), reps)
    }
  }

  // ---- the streaming machine's fold --------------------------------------

  private val BaseUs = 1704067200000000L
  private val GapsUs = Vector(0L, 1000000L, 30000000L, 600000000L, 7200000000L)
  private val WithinsUs = Vector(0L, 60000000L, 1800000000L, 7200000000L)

  private def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** One user's events in (ts, event_id) order: ties on ts are common and
    * ids are not monotone in arrival, so the tiebreak matters. */
  private def genEvents(rnd: scala.util.Random): Vector[Event] = {
    var us = BaseUs
    val ids = rnd.shuffle((1L to 40L).toVector)
    Vector.tabulate(rnd.nextInt(30)) { i =>
      us += GapsUs(rnd.nextInt(GapsUs.size))
      Event(ids(i), timestamp(us), 7L, Alphabet(rnd.nextInt(Alphabet.size)), 1.0)
    }.sortBy(e => (StreamOps.micros(e.ts), e.event_id))
  }

  /** The fold over random seams, each micro-batch shuffled. */
  private def runMachine(rnd: scala.util.Random,
      exps: Seq[Seq[Option[Seq[String]]]], withinUs: Long,
      events: Vector[Event]): Seq[PatternSpan] = {
    val cuts = (0 +: Vector.fill(rnd.nextInt(4))(rnd.nextInt(events.size + 1)) :+
      events.size).sorted
    val batches = cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
    batches.foldLeft((PatternTail.Empty, Seq.empty[PatternSpan])) {
      case ((tail, out), batch) =>
        assert(tail.types.size <= exps.map(_.length).max - 1)
        val (next, hits) = StreamOps.patternStep(exps, withinUs, tail, rnd.shuffle(batch))
        (next, out ++ hits)
    }._2
  }

  /** Brute force: event i completes a match when SOME start s ≤ i has
    * events s..i matching the steps and spanning ≤ withinUs. Reports the
    * shortest such window (only compared where the length is fixed). */
  private def reference(events: Vector[Event], withinUs: Long,
      matches: Seq[String] => Boolean): Seq[PatternSpan] = {
    val us = events.map(e => StreamOps.micros(e.ts))
    events.indices.flatMap { i =>
      (i to 0 by -1).find { s =>
        us(i) - us(s) <= withinUs && matches(events.slice(s, i + 1).map(_.event_type))
      }.map(s => PatternSpan(7L, events(s).event_id, events(i).event_id, us(i) - us(s)))
    }
  }

  /** 1 000 cases of one family: `gen` yields (steps, exps, withinUs,
    * maxRep, permute), or None for a pattern Cep rightly rejects. */
  private def family(seed: Int, spans: Boolean)(gen: scala.util.Random =>
      Option[(List[Step], Seq[Seq[Option[Seq[String]]]], Long, Int, Boolean)]): Unit = {
    val rnd = new scala.util.Random(seed)
    var cases, hits = 0
    while (cases < 1000) gen(rnd).foreach { case (steps, exps, withinUs, maxRep, permute) =>
      val events = genEvents(rnd)
      val matches: Seq[String] => Boolean =
        if (permute) toks => toks.size == steps.size &&
          steps.permutations.exists(p => p.zip(toks).forall { case (st, t) => st.accepts(t) })
        else toks => fullMatch(steps, toks, _.reps(maxRep))
      val got = runMachine(rnd, exps, withinUs, events)
      val want = reference(events, withinUs, matches)
      val pattern = steps.map(_.render).mkString(">")
      if (spans) assert(got == want, s"pattern '$pattern' within $withinUs over $events")
      else assert(got.map(_.last_event_id) == want.map(_.last_event_id),
        s"pattern '$pattern' within $withinUs over $events")
      cases += 1
      hits += want.size
    }
    assert(hits > 1000, s"only $hits hits in 1000 cases — the generator is too sparse")
  }

  private def literal(rnd: scala.util.Random, withinUs: Long) = {
    val steps = genSteps(rnd, quantified = false)
    Some((steps, Seq(Cep.literalSteps(steps.map(_.render).mkString(">"))),
      withinUs, 1, false))
  }

  private def quantified(rnd: scala.util.Random, withinUs: Long) = {
    val steps = genSteps(rnd, quantified = true)
    val maxRep = 1 + rnd.nextInt(3)
    // over-cap and all-optional patterns throw: not a case of this family
    scala.util.Try(Cep.expandedSteps(steps.map(_.render).mkString(">"), maxRep))
      .toOption.map(exps => (steps, exps, withinUs, maxRep, false))
  }

  test("machine fold == brute force: literal patterns") {
    family(11, spans = false)(rnd => literal(rnd, Long.MaxValue))
  }

  test("machine fold == brute force: literal patterns WITHIN a bound") {
    family(12, spans = false)(rnd =>
      literal(rnd, WithinsUs(rnd.nextInt(WithinsUs.size))))
  }

  test("machine fold == brute force: quantified patterns") {
    family(13, spans = false)(rnd => quantified(rnd, Long.MaxValue))
  }

  test("machine fold == brute force: quantified patterns WITHIN a bound") {
    family(14, spans = false)(rnd =>
      quantified(rnd, WithinsUs(rnd.nextInt(WithinsUs.size))))
  }

  test("machine fold == brute force: PERMUTE patterns") {
    family(15, spans = false) { rnd =>
      val steps = genSteps(rnd, quantified = false, minSteps = 2)
      Some((steps, Cep.permuteSteps(steps.map(_.render).mkString(">")),
        Long.MaxValue, 1, true))
    }
  }

  test("machine fold == brute force: MEASURES spans (first/last id, µs span)") {
    family(16, spans = true)(rnd =>
      literal(rnd, if (rnd.nextBoolean()) Long.MaxValue
        else WithinsUs(rnd.nextInt(WithinsUs.size))))
  }

  // ---- the compiled regex -------------------------------------------------

  test("Cep.compile regex == backtracking grammar matcher on 5 000 random cases") {
    val rnd = new scala.util.Random(17)
    var found = 0
    (1 to 5000).foreach { _ =>
      val steps = genSteps(rnd, quantified = true)
      val toks = Vector.fill(rnd.nextInt(10))(Alphabet(rnd.nextInt(Alphabet.size)))
      val pattern = steps.map(_.render).mkString(">")
      val got = java.util.regex.Pattern.compile(Cep.compile(pattern))
        .matcher(toks.map(_ + ">").mkString).find()
      // an unanchored contiguous window of whole tokens, possibly empty;
      // no step repeats more often than there are tokens
      val want = (0 to toks.size).exists(s => (s to toks.size).exists(e =>
        fullMatch(steps, toks.slice(s, e), _.reps(toks.size))))
      assert(got == want, s"pattern '$pattern' over ${toks.mkString(">")}")
      if (want) found += 1
    }
    assert(found > 500 && found < 4500, s"$found/5000 matched — a degenerate generator")
  }
}

package graft.flow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, element_at, explode, expr, lag, lit, map, sum, when}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.T

/** Declarative flow assembly — the reference's core UX [PK; SURVEY §1.1]:
  * a runtime-configured flow is an ordered list of instruction configs
  * (JSON) compiled into a pipeline. The reference compiles them into its
  * own execution graph; the Spark-first re-expression compiles each
  * instruction into a LAZY DataFrame transformation, so a compiled flow IS
  * a Catalyst logical plan — pushdown, pruning, join reorder, AQE all see
  * through the whole chain exactly as if the pipeline had been hand-written
  * in Scala. Config compilation adds ZERO execution-time machinery: there
  * is no interpreter in the hot path, only plan construction at compile
  * time (FlowSpec pins compiled-plan ≡ hand-written-plan on the physical
  * level, and the flow_* keys pin result equivalence through the DuckDB
  * oracle gate).
  *
  * Instruction vocabulary (all expressions are Spark SQL text, parsed by
  * the session's own parser — the flow author writes the same dialect
  * `spark.sql` accepts):
  *
  * {{{
  * {"steps": [
  *   {"op":"read","table":"customer"},                       // must be first
  *   {"op":"filter","where":"c_mktsegment = 'BUILDING'"},
  *   {"op":"join","right":{"steps":[...]},"on":"a = b",
  *    "how":"inner|left|semi|anti|...","broadcast":true},    // right = nested flow
  *   {"op":"derive","as":"rev","expr":"x * y"},              // window fns ride
  *                                                           // "... over (...)"
  *   {"op":"select","columns":["a","b as c"]},
  *   {"op":"agg","groupBy":["a"],"aggs":["sum(x) as s"]},   // keys are exprs
  *   {"op":"watermark","col":"ts","delay":"10 minutes"},    // no-op on batch
  *   {"op":"distinct"}, {"op":"union","right":{...}},
  *   {"op":"translate","field":"code","as":"label",
  *    "dict":{"200":"ok","404":"missing"},"default":"other"},
  *   {"op":"dissect","field":"line","pattern":"%{a} [%{b}] x=%{c}"},
  *   {"op":"grok","field":"line","pattern":"%{IPV4:ip} %{INT:n:int}"},
  *   {"op":"cep","field":"path","pattern":"a>(b|c)*>d","as":"matched"},
  *   {"op":"orderBy","by":["s desc","a"]}, {"op":"limit","n":10}
  * ]}
  * }}}
  *
  * Multi-output topologies (the reference's conditional fan-out to N
  * sinks [PK: eventstreams flow routing; Logstash output conditionals])
  * compile through [[routes]]: the flow's FINAL step is `route`, whose
  * branches get first-match-wins row partitions of the shared prefix.
  */
object Flow {

  /** Compile a JSON flow spec against the sf-dir tables. Fails loudly on
    * an unknown op or missing field — a typo'd config must not silently
    * compile to a different pipeline. */
  def compile(spark: SparkSession, dir: String, spec: String): DataFrame =
    build(spark, dir, JsonMethods.parse(spec))

  /** Compile a flow spec ON a bound input frame instead of a `read` step —
    * the STREAMING entry point: pass `readStream`'s frame (or a
    * MemoryStream's) and the SAME config that runs in batch runs as a
    * Structured Streaming pipeline (`watermark` is a no-op on batch
    * frames, exactly Spark's own semantics, so one config serves both
    * sides of a lambda-free deployment — FlowSpec/StreamingSpec pin
    * stream ≡ batch for a shared spec). Nested join branches still read
    * tables from `dir` (the stream–static enrich shape). */
  def compileOn(spark: SparkSession, dir: String, input: DataFrame,
      spec: String): DataFrame = {
    val steps = JsonMethods.parse(spec) \ "steps" match {
      case JArray(xs) => xs
      case other      => sys.error(s"flow: 'steps' must be an array, got $other")
    }
    require(steps.nonEmpty, "flow: empty steps")
    steps.foldLeft(input) { (df, st) =>
      require(str(st, "op") != "read",
        "flow: compileOn flows start from the bound input, not 'read'")
      step(spark, dir, Some(df), st)
    }
  }

  /** Compile a ROUTING flow — the multi-sink topology: ordinary steps up
    * to a terminal `route` op, whose branches partition the shared prefix
    * first-match-wins (Logstash if / else-if / else semantics: a row
    * matching two branch conditions lands ONLY in the first). Returns the
    * per-branch frames in declaration order, `otherwise` last (the
    * unmatched remainder; omitted from the config = unmatched rows drop,
    * the Logstash default).
    *
    * Scale shape: the classifier is ONE when-chain projection over ONE
    * shared prefix frame — branches are filters on the tag column, so the
    * prefix plan (scan + upstream transforms) is declared once and each
    * branch's filter pushes into it; no per-branch re-classification, no
    * shuffle introduced by the split itself (the dq_dead_letter
    * discipline, generalized to N config-declared outputs). */
  def routes(s: SparkSession, dir: String,
      spec: String): Seq[(String, DataFrame)] = {
    val v = JsonMethods.parse(spec)
    val steps = v \ "steps" match {
      case JArray(xs) => xs
      case other      => sys.error(s"flow: 'steps' must be an array, got $other")
    }
    require(steps.nonEmpty, "flow: empty steps")
    require(str(steps.last, "op") == "route",
      "flow: a routing flow's final step must be 'route'")
    require(steps.init.forall(st => str(st, "op") != "route"),
      "flow: 'route' must be the final step (branches cannot re-route)")
    val prefix = steps.init
      .foldLeft(Option.empty[DataFrame])((acc, st) => Some(step(s, dir, acc, st)))
      .getOrElse(sys.error("flow: 'route' needs at least a 'read' before it"))
    branchesOf(s, dir, prefix, steps.last)
  }

  /** Shared branch compilation for [[routes]] (batch, `read`-headed) and
    * [[routesOn]] (bound input / streaming): one first-match-wins
    * when-chain classifies the prefix, each branch filters its tag and
    * appends its own steps. */
  private def branchesOf(s: SparkSession, dir: String, prefix: DataFrame,
      rt: JValue): Seq[(String, DataFrame)] = {
    val branches = rt \ "branches" match {
      case JArray(xs) if xs.nonEmpty => xs
      case other => sys.error(s"flow: 'branches' must be a non-empty array, got $other")
    }
    val names = branches.map(b => str(b, "name"))
    require(names.distinct.size == names.size,
      s"flow: duplicate branch names in $names")
    require(names.forall(n => n != OtherwiseBranch),
      s"flow: branch name '$OtherwiseBranch' is reserved for the remainder")
    // First-match-wins tag: one chained CASE over the shared prefix. Rows
    // matching nothing tag as the reserved otherwise name.
    val tag = branches.foldLeft(Option.empty[Column]) { (acc, b) =>
      val arm = (expr(str(b, "when")), lit(str(b, "name")))
      Some(acc.fold(when(arm._1, arm._2))(_.when(arm._1, arm._2)))
    }.get.otherwise(lit(OtherwiseBranch))
    val classified = prefix.withColumn(BranchCol, tag)
    def branchOut(name: String, branchSteps: JValue): (String, DataFrame) = {
      val in = classified.filter(col(BranchCol) === name).drop(BranchCol)
      name -> applyBranchSteps(s, dir, in, branchSteps)
    }
    val routed = branches.map(b => branchOut(str(b, "name"), b \ "steps"))
    rt \ "otherwise" match {
      case JNothing => routed
      case ow       => routed :+ branchOut(OtherwiseBranch, ow)
    }
  }

  /** A branch's trailing steps over its input rows (shared by `route`'s
    * filtered partitions and `clone`'s full copies). */
  private def applyBranchSteps(s: SparkSession, dir: String, in: DataFrame,
      branchSteps: JValue): DataFrame = branchSteps match {
    case JNothing   => in
    case JArray(xs) => xs.foldLeft(in) { (df, st) =>
      require(str(st, "op") != "read",
        "flow: branch steps transform the branch rows, not a new 'read'")
      step(s, dir, Some(df), st)
    }
    case other => sys.error(s"flow: branch 'steps' must be an array, got $other")
  }

  /** Compile a CLONING flow — `route`'s unconditional sibling [PK:
    * Logstash clone filter]: ordinary steps up to a terminal `clone` op,
    * whose branches EACH receive every prefix row (duplication into N
    * parallel continuations — fan-out to an archive sink AND a metrics
    * rollup AND an alerting filter from one ingest), unlike `route`'s
    * first-match-wins partition. Returns per-branch frames in declaration
    * order.
    *
    * Scale shape: the shared prefix is declared ONCE and each branch is a
    * lazy continuation of the same logical plan — Spark's one-query-per-
    * sink model means each sink's query re-reads the (pushdown-pruned)
    * prefix, exactly how N writeStream sinks over one source behave; no
    * row is ever physically copied N times inside one plan. */
  def clones(s: SparkSession, dir: String,
      spec: String): Seq[(String, DataFrame)] = {
    val steps = JsonMethods.parse(spec) \ "steps" match {
      case JArray(xs) => xs
      case other      => sys.error(s"flow: 'steps' must be an array, got $other")
    }
    require(steps.nonEmpty, "flow: empty steps")
    require(str(steps.last, "op") == "clone",
      "flow: a cloning flow's final step must be 'clone'")
    require(steps.init.forall(st => str(st, "op") != "clone"),
      "flow: 'clone' must be the final step (branches cannot re-clone)")
    val prefix = steps.init
      .foldLeft(Option.empty[DataFrame])((acc, st) => Some(step(s, dir, acc, st)))
      .getOrElse(sys.error("flow: 'clone' needs at least a 'read' before it"))
    cloneBranchesOf(s, dir, prefix, steps.last)
  }

  private def cloneBranchesOf(s: SparkSession, dir: String, prefix: DataFrame,
      ct: JValue): Seq[(String, DataFrame)] = {
    val branches = ct \ "branches" match {
      case JArray(xs) if xs.nonEmpty => xs
      case other => sys.error(s"flow: 'branches' must be a non-empty array, got $other")
    }
    val names = branches.map(b => str(b, "name"))
    require(names.distinct.size == names.size,
      s"flow: duplicate branch names in $names")
    branches.map(b =>
      str(b, "name") -> applyBranchSteps(s, dir, prefix, b \ "steps"))
  }

  /** Compile a routing flow ON a bound input frame — the STREAMING
    * multi-sink topology: pass `readStream`'s frame (or a MemoryStream's)
    * and the same route config fans the live stream into per-branch
    * frames, each of which the caller hands to its own `writeStream` sink
    * (Spark's one-query-per-sink model; the shared prefix plan is
    * per-query but the CLASSIFICATION is still a single when-chain
    * projection inside each). Identical first-match-wins semantics to
    * [[routes]]; StreamingSpec pins stream ≡ batch per branch. */
  def routesOn(s: SparkSession, dir: String, input: DataFrame,
      spec: String): Seq[(String, DataFrame)] = {
    val steps = JsonMethods.parse(spec) \ "steps" match {
      case JArray(xs) => xs
      case other      => sys.error(s"flow: 'steps' must be an array, got $other")
    }
    require(steps.nonEmpty, "flow: empty steps")
    require(str(steps.last, "op") == "route",
      "flow: a routing flow's final step must be 'route'")
    require(steps.init.forall(st => str(st, "op") != "route"),
      "flow: 'route' must be the final step (branches cannot re-route)")
    val prefix = steps.init.foldLeft(input) { (df, st) =>
      require(str(st, "op") != "read",
        "flow: routesOn flows start from the bound input, not 'read'")
      step(s, dir, Some(df), st)
    }
    branchesOf(s, dir, prefix, steps.last)
  }

  private val OtherwiseBranch = "otherwise"
  private val BranchCol = "__graft_branch"

  private def build(s: SparkSession, dir: String, v: JValue): DataFrame = {
    val steps = v \ "steps" match {
      case JArray(xs) => xs
      case other      => sys.error(s"flow: 'steps' must be an array, got $other")
    }
    require(steps.nonEmpty, "flow: empty steps")
    steps.foldLeft(Option.empty[DataFrame]) { (acc, st) =>
      Some(step(s, dir, acc, st))
    }.get
  }

  private def step(s: SparkSession, dir: String, acc: Option[DataFrame],
      st: JValue): DataFrame = {
    val op = str(st, "op")
    if (op == "read") {
      require(acc.isEmpty, "flow: 'read' must be the first step")
      return T(s, dir, str(st, "table"))
    }
    val df = acc.getOrElse(sys.error(s"flow: '$op' before any 'read'"))
    op match {
      case "filter"  => df.filter(str(st, "where"))
      case "derive"  => df.withColumn(str(st, "as"), expr(str(st, "expr")))
      case "select"  => df.selectExpr(strList(st, "columns"): _*)
      case "watermark" =>
        df.withWatermark(str(st, "col"), str(st, "delay"))
      case "write" =>
        // Sink instruction: materialize to a tag-keyed scratch path and
        // hand the READ-BACK frame to the next step, so flows can chain
        // past a materialization point (the reference's sink→source
        // handoff). The path is keyed by (tag, input dir) like every
        // scratch dir — two input dirs in one JVM must not collide.
        val tag = str(st, "tag")
        require(tag.matches("[A-Za-z0-9_]+"),
          s"flow: write tag must be [A-Za-z0-9_]+, got '$tag'")
        // A streaming frame cannot batch-write, and the read-back would
        // silently turn the rest of the chain into batch — fail at the
        // flow level, not with Spark's raw AnalysisException.
        require(!df.isStreaming,
          "flow: 'write' is batch-only — a streaming flow ends at the " +
            "caller's writeStream sink, not a mid-flow 'write' step")
        val path = graft.operators.Scale.scratchDir(s"flow_$tag", dir)
        df.write.mode("overwrite").parquet(path)
        s.read.parquet(path)
      case "join" =>
        val right0 = build(s, dir, st \ "right")
        val right = if (bool(st, "broadcast")) broadcast(right0) else right0
        df.join(right, expr(str(st, "on")),
          strOpt(st, "how").getOrElse("inner"))
      case "agg" =>
        // groupBy entries are expressions, not just names — window(ts, …)
        // bucketing and computed keys arrive the same way columns do.
        val aggs = strList(st, "aggs").map(expr)
        require(aggs.nonEmpty, "flow: 'aggs' must be non-empty")
        df.groupBy(strList(st, "groupBy").map(expr): _*)
          .agg(aggs.head, aggs.tail: _*)
      case "distinct" => df.distinct()
      case "union"    => df.unionByName(build(s, dir, st \ "right"))
      case "orderBy"  => df.orderBy(strList(st, "by").map(expr): _*)
      case "limit"    => df.limit(int(st, "n"))
      case "translate" =>
        // Dictionary enrich [PK: Logstash translate filter]: the config's
        // key→value dict compiles to a MAP LITERAL + element_at — the
        // lookup rides inside codegen in every task, no join, no shuffle,
        // no broadcast variable to manage. Config dicts are dim-sized by
        // nature (they are typed into a file); a lookup too big to inline
        // is a broadcast-join enrich, not a translate.
        val dict = st \ "dict" match {
          case JObject(fields) if fields.nonEmpty => fields.map {
            case (k, JString(x)) => (k, x)
            case (k, other) =>
              sys.error(s"flow: translate dict value for '$k' must be a string, got $other")
          }
          case other =>
            sys.error(s"flow: 'dict' must be a non-empty object, got $other")
        }
        val lookup = element_at(
          map(dict.flatMap { case (k, x) => Seq(lit(k), lit(x)) }: _*),
          col(str(st, "field")).cast("string"))
        df.withColumn(str(st, "as"),
          strOpt(st, "default").map(dflt => coalesce(lookup, lit(dflt)))
            .getOrElse(lookup))
      case "cep" =>
        // Sequence-pattern match as config (round-11) [PK: the reference's
        // signal-correlation shape; SQL MATCH_RECOGNIZE's pattern clause]:
        // a compact `a>(b|c)*>d` pattern over a token-joined sequence
        // column. mode "match" (default) compiles (see [[Cep]]) to ONE
        // regex shared verbatim with the DuckDB oracle, evaluated by
        // regexp_like inside codegen; mode "count" counts occurrence
        // START POSITIONS of a quantifier-free pattern over the token
        // array (Cep.literalSteps documents why regex counting can't be
        // boundary-exact without lookbehind) — one filter/size HOF, still
        // one codegen projection.
        strOpt(st, "mode").getOrElse("match") match {
          case "match" =>
            df.withColumn(str(st, "as"),
              org.apache.spark.sql.functions.regexp_like(
                col(str(st, "field")), lit(Cep.compile(str(st, "pattern")))))
          case "count" =>
            // Bounded quantifiers (round-12): the pattern expands to its
            // literal step sequences (Cep.expandedSteps — `?`/`*`/`+`
            // become explicit repetition counts up to `max_rep`, default
            // 2) and a start position counts when ANY expansion matches
            // there. A quantifier-free pattern is the 1-expansion special
            // case — bit-identical to the round-11 behavior. Longer
            // expansions guard their window with CASE WHEN (conditional
            // evaluation is guaranteed; a bare AND may still evaluate the
            // out-of-range element_at under ANSI mode and throw).
            // PERMUTE (round-12): `"permute": true` counts the steps in
            // ANY order (SQL MATCH_RECOGNIZE's PERMUTE clause) — the
            // orderings feed the same existential OR the quantifier
            // expansions use; quantifiers inside a permute are rejected
            // by the literal parse (an ordering of variable-length steps
            // is ambiguous), and skip past_last's single-expansion
            // require below rejects the combination too.
            val exps =
              if (bool(st, "permute")) Cep.permuteSteps(str(st, "pattern"))
              else Cep.expandedSteps(str(st, "pattern"),
                intOpt(st, "max_rep").getOrElse(2))
            val minK = exps.map(_.length).min
            // toks drops empty strings (the trailing-separator artifact)
            val toks = s"filter(split(${str(st, "field")}, '>'), x -> x != '')"
            val cond = exps.map { steps =>
              val inner = stepCond(st, "cep", toks, steps)
              if (steps.length == minK) s"($inner)"
              else s"(CASE WHEN i + ${steps.length - 1} <= size($toks) " +
                s"THEN $inner ELSE false END)"
            }.mkString(" OR ")
            val starts = s"filter(sequence(1, size($toks) - ${minK - 1}), " +
              s"i -> $cond)"
            // AFTER MATCH SKIP semantics (round-12): default counts every
            // start position (overlap-friendly); "past_last" counts
            // non-overlapping occurrences greedily left to right — SQL
            // MATCH_RECOGNIZE's AFTER MATCH SKIP PAST LAST ROW. The scan
            // is ONE fold over the ascending start positions with the
            // (nextAllowed, count) state packed into a single long
            // (base 10^6 — positions and counts are session-bounded), so
            // the identical arithmetic runs as aggregate() here and
            // list_reduce() in the oracle.
            val counted = strOpt(st, "skip") match {
              case None => s"size($starts)"
              case Some("past_last") =>
                // greedy skip needs ONE match length; quantifiers make
                // "past last row" ambiguous, so they are rejected loudly
                require(exps.size == 1, "flow: cep skip past_last requires " +
                  s"a quantifier-free pattern, got '${str(st, "pattern")}'")
                val k = exps.head.length
                s"aggregate($starts, 1000000L, (acc, p) -> " +
                  s"CASE WHEN p >= acc div 1000000 THEN " +
                  s"cast((p + $k) as bigint) * 1000000 + acc % 1000000 + 1 " +
                  s"ELSE acc END) % 1000000"
              case Some(other) =>
                sys.error(s"flow: cep skip '$other' (want past_last)")
            }
            // the size guard stops sequence() from running backwards on
            // sessions shorter than the shortest expansion
            df.withColumn(str(st, "as"), expr(
              s"CASE WHEN size($toks) >= $minK THEN " +
                s"$counted ELSE 0 END").cast("long"))
          case other =>
            sys.error(s"flow: cep mode '$other' (want match|count)")
        }
      case "sessionize" =>
        // Gap-based sessionization as config (round-12) — the #1 event-
        // analytics primitive, until now hand-written per key (the
        // EventOps.sessionized shape): a new session starts when the gap
        // to the previous event exceeds `gap_s`. The running window-SUM of
        // session starts IS the session id — one window pass, no state
        // machine. `tiebreak` pins total order under equal timestamps
        // (the determinism discipline every windowed key follows); the
        // internal prev-ts column is dropped so the step is transparent
        // to downstream instructions.
        val byCol = str(st, "by"); val tsCol = str(st, "ts")
        val gapS = int(st, "gap_s"); val outCol = str(st, "as")
        val ord = Seq(col(tsCol)) ++ strOpt(st, "tiebreak").map(col).toSeq
        val w = Window.partitionBy(col(byCol)).orderBy(ord: _*)
        df.withColumn("_graft_prev_ts", lag(col(tsCol), 1).over(w))
          .withColumn(outCol, sum(
            when(col("_graft_prev_ts").isNull ||
              col(tsCol).cast("double") - col("_graft_prev_ts").cast("double")
                > gapS.toDouble, 1L)
              .otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .drop("_graft_prev_ts")

      case "cep_spans" =>
        // Matched-span EXTRACTION as config (round-12) — MATCH_RECOGNIZE's
        // ONE ROW PER MATCH shape: every start position of a
        // quantifier-free pattern over an ALIGNED token array explodes
        // into its own row, and downstream `derive` steps read the
        // MEASURES off sibling aligned arrays (ids, epochs) with
        // element_at — FIRST(x)/LAST(x) as plain config expressions.
        // `toks` names an array<string> column; optional `within_s` +
        // `epochs` bound the span exactly as the count mode does.
        // Sessions without a match drop (explode of an empty array), the
        // MATCH_RECOGNIZE default.
        val steps = Cep.literalSteps(str(st, "pattern"))
        val k = steps.length
        val toks = str(st, "toks")
        val cond = stepCond(st, "cep_spans", toks, steps)
        df.withColumn(str(st, "as"), explode(expr(
          s"CASE WHEN size($toks) >= $k THEN " +
            s"filter(sequence(1, size($toks) - ${k - 1}), i -> $cond) " +
            s"ELSE cast(array() as array<int>) END")))

      case "grok" =>
        // Named-pattern extraction as config [PK: Logstash grok filter]:
        // the ONE-PASS GrokCapture machinery the fn_grok_* keys pin (one
        // regex match per row, element_at per field), reached from a flow
        // spec. Each extracted field lands as a typed column (int/float
        // coercions ride the %{PAT:name:int} syntax); an existing column
        // of the same name is overwritten (Logstash overwrite semantics).
        // All fields land in ONE select against the PRE-PARSE frame — a
        // withColumn fold would let a field named like the source column
        // clobber it mid-fold and corrupt every later field's extraction.
        {
          val compiled = graft.functions.Grok.compile(str(st, "pattern"))
          val cols = graft.functions.Grok
            .columnsOnePassCompiled(s)(col(str(st, "field")), compiled)
          overwriteInPlace(df, compiled._2.map(_.name).zip(cols))
        }
      case "dissect" =>
        // Positional parse as config [PK: Logstash dissect filter]: the
        // fn_dissect locate/substring compile, all-or-nothing on a
        // separator miss. Same one-projection discipline as grok above.
        overwriteInPlace(df, graft.functions.Dissect
          .fields(col(str(st, "field")), str(st, "pattern"))
          .map { case (n, c) => n -> c.as(n) })
      case "route" =>
        sys.error("flow: 'route' is only valid as the final step of a " +
          "routing flow — compile it with Flow.routes, not Flow.compile")
      case "clone" =>
        sys.error("flow: 'clone' is only valid as the final step of a " +
          "cloning flow — compile it with Flow.clones, not Flow.compile")
      case other      => sys.error(s"flow: unknown op '$other'")
    }
  }

  /** The window test shared by `cep` count mode and `cep_spans`: the
    * token array `toks` holds `steps` at start position `i` (Spark SQL
    * text over the HOF's `i`). WITHIN time bound (round-12) — the
    * MATCH_RECOGNIZE / CEP "A then B within W" clause: with `within_s`
    * an occurrence only counts when the span from its first to its last
    * matched step fits the window. Needs `epochs`, an array<long> of µs
    * timestamps ALIGNED with the token sequence (built from the same
    * sorted collect); integer µs on both engines — no float enters the
    * compare. */
  private def stepCond(st: JValue, op: String, toks: String,
      steps: Seq[Option[Seq[String]]]): String = {
    val k = steps.length
    val conds = steps.zipWithIndex.collect {
      case (Some(alts), j) =>
        val in = alts.map(a => s"'$a'").mkString("(", ", ", ")")
        s"element_at($toks, i + $j) IN $in"
    }
    val withinCond = intOpt(st, "within_s").map { w =>
      val eps = strOpt(st, "epochs").getOrElse(sys.error(
        s"flow: $op within_s needs 'epochs' (aligned array<long> µs column)"))
      s"element_at($eps, i + ${k - 1}) - element_at($eps, i) <= " +
        s"${w.toLong * 1000000L}L"
    }
    (conds ++ withinCond) match {
      case Nil => "true"
      case cs  => cs.mkString(" AND ")
    }
  }

  /** ONE projection that overwrites same-named columns IN PLACE (schema
    * position preserved for positional consumers — parquet readers,
    * getLong(i) callers) and appends net-new fields at the end: the
    * withColumn-fold overwrite semantics without its evaluate-against-
    * the-already-overwritten-frame bug (all expressions resolve against
    * the PRE-parse frame). */
  private def overwriteInPlace(df: DataFrame,
      fields: Seq[(String, Column)]): DataFrame = {
    val byName = fields.toMap
    val existing = df.columns.toSet
    df.select(df.columns.map(c => byName.getOrElse(c, col(c))) ++
      fields.collect { case (n, c) if !existing(n) => c }: _*)
  }

  private def str(v: JValue, k: String): String = v \ k match {
    case JString(x) => x
    case other      => sys.error(s"flow: field '$k' must be a string, got $other")
  }

  private def strOpt(v: JValue, k: String): Option[String] = v \ k match {
    case JString(x) => Some(x)
    case JNothing   => None
    case other      => sys.error(s"flow: field '$k' must be a string, got $other")
  }

  private def strList(v: JValue, k: String): Seq[String] = v \ k match {
    case JArray(xs) => xs.map {
      case JString(x) => x
      case other      => sys.error(s"flow: '$k' entries must be strings, got $other")
    }
    case other => sys.error(s"flow: field '$k' must be an array, got $other")
  }

  private def int(v: JValue, k: String): Int = v \ k match {
    case JInt(x) => x.toInt
    case other   => sys.error(s"flow: field '$k' must be an int, got $other")
  }

  private def intOpt(v: JValue, k: String): Option[Int] = v \ k match {
    case JInt(x)  => Some(x.toInt)
    case JNothing => None
    case other    => sys.error(s"flow: field '$k' must be an int, got $other")
  }

  private def bool(v: JValue, k: String): Boolean = v \ k match {
    case JBool(x) => x
    case JNothing => false
    case other    => sys.error(s"flow: field '$k' must be a bool, got $other")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.flow.Flow
import graft.operators.FlowOps

/** Plan-level pins for the flow compiler: a compiled flow is a Catalyst
  * logical plan, so the optimizer must see THROUGH the config — filters
  * reach the parquet scan, the compiled chain equals a hand-written twin
  * on values, and bad configs fail loudly at compile time. */
class FlowSpec extends SparkSpec {

  test("compiled flow result equals the hand-written twin") {
    val compiled = Flow.compile(spark, sf001, FlowOps.starAggSpec).collect()
    val hand = T(spark, sf001, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .join(T(spark, sf001, "orders"),
        col("c_custkey") === col("o_custkey"))
      .join(T(spark, sf001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("o_orderpriority"))
      .collect()
    assert(compiled.toSeq === hand.toSeq)
  }

  test("filter instruction pushes down to the parquet scan") {
    val plan = Flow.compile(spark, sf001, FlowOps.starAggSpec)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("c_mktsegment"),
      s"compiled filter did not reach the scan:\n$plan")
  }

  test("column pruning reaches the scan through the compiled chain") {
    val plan = Flow.compile(spark, sf001, FlowOps.docPipelineSpec)
      .queryExecution.executedPlan.toString
    // Assert against the scan's ReadSchema specifically — the whole-plan
    // string can mention doc_id incidentally (paths, metrics, schema text
    // of other nodes) without the scan actually reading the column.
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty, s"no ReadSchema line in plan:\n$plan")
    assert(readSchemas.forall(!_.contains("doc_id")),
      s"unreferenced column doc_id not pruned from the scan: $readSchemas")
  }

  test("bad configs fail loudly at compile time") {
    intercept[RuntimeException] {
      Flow.compile(spark, sf001, """{"steps":[{"op":"transmogrify"}]}""")
    }
    intercept[RuntimeException] {
      Flow.compile(spark, sf001,
        """{"steps":[{"op":"filter","where":"1=1"}]}""")
    }
    intercept[RuntimeException] {
      Flow.compile(spark, sf001, """{"steps":[]}""")
    }
    // empty aggs and a mid-flow route each get the named flow-level error
    val eAggs = intercept[IllegalArgumentException] {
      Flow.compile(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"agg","groupBy":["event_type"],"aggs":[]}]}""".stripMargin)
    }
    assert(eAggs.getMessage.contains("aggs"))
    val eRoute = intercept[RuntimeException] {
      Flow.compile(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"route","branches":[{"name":"a","when":"1=1"}]},
          |{"op":"distinct"}]}""".stripMargin)
    }
    assert(eRoute.getMessage.contains("routes"))
  }

  test("write on a streaming frame fails with a flow-level error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int]
    val e = intercept[IllegalArgumentException] {
      Flow.compileOn(spark, sf001, in.toDF(),
        """{"steps":[{"op":"write","tag":"nope"}]}""")
    }
    assert(e.getMessage.contains("batch-only"))
  }

  test("route partitions the prefix first-match-wins, nothing lost") {
    // Overlapping conditions: every big_purchase row also satisfies
    // any_purchase — it must land ONLY in the first branch. The raw
    // branch frames (no branch steps) must partition the prefix exactly.
    val spec =
      """{"steps":[
        |{"op":"read","table":"events"},
        |{"op":"route","branches":[
        | {"name":"big","when":"event_type = 'purchase' AND value >= 100"},
        | {"name":"purchase","when":"event_type = 'purchase'"}]}
        |]}""".stripMargin
    val outs = Flow.routes(spark, sf001, spec).toMap
    assert(outs.keySet == Set("big", "purchase"),
      "no 'otherwise' in config => unmatched rows drop")
    val ev = T(spark, sf001, "events")
    val nBig = outs("big").count()
    val nP = outs("purchase").count()
    assert(nBig == ev.filter("event_type = 'purchase' AND value >= 100").count())
    assert(nBig + nP == ev.filter("event_type = 'purchase'").count(),
      "overlap double-counted: first-match-wins broken")
    // branch frames carry no classifier leftovers
    assert(!outs("big").columns.contains("__graft_branch"))
    // with otherwise declared, the three outputs partition the corpus
    val spec2 = spec.replace("]}\n]}", """],"otherwise":[]}""" + "\n]}")
    val outs2 = Flow.routes(spark, sf001, spec2).toMap
    assert(outs2.keys.toSet == Set("big", "purchase", "otherwise"))
    assert(outs2.values.map(_.count()).sum == ev.count(),
      "route branches + otherwise must partition the input")
  }

  test("route classifies once: one shared when-chain, per-branch filters") {
    // The classified frame is ONE projection over the shared prefix;
    // each branch's plan is a filter on the tag — the classifier
    // when-chain appears in each branch's plan exactly once (not once
    // per branch condition re-evaluated independently).
    val outs = Flow.routes(spark, sf001, FlowOps.routeSpec)
    val plan = outs.head._2.queryExecution.optimizedPlan.toString
    assert(plan.contains("CASE WHEN"), s"no classifier case in plan:\n$plan")
    // route is rejected outside terminal position / inside compile
    intercept[RuntimeException] {
      Flow.routes(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"route","branches":[{"name":"a","when":"1=1"}]},
          |{"op":"limit","n":1}]}""".stripMargin)
    }
    // duplicate / reserved branch names fail loudly
    intercept[IllegalArgumentException] {
      Flow.routes(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"route","branches":[{"name":"a","when":"1=1"},
          |{"name":"a","when":"2=2"}]}]}""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      Flow.routes(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"route","branches":[{"name":"otherwise","when":"1=1"}]}]}""".stripMargin)
    }
  }

  test("translate instruction compiles to the map-literal lookup") {
    val df = Flow.compile(spark, sf001,
      """{"steps":[
        |{"op":"read","table":"events"},
        |{"op":"translate","field":"event_type","as":"tier",
        | "dict":{"purchase":"revenue","error":"ops"},"default":"other"},
        |{"op":"agg","groupBy":["tier"],"aggs":["count(*) AS n"]},
        |{"op":"orderBy","by":["tier"]}
        |]}""".stripMargin)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = T(spark, sf001, "events")
    assert(rows("revenue") == ev.filter("event_type = 'purchase'").count())
    assert(rows("ops") == ev.filter("event_type = 'error'").count())
    assert(rows("other") ==
      ev.filter("event_type NOT IN ('purchase','error')").count())
    // no join/exchange introduced by the lookup itself: the dict is a
    // literal in the plan
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"translate must not plan a join:\n$plan")
    // malformed dicts fail loudly
    intercept[RuntimeException] {
      Flow.compile(spark, sf001,
        """{"steps":[{"op":"read","table":"events"},
          |{"op":"translate","field":"event_type","as":"t","dict":{}}]}""".stripMargin)
    }
  }

  test("named-flow registry resolves names, fails loudly on unknown") {
    val df = graft.flow.FlowRegistry.run(spark, sf001, "daily_tier_rollup")
    assert(df.count() > 0)
    assert(graft.flow.FlowRegistry.available(spark).contains("daily_tier_rollup"))
    val e = intercept[RuntimeException] {
      graft.flow.FlowRegistry.run(spark, sf001, "no_such_flow")
    }
    assert(e.getMessage.contains("no_such_flow") &&
      e.getMessage.contains("daily_tier_rollup"),
      s"unknown-name error must list available flows: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      graft.flow.FlowRegistry.run(spark, sf001, "../escape")
    }
  }

  test("unset flow dir: shipped flows load from the classpath; the conf wins") {
    val R = graft.flow.FlowRegistry
    assert(spark.conf.getOption("spark.graft.flow.dir").isEmpty)
    val dir = R.registryDir(spark).toUri.toString
    // the build's classpath copy, not conf/ under the working directory
    assert(!dir.startsWith(java.nio.file.Paths.get("conf").toUri.toString), dir)
    assert(R.run(spark, sf001, "daily_tier_rollup").count() > 0)
    val own = java.nio.file.Files.createTempDirectory("flows")
    java.nio.file.Files.write(own.resolve("daily_tier_rollup.json"),
      """{"steps":[{"op":"read","table":"nation"}]}""".getBytes("UTF-8"))
    spark.conf.set("spark.graft.flow.dir", own.toString)
    try assert(R.available(spark) == Seq("daily_tier_rollup") &&
      R.run(spark, sf001, "daily_tier_rollup").columns.contains("n_nationkey"))
    finally spark.conf.unset("spark.graft.flow.dir")
  }

  test("named ROUTING flow runs by name through the registry") {
    val branches = graft.flow.FlowRegistry.runRoutes(spark, sf001, "event_router")
    assert(branches.map(_._1) == Seq("revenue", "ops", "otherwise"))
    val ev = T(spark, sf001, "events").filter("value > 0")
    val byName = branches.toMap
    assert(byName("revenue").head().getLong(0) ==
      ev.filter("event_type = 'purchase'").count())
    assert(byName("ops").head().getLong(0) ==
      ev.filter("event_type = 'error'").count())
    assert(byName("otherwise").head().getLong(0) ==
      ev.filter("event_type NOT IN ('purchase', 'error')").count())
    // a single-output run of a routing flow must fail loudly, not compile
    // a half-pipeline
    val e = intercept[RuntimeException] {
      graft.flow.FlowRegistry.run(spark, sf001, "event_router")
    }
    assert(e.getMessage.contains("route"))
  }

  test("dissect/grok instructions parse, null on miss, overwrite on clash") {
    import spark.implicits._
    val df = Flow.compileOn(spark, sf001,
      Seq("a [x] took=7", "nomatch").toDF("line"),
      """{"steps":[
        |{"op":"dissect","field":"line","pattern":"%{usr} [%{etype}] took=%{took}"},
        |{"op":"grok","field":"line","pattern":"%{WORD:usr} \\[%{WORD:g}\\] took=%{INT:took_i:int}"}
        |]}""".stripMargin)
    val rows = df.orderBy($"line").collect()
    // row 0 = "a [x] took=7": both parsers extract; grok OVERWROTE the
    // dissect 'usr' column (Logstash overwrite semantics) with the same
    // value here, so presence + types are what's pinned
    val hit = rows.find(_.getString(0) == "a [x] took=7").get
    assert(hit.getAs[String]("usr") == "a" && hit.getAs[String]("etype") == "x"
      && hit.getAs[String]("took") == "7" && hit.getAs[Long]("took_i") == 7L)
    // row 1 = "nomatch": dissect is all-or-nothing (null), grok's typed
    // fields coerce ""->null while its string fields keep grok's
    // documented ""-on-miss (usr was overwritten by grok, so '')
    val miss = rows.find(_.getString(0) == "nomatch").get
    assert(miss.getAs[String]("usr") == "" &&
      miss.isNullAt(miss.fieldIndex("took")) &&
      miss.isNullAt(miss.fieldIndex("etype")) &&
      miss.isNullAt(miss.fieldIndex("took_i")))
    // exactly one column per field, no _1/_2 dups from the overwrite
    assert(df.columns.count(_ == "usr") == 1)
  }

  test("clone duplicates the prefix into every branch, unconditionally") {
    val spec =
      """{"steps":[
        |{"op":"read","table":"events"},
        |{"op":"filter","where":"value > 0"},
        |{"op":"clone","branches":[
        | {"name":"archive"},
        | {"name":"purchases","steps":[{"op":"filter","where":"event_type = 'purchase'"}]}
        |]}
        |]}""".stripMargin
    val outs = Flow.clones(spark, sf001, spec).toMap
    assert(outs.keySet == Set("archive", "purchases"))
    val prefix = T(spark, sf001, "events").filter("value > 0")
    // every branch sees EVERY prefix row (vs route's partition) ...
    assert(outs("archive").count() == prefix.count())
    // ... and branch steps still apply on the copy
    assert(outs("purchases").count() ==
      prefix.filter("event_type = 'purchase'").count())
    // misplaced/dup clone fails loudly at compile
    intercept[RuntimeException](Flow.compile(spark, sf001,
      """{"steps":[{"op":"read","table":"events"},
        |{"op":"clone","branches":[{"name":"x"}]}]}""".stripMargin))
    intercept[IllegalArgumentException](Flow.clones(spark, sf001,
      """{"steps":[{"op":"read","table":"events"},
        |{"op":"clone","branches":[{"name":"x"},{"name":"x"}]}]}""".stripMargin))
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The generated code of perfbench's `event_queries` mix fits Spark's
  * codegen cache, so a steady pass compiles nothing. `CodeGenerator`
  * caches compiled classes by (class loader, source) in a Guava cache of
  * `spark.sql.codegen.cache.maxEntries` (100) entries, and in local mode
  * the driver and the executor each compile every whole-stage class under
  * their own loader. A mix whose working set exceeds the cache recompiles
  * part of it with Janino on every pass.
  *
  * Two gates. The working set, the classes one pass compiles into an
  * emptied cache, stays within the cache's 100 entries. And when that
  * pass evicted nothing, the second pass compiles 0 classes: every class
  * the mix generates is the same source on every run. Whether a working
  * set under 100 evicts depends on the JVM: the cache is 4 LRU segments
  * of 25 entries, and an entry's segment mixes in its loader's identity
  * hash, so at 76 classes about 1 JVM in 5 overflows one segment (and
  * that segment then recompiles on every pass). The census, the cache's
  * size after the first pass and the second pass's count are reported. */
class CodegenBudgetSpec extends SparkSpec {

  /** perfbench's `event_queries` mix, in its order
    * (`perfbench/src/perfbench/Workloads.scala`, `Workloads.eventQueries`). */
  private val mix = Seq("fn_grok_dispatch", "evt_pattern_match", "flow_compiled_route",
    "flow_named_rollup", "join_asof_nearest")

  /** `CodeGenerator`'s class cache (private in Spark 4.1.2): the Guava
    * `LoadingCache` under Spark's wrapper. */
  private lazy val codegenCache: AnyRef = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(CodeGenerator)
    cache.getClass.getMethod("loadingCache").invoke(cache)
  }

  private def cacheCall(name: String): AnyRef = {
    val m = codegenCache.getClass.getMethod(name)
    m.setAccessible(true)
    m.invoke(codegenCache)
  }

  /** Classes Janino compiled while `body` ran, JVM-wide. */
  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** One pass over the mix, each key run as perfbench runs it (a `noop`
    * write, then its pins released): classes compiled per key. */
  private def pass(): Seq[(String, Long)] = mix.map { key =>
    key -> compiled {
      SparkEntry.queries(key)(spark, sf01).write.format("noop").mode("overwrite").save()
      graft.operators.Scale.releasePins(spark, blocking = true)
    }
  }

  test("the event_queries mix fits the codegen cache: a second pass compiles 0 classes (sf0.01)") {
    Preflight(spark, sf01)
    // a running stream would compile its own batches into the counts
    assert(spark.streams.active.isEmpty, "a streaming query is active")
    cacheCall("invalidateAll")
    val first = pass()
    val kept = cacheCall("size").asInstanceOf[Long]
    val second = pass()
    assert(spark.streams.active.isEmpty, "a streaming query is active")
    def show(p: Seq[(String, Long)]) =
      s"${p.map(_._2).sum} (${p.map { case (k, n) => s"$k $n" }.mkString(", ")})"
    val workingSet = first.map(_._2).sum
    info(s"working set: ${show(first)}; cached after it: $kept; second pass: ${show(second)}")
    assert(workingSet <= 100, s"working set ${show(first)} exceeds the cache")
    if (kept == workingSet)
      assert(second.map(_._2).sum == 0, s"second pass recompiled ${show(second)}")
    else
      info(s"this JVM's hashes overflowed a cache segment: ${workingSet - kept} evicted")
  }
}

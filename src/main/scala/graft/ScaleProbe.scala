package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Superlinearity probe fixture builder (r13 verdict #7): synthesizes a
  * FACTOR× weak-scaling copy of an sf dir's big tables (events, documents,
  * embeddings; the TPC-H-ish tables copy verbatim — the expensive keys all
  * run on the big three) so the most expensive keys can be timed at ~10×
  * their bench scale and checked for near-linear growth.
  *
  * Weak-scaling discipline — each replica is a DISJOINT, structurally
  * identical world, so the DATA-driven work grows linearly and any
  * superlinear wall-clock is the ENGINE's to explain:
  *  - ids shift by replica (event/user/doc/vec) — no cross-replica joins
  *    or sessions appear;
  *  - document text gets a per-replica prefix token — replica corpora
  *    don't collide in shingle/LSH space (10× identical texts would make
  *    every band bucket 10× denser and the candidate-pair count 100× —
  *    a quadratic blowup the INPUT causes, which would mask the engine
  *    signal this probe is after);
  *  - embeddings rotate by replica index — same norms, different LSH/IVF
  *    cells, so ANN bucket populations grow ~linearly.
  *
  * Usage: runMain graft.ScaleProbe <srcSfDir> <outDir> <factor>
  * Then bench the expensive keys against outDir via SPARK_GRAFT_SF_DIR +
  * SPARK_GRAFT_BENCH_ONLY (PERF.md round-14 records the run).
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = Session()
    new java.io.File(out).mkdirs()

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // verbatim copies — the probe keys don't scale with these
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(n => write(T(spark, src, n), n))

    // replica index frame: one crossJoin fan-out per table, no driver loop
    val reps = broadcast(spark.range(factor.toLong).toDF("k"))

    val ev = T(spark, src, "events")
    val Array(maxEv, maxUser) = ev
      .agg(max(col("event_id")), max(col("user_id"))).head()
      .toSeq.map(_.asInstanceOf[Long] + 1L).toArray
    write(ev.crossJoin(reps).select(
      (col("event_id") + col("k") * maxEv).as("event_id"),
      col("ts"),
      (col("user_id") + col("k") * maxUser).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")

    val docs = T(spark, src, "documents")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    // EVERY word carries the replica tag (not a single prefix token): the
    // MinHash signature is a min over per-shingle digests, so a one-token
    // prefix changes one shingle out of S and leaves all 8 signatures —
    // hence all band keys — identical with probability ~(1 - 8/S); tagged
    // words make every shingle replica-distinct, which is what actually
    // keeps replica corpora disjoint in shingle/LSH space (review r14).
    val text2 = when(col("k") === 0, col("text"))
      .otherwise(expr("array_join(transform(split(text, ' '), " +
        "w -> concat(w, '_', cast(k AS string))), ' ')"))
    write(docs.crossJoin(reps).select(
      (col("doc_id") + col("k") * maxDoc).as("doc_id"),
      text2.as("text"), col("lang"), col("source"),
      length(text2).cast("long").as("n_chars")), "documents")

    val emb = T(spark, src, "embeddings")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    // rotate the vector by k positions (k < dim by the require below):
    // norm-preserving, deterministic, and enough to move every replica
    // into different random-projection signs / IVF cells
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(factor <= dim, s"factor $factor must be <= embedding dim $dim")
    val rotated = when(col("k") === 0, col("embedding")).otherwise(concat(
      expr("slice(embedding, k + 1, size(embedding) - k)"),
      expr("slice(embedding, 1, k)")))
    write(emb.crossJoin(reps).select(
      (col("vec_id") + col("k") * maxVec).as("vec_id"),
      rotated.as("embedding"), col("label")), "embeddings")

    println(s"[probe] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}

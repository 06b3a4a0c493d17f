package graft

import java.nio.file.Files

/** `T.apply`'s schema memo: one inference per application and table
  * version. */
class TableSpec extends SparkSpec {

  test("a second open of a table in the same application runs no job") {
    T(spark, sf01, "orders").schema
    val (df, rec) = Jobs.record(spark)(T(spark, sf01, "orders"))
    assert(rec.jobs == 0, s"re-open ran ${rec.jobs} job(s)")
    assert(df.schema == spark.read.parquet(s"$sf01/orders.parquet").schema)
  }

  test("a table rewritten in place is inferred again") {
    val dir = Files.createTempDirectory("graft_table_spec").toString
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(T(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val (df, rec) = Jobs.record(spark)(T(spark, dir, "t"))
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(rec.jobs >= 1, "the rewritten table was served the old schema")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 2L), (2L, 4L)))
  }
}

package graft

class TablesSpec extends SparkTestBase {
  import spark.implicits._

  test("the schema memo re-infers a table path rewritten with another schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    val first = Tables.table(spark, dir, "t")
    assert(first.columns.toSeq == Seq("id", "name"))
    assert(first.collect().map(_.getLong(0)).toSeq == Seq(1L))
    Seq((2.5, 3, true)).toDF("score", "rank", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.table(spark, dir, "t")
    assert(second.columns.toSeq == Seq("score", "rank", "flag"))
    assert(second.collect().map(r => (r.getDouble(0), r.getInt(1), r.getBoolean(2))).toSeq ==
      Seq((2.5, 3, true)))
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import graft.sources.Tables

/** `Tables.load` memoizes one plan per (session, path); the memo must not
  * outlive the file listing it was built from.
  */
class TablesSpec extends SparkSpec {

  test("load sees files appended to the path after the first load") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(10).toDF("id").write.mode(SaveMode.Append).parquet(path)
    assert(Tables.load(spark, dir, "t").count() == 10)
    spark.range(10, 15).toDF("id").write.mode(SaveMode.Append).parquet(path)
    assert(Tables.load(spark, dir, "t").count() == 15)
  }

  test("an unchanged path keeps its memoized plan") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(3).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t") eq Tables.load(spark, dir, "t"))
  }

  test("an append reuses the memoized schema: load starts no job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(10).toDF("id").write.parquet(path)
    val (first, inferJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(inferJobs > 0) // the first load infers the schema
    spark.range(10, 15).toDF("id").write.mode(SaveMode.Append).parquet(path)
    val (appended, jobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs == 0)
    assert(appended ne first)
    assert(appended.schema == first.schema && appended.count() == 15)
  }

  test("an overwrite with a different schema infers it again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(10).toDF("id").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(4).selectExpr("id", "cast(id AS string) AS name")
      .write.mode(SaveMode.Overwrite).parquet(path)
    val (df, jobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs > 0)
    assert(df.columns.toSeq == Seq("id", "name") && df.count() == 4)
  }
}

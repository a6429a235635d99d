package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The table loaders' parquet schema cache: a repeated read starts no
  * Spark job, and a file rewritten or added at the same path, nested
  * partitions included, is read again. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val sfDir = SparkSessionFixture.sfDir

  private def jobsStartedBy(body: => Any): Int = JobCount.startedBy(spark)(body)

  test("a second Tables(spark, dir).lineitem starts no Spark job") {
    Tables(spark, sfDir).lineitem
    assert(jobsStartedBy(Tables(spark, sfDir).lineitem) === 0)
  }

  test("a parquet file rewritten at the same path gets its new schema") {
    val dir = Scratch.dir("tables_")
    // one parquet file at <dir>/lineitem.parquet, the layout of the sf dirs
    def writeLineitem(df: DataFrame): Unit = {
      val tmp = new File(dir, "tmp").getPath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, "lineitem.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    writeLineitem(spark.range(3).toDF("a"))
    assert(jobsStartedBy(Tables(spark, dir).lineitem) >= 1,
      "the first read infers the schema with a Spark job")
    assert(jobsStartedBy(Tables(spark, dir).lineitem) === 0)
    writeLineitem(spark.range(3).selectExpr("id AS a", "id * 2 AS b"))
    val reread = Tables(spark, dir).lineitem
    assert(reread.columns.toSeq === Seq("a", "b"))
    assert(reread.selectExpr("sum(b)").head().getLong(0) === 6L)
  }

  test("a nested table directory sizes and invalidates as listFiles walks it") {
    val dir = Scratch.dir("tables_nested_")
    val table = new File(dir, "lineitem.parquet").getPath
    spark.range(40).selectExpr("id AS a", "id % 2 AS part").write
      .partitionBy("part").parquet(table)
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(it: org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus]) =
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    def view(s: org.apache.hadoop.fs.FileStatus) = (s.getPath, s.getLen, s.getModificationTime)
    val walked = Tables.filesUnder(fs, p).map(view).toSeq.sortBy(_._1.toString)
    assert(walked === walk(fs.listFiles(p, true)).map(view).toSeq.sortBy(_._1.toString))
    assert(walked.count(_._1.getName.endsWith(".parquet")) >= 2, "files in both subdirs")
    assert(Tables.filesUnder(fs, new org.apache.hadoop.fs.Path(walked.head._1.toString))
      .map(view).toSeq === Seq(walked.head), "a file walks to itself")

    assert(jobsStartedBy(Tables(spark, dir).lineitem) >= 1)
    assert(jobsStartedBy(Tables(spark, dir).lineitem) === 0)
    // one more file in one nested partition: a new size, so a new read
    spark.range(5).selectExpr("id AS a").write.mode("append")
      .parquet(new File(table, "part=0").getPath)
    assert(jobsStartedBy(Tables(spark, dir).lineitem) >= 1)
    assert(Tables(spark, dir).lineitem.count() === 45L)
  }
}

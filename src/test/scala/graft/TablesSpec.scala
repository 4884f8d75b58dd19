package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.core.Tables
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.load` resolves a path once per session: later loads reuse
  * the resolved relation (no job) while the files and the inference
  * confs are unchanged, and every load is a plan of its own. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** A private copy of the sf0.001 corpus, so its first load resolves. */
  private lazy val corpus: String = {
    val d = tempDir("graft-tables-corpus")
    Tables.all.foreach { t =>
      Files.copy(Path.of(sf, s"$t.parquet"), d.resolve(s"$t.parquet"))
    }
    d.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def relationSession(df: DataFrame): SparkSession =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .get.sqlContext.sparkSession

  test("a second load of each corpus table launches no job and returns the same rows") {
    for (t <- Tables.all) {
      var first, second: DataFrame = null
      assert(jobsOf { first = Tables.load(spark, corpus, t) } > 0, s"$t: the first load resolves")
      assert(jobsOf { second = Tables.load(spark, corpus, t) } === 0, t)
      assert(rows(second) === rows(first), t)
    }
    assert(jobsOf(Tables.events(spark, corpus)) === 0)
  }

  test("a table rewritten at its path loads with its new schema and rows") {
    val d = tempDir("graft-tables-rewrite")
    // a directory Spark overwrites
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$d/dir.parquet")
    assert(Tables.load(spark, d.toString, "dir").columns.toSeq === Seq("id", "s"))
    Seq((3L, 30)).toDF("id", "n").write.mode("overwrite").parquet(s"$d/dir.parquet")
    val dir = Tables.load(spark, d.toString, "dir")
    assert(dir.columns.toSeq === Seq("id", "n"))
    assert(rows(dir) === Seq("[3,30]"))
    // a single file replaced by a move
    def partFile(df: DataFrame, name: String): Path = {
      df.coalesce(1).write.parquet(s"$d/$name")
      Files.list(d.resolve(name)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
    }
    val file = d.resolve("file.parquet")
    Files.move(partFile(Seq((1L, "a")).toDF("id", "s"), "v1"), file)
    assert(rows(Tables.load(spark, d.toString, "file")) === Seq("[1,a]"))
    Files.move(partFile(Seq((2L, 2.5, true)).toDF("id", "x", "b"), "v2"), file,
      StandardCopyOption.REPLACE_EXISTING)
    val replaced = Tables.load(spark, d.toString, "file")
    assert(replaced.columns.toSeq === Seq("id", "x", "b"))
    assert(rows(replaced) === Seq("[2,2.5,true]"))
  }

  test("the binaryAsString conf in force at the load decides the column type") {
    // the conf decides only without Spark's schema in the footer, so
    // the file is written by plain parquet-hadoop, as other writers do
    val d = tempDir("graft-tables-binary")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary bin; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new HPath(s"$d/bin.parquet"), conf)).withType(schema).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("bin", Binary.fromString("hi")))
    finally writer.close()
    def binType = Tables.load(spark, d.toString, "bin").schema("bin").dataType
    assert(binType === BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      assert(binType === StringType)
      assert(rows(Tables.load(spark, d.toString, "bin")) === Seq("[1,hi]"))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(binType === BinaryType)
  }

  test("a missing table raises what spark.read.parquet raises") {
    val d = tempDir("graft-tables-missing")
    val fresh = intercept[Exception](spark.read.parquet(s"$d/none.parquet"))
    val loaded = intercept[Exception](Tables.load(spark, d.toString, "none"))
    assert(loaded.getClass === fresh.getClass)
    assert(loaded.getMessage === fresh.getMessage)
  }

  test("two loads of one table self-join like two fresh reads") {
    val a = Tables.orders(spark, corpus)
    val b = Tables.orders(spark, corpus)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_custkey"))
    val path = s"$corpus/orders.parquet"
    val fa = spark.read.parquet(path)
    val fb = spark.read.parquet(path)
    val fresh = fa.join(fb, fa("o_orderkey") === fb("o_orderkey"))
      .select(fa("o_orderkey"), fb("o_custkey"))
    assert(rows(joined) === rows(fresh))
  }

  test("a new session resolves its own relation") {
    Tables.load(spark, corpus, "nation")
    val other = spark.newSession()
    var df: DataFrame = null
    assert(jobsOf { df = Tables.load(other, corpus, "nation") } > 0)
    assert(relationSession(df) eq other)
    assert(relationSession(Tables.load(other, corpus, "nation")) eq other)
    assert(relationSession(Tables.load(spark, corpus, "nation")) eq spark)
  }
}

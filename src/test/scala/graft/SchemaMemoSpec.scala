package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.sources.Tables

/** `Tables.load` memoizes each table's parquet schema per file version:
  * a repeated read plans without Spark's schema-inference job, and the
  * memo never serves a schema Spark would no longer infer — not after
  * the table is rewritten, not under a conf that changes inference. */
class SchemaMemoSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf, countJobs}

  private def freshDir(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_spec_schema_${tag}_${System.nanoTime}"

  test("a second load of the same table version launches no Spark job") {
    val dir = freshDir("jobs")
    Tables.orders(spark, sf).write.parquet(s"$dir/orders.parquet")
    val (_, first) = countJobs(spark)(Tables.load(spark, dir, "orders"))
    assert(first >= 1, "the first load infers the schema with a job the counter must see")
    val (df, second) = countJobs(spark)(Tables.load(spark, dir, "orders"))
    assert(second == 0, s"a memoized load launched $second jobs before any action")
    assert(df.count() == Tables.orders(spark, sf).count())
  }

  test("the memoized schema is the one Spark infers, for every table") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(tables.toSet == Tables.all.toSet)
    tables.foreach { t =>
      Tables.load(spark, sf, t)
      val (df, jobs) = countJobs(spark)(Tables.load(spark, sf, t))
      assert(jobs == 0, s"$t: memoized load launched $jobs jobs")
      assert(df.schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("a table overwritten under the same path with an added column re-infers") {
    val dir = freshDir("overwrite")
    val path = s"$dir/nation.parquet"
    Tables.nation(spark, sf).write.parquet(path)
    assert(!Tables.load(spark, dir, "nation").columns.contains("added"))
    Tables.nation(spark, sf).withColumn("added", lit(7L))
      .write.mode("overwrite").parquet(path)
    val after = Tables.load(spark, dir, "nation")
    assert(after.schema == spark.read.parquet(path).schema)
    assert(after.select("added").distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("a conf that changes inference (binaryAsString) is honored on the next load") {
    // a file without Spark's schema footer, whose un-annotated BINARY
    // column infers as BinaryType unless binaryAsString is set
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = freshDir("conf")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary name; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> "alpha", 2L -> "beta").foreach { case (id, name) =>
      w.write(rows.newGroup().append("id", id).append("name", name))
    } finally w.close()

    assert(Tables.load(spark, dir, "t").schema("name").dataType == BinaryType)
    GraftSession.withSqlConfs(spark, "spark.sql.parquet.binaryAsString" -> "true") {
      val df = Tables.load(spark, dir, "t")
      assert(df.schema("name").dataType == StringType)
      assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("alpha", "beta"))
    }
    assert(Tables.load(spark, dir, "t").schema("name").dataType == BinaryType)
  }

  test("ArtifactHeaders revalidates files under `_k=v` partition dirs, not `._COPYING_` ones") {
    // Spark's listing keeps a `_`-name holding `=` as a partition dir;
    // graft itself writes `__graft_valid=…` dirs
    val path = s"${freshDir("underscore")}/t.parquet"
    def write(n: Int): Unit = spark.range(n).withColumn("_p", lit(1))
      .write.mode("overwrite").partitionBy("_p").parquet(path)
    val reads = new java.util.concurrent.atomic.AtomicInteger
    def read(): Integer =
      graft.sources.ArtifactHeaders.cached(spark, path)(Integer.valueOf(reads.incrementAndGet()))
    write(10)
    assert(read() == 1 && read() == 1, "an unchanged path must be served from the memo")
    val v1 = Tables.snapshot(spark, new java.io.File(path).getParent, "t")
    write(20)
    assert(read() == 2, "a rewritten file under _p=1/ must re-read, not serve the stale memo")
    assert(Tables.snapshot(spark, new java.io.File(path).getParent, "t") != v1)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_p=1", "part-x.parquet._COPYING_"),
      Array[Byte](1, 2, 3))
    assert(read() == 2, "a file still being copied in is not part of the signature")
  }
}

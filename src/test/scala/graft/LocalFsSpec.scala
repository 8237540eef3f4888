package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The session's `file:` filesystem sets and reads POSIX metadata
  * in-process: it writes and reports the same modes, owners and groups
  * as Hadoop's stock `RawLocalFileSystem`, keeps reporting symlinks,
  * and forks no `chmod` / `ls` / `readlink` process. */
class LocalFsSpec extends AnyFunSuite {
  import SharedSpark.spark

  private def freshDir(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_spec_localfs_${tag}_${System.nanoTime}"

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** A stock (forking) raw filesystem: the reference for every mode. */
  private def stockRaw(conf: Configuration): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def nioRaw(conf: Configuration): NioRawLocalFileSystem = {
    val fs = new NioRawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every entry under `root`, `.crc` and `_SUCCESS` files included,
    * relative to `root`. */
  private def tree(root: String): Seq[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator.asScala.map(p => r.relativize(p).toString).toSeq.sorted finally s.close()
  }

  private def meta(fs: FileSystem, path: String): (Short, String, String) = {
    val st = fs.getFileStatus(new Path(path))
    (st.getPermission.toShort, st.getOwner, st.getGroup)
  }

  test("the session resolves file: to graft's FileSystem and FileContext filesystem") {
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  for (umask <- Seq("022", "027")) {
    test(s"a partitioned write gets the stock modes, owner and group (umask $umask)") {
      val dir = freshDir(s"modes_$umask")
      val written = s"$dir/written"
      // an uncached filesystem per call, so the write sees this umask
      GraftSession.withSqlConfs(spark, "fs.permissions.umask-mode" -> umask,
          "fs.file.impl.disable.cache" -> "true") {
        spark.range(40).withColumn("p", col("id") % 3)
          .write.partitionBy("p").parquet(written)
      }
      val conf = new Configuration(hadoopConf)
      conf.set("fs.permissions.umask-mode", umask)
      val stock = stockRaw(conf)
      val nio = nioRaw(conf)
      val entries = tree(written)
      assert(entries.exists(_.endsWith(".crc")) && entries.exists(_.startsWith("p=")))

      // reads: every entry reports what `ls -ld` reports
      entries.foreach { e =>
        assert(meta(nio, s"$written/$e") == meta(stock, s"$written/$e"), e)
      }
      // writes: the same dirs and checksummed files created by the stock
      // checksummed filesystem get the same modes
      val replay = s"$dir/replay"
      val stockLocal = new org.apache.hadoop.fs.LocalFileSystem(stock)
      stockLocal.initialize(URI.create("file:///"), conf)
      stockLocal.mkdirs(new Path(replay))
      entries.filterNot(e => e.isEmpty || e.endsWith(".crc")).foreach { e =>
        val p = new Path(s"$replay/$e")
        if (Files.isDirectory(Paths.get(written, e))) stockLocal.mkdirs(p)
        else { val out = stockLocal.create(p); out.write(Files.readAllBytes(Paths.get(written, e))); out.close() }
      }
      assert(tree(replay) == entries)
      entries.foreach { e =>
        assert(meta(stock, s"$written/$e") == meta(stock, s"$replay/$e"), e)
      }
      val expected = (Integer.parseInt("666", 8) & ~Integer.parseInt(umask, 8)).toShort
      assert(entries.filter(_.endsWith(".parquet")).forall(e => meta(nio, s"$written/$e")._1 == expected))
    }
  }

  test("getFileLinkStatus still reports a real symlink and its target") {
    val dir = freshDir("link")
    Files.createDirectories(Paths.get(dir))
    val target = Files.write(Paths.get(dir, "target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), target)
    val stock = stockRaw(hadoopConf).getFileLinkStatus(new Path(link.toString))
    val nio = nioRaw(hadoopConf).getFileLinkStatus(new Path(link.toString))
    assert(nio.isSymlink && stock.isSymlink)
    assert(nio.getSymlink == stock.getSymlink && nio.getSymlink.toUri.getPath == target.toString)
    val stockConf = new Configuration(hadoopConf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val viaFc = Seq(hadoopConf, stockConf).map { c =>
      val st = FileContext.getLocalFSFileContext(c).getFileLinkStatus(new Path(link.toString))
      (st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "")
    }
    assert(viaFc.head == viaFc.last && viaFc.head._1, viaFc)
    assert(!nioRaw(hadoopConf).getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a partitioned write, a listing and a checkpointed stream fork no chmod / ls / readlink") {
    def forked(body: => Unit): Seq[String] = {
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("graft_spec_localfs", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command").trim.split("\\s+").head.split('/').last)
          .filter(Set("chmod", "ls", "readlink"))
      } finally { rec.close(); Files.deleteIfExists(f) }
    }
    val dir = freshDir("forks")
    // control: the stock filesystem forks a chmod per created file
    assert(forked {
      stockRaw(hadoopConf).create(new Path(s"$dir/control")).close()
    }.contains("chmod"), "the recording must see the stock filesystem's chmod")

    val spawned = forked {
      spark.range(40).withColumn("p", col("id") % 4).withColumn("k", col("id") % 5)
        .write.partitionBy("p").parquet(s"$dir/table")
      val it = FileSystem.get(URI.create("file:///"), hadoopConf).listFiles(new Path(s"$dir/table"), true)
      while (it.hasNext) assert(it.next().getPermission != null)
      val q = spark.readStream.schema(spark.read.parquet(s"$dir/table").schema)
        .parquet(s"$dir/table").groupBy("k").count()
        .writeStream.outputMode("complete").format("memory").queryName(s"localfs_${System.nanoTime}")
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table(q.name).count() == 5)
    }
    assert(spawned.isEmpty, s"forked: ${spawned.groupBy(identity).map { case (k, v) => s"$k×${v.size}" }}")
  }
}

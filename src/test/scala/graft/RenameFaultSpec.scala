package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.plans.Pipeline
import graft.plans.Pipeline._
import graft.sources.{DirSwap, NioRawLocalFileSystem}

/** The local filesystem under its own `faultfs` scheme, whose renames
  * of committed paths fail on demand. A Spark task commit's moves out
  * of `_temporary` always pass, so Spark can still write through it. */
class FaultFs extends NioRawLocalFileSystem {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"
  override def rename(src: Path, dst: Path): Boolean = {
    val committed = !Seq(src, dst).exists(_.toString.contains("/_temporary"))
    if (committed) FaultFs.mode match {
      case FaultFs.Refuse => return false // Hadoop's report of a refused rename
      case FaultFs.CrashOn(n) if FaultFs.renames.incrementAndGet() == n =>
        throw new java.io.IOException(s"injected crash at rename $src -> $dst")
      case _ => ()
    }
    super.rename(src, dst)
  }
}

object FaultFs {
  sealed trait Mode
  case object Pass extends Mode
  case object Refuse extends Mode
  /** Throw on the n-th committed-path rename after arming. */
  final case class CrashOn(n: Int) extends Mode

  @volatile private[graft] var mode: Mode = Pass
  private[graft] val renames = new AtomicInteger

  def armed[T](m: Mode)(body: => T): T = {
    renames.set(0)
    mode = m
    try body finally mode = Pass
  }
}

/** Where graft publishes by renaming, a rename Hadoop refuses (returns
  * false) or a crash between renames must neither lose rows silently
  * nor leave readers without the previous tree. */
class RenameFaultSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)

  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_spec_fault_${name}_${System.nanoTime}"

  private def faulty(local: String) = s"faultfs://$local"

  private def quarantined(target: String, filter: String): TransferSpec =
    TransferSpec(
      source = SourceSpec(s"$sf/orders.parquet", Parquet),
      filterExpr = Some(filter),
      validExpr = Some("o_orderkey % 7 != 0"),
      policy = ErrorPolicy(maxErrors = Long.MaxValue,
        onError = RouteQuarantine(faulty(s"${target}_q"))))

  private def keys(path: String): Set[Long] =
    spark.read.parquet(path).select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def leftovers(target: String): Seq[String] =
    Seq(s"${target}_retired", s"$target.__graft_staging", s"${target}_q_retired")
      .filter(p => Files.exists(Paths.get(p)))

  test("a refused rename fails the idempotent index append loudly; the prior postings still serve") {
    for (f <- Seq(Similarity.Ivf, Similarity.IvfPq, Similarity.Bm25)) {
      val base = tmp(s"idx_${f.name}")
      Similarity.buildSnapshot(f)(spark, sf, base)
      val served = f.serveFrom(spark, sf, base).collect().map(_.toString).toSet
      val batch = f.arrivals(spark, sf)
      val e = intercept[IllegalArgumentException] {
        FaultFs.armed(FaultFs.Refuse) {
          f.appendIdempotent(spark, faulty(base), batch, 3L, base)
        }
      }
      assert(e.getMessage.contains("could not publish"), e.getMessage)
      assert(f.serveFrom(spark, sf, base).collect().map(_.toString).toSet == served,
        s"${f.name}: the prior postings must still serve unchanged")
    }
  }

  test("a refused rename fails the route-file shard staging loudly") {
    val base = tmp("route")
    val e = intercept[IllegalArgumentException] {
      FaultFs.armed(FaultFs.Refuse) {
        graft.operators.Etl.stageRouteShards(spark, sf, faulty(base))
      }
    }
    assert(e.getMessage.contains("could not stage"), e.getMessage)
  }

  test("a refused rename fails the quarantine promote loudly; the prior target stays readable") {
    val target = tmp("refused")
    Pipeline.run(spark, quarantined(target, "o_orderkey < 200"), faulty(target))
    val before = keys(target)
    intercept[IllegalArgumentException] {
      FaultFs.armed(FaultFs.Refuse) {
        Pipeline.run(spark, quarantined(target, "o_orderkey >= 200"), faulty(target))
      }
    }
    val unchanged = keys(target) == before
    assert(unchanged, "the prior target must stay readable and unchanged")
  }

  test("a crash between the promote's renames leaves the old target or the new, never none") {
    val target = tmp("crash")
    Pipeline.run(spark, quarantined(target, "o_orderkey < 200"), faulty(target))
    val before = keys(target)
    // the 1st committed rename retires the live target, the 2nd would
    // rename the stage in
    intercept[java.io.IOException] {
      FaultFs.armed(FaultFs.CrashOn(2)) {
        Pipeline.run(spark, quarantined(target, "o_orderkey >= 200"), faulty(target))
      }
    }
    val old = keys(target) == before
    assert(old, "after the crash the target must be the old tree")
    // a crash the process does not survive leaves only the retired copy
    // and the stage; recovery (the next run's first step) restores it
    Files.move(Paths.get(target), Paths.get(s"${target}_retired"))
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.recover(fs, new Path(s"$target.__graft_staging/__graft_valid=true"), new Path(target))
    val restored = keys(target) == before
    assert(restored, "recovery must restore the old tree")
    Files.move(Paths.get(target), Paths.get(s"${target}_retired"))
    Pipeline.run(spark, quarantined(target, "o_orderkey >= 200"), faulty(target))
    val after = keys(target)
    assert(after.nonEmpty && after.forall(_ >= 200), "the next run must publish the new tree")
    assert(leftovers(target).isEmpty, s"leftover dirs: ${leftovers(target)}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Staged-artifact staleness (VERDICT r8 #4): session-lifetime staged
  * caches key on the corpus CONTENT VERSION, so mutating a corpus
  * under the same path within one session rebuilds the artifact
  * instead of silently serving the stale one.
  */
class StagedVersionSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("re-staged corpus under the same path rebuilds the staged kNN graph") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ver_${System.nanoTime}"
    Tables.embeddings(spark, sf).write.parquet(s"$base/embeddings.parquet")
    val v1 = Tables.snapshot(spark, base, "embeddings")
    val n1 = graft.operators.Similarity.knnGraphLineage(spark, base).count()
    // corpus RE-STAGED in place: half the vectors, same directory
    Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    assert(Tables.snapshot(spark, base, "embeddings") != v1,
      "snapshot fingerprint must change when the table is rewritten")
    val n2 = graft.operators.Similarity.knnGraphLineage(spark, base).count()
    // truth: the memo-free recompute twin over the CURRENT corpus
    val fresh = graft.operators.Similarity.knnGraph(spark, base).count()
    assert(n2 == fresh, s"staged graph served $n2 edges, fresh corpus has $fresh — stale artifact")
    assert(n2 != n1, "mutated corpus must not serve the old snapshot's graph")
    CacheScope.releaseAll(spark)
  }

  test("snapshot fingerprint is stable across repeated listings") {
    val a = Tables.snapshot(spark, sf, "embeddings")
    val b = Tables.snapshot(spark, sf, "embeddings")
    assert(a == b, "an untouched corpus must keep its fingerprint (no spurious rebuilds)")
  }

  test("staged dir names use the full version fingerprint, not a 32-bit hash") {
    // distinct keys → distinct on-disk names (128-bit MD5; VERDICT r9 #3)
    val a = Tables.stagedDirKey("/corpus@aaaa")
    val b = Tables.stagedDirKey("/corpus@aaab")
    assert(a != b && a.length == 32 && b.length == 32)
    assert(a == Tables.stagedDirKey("/corpus@aaaa"), "deterministic")
  }

  test("staged version flip-back survives the janitor (ADVICE r10 #1)") {
    // A → B queues A's deterministic dir for deferred deletion; the
    // flip back to A rebuilds into that SAME path — the rebuild must
    // cancel the queued registration or the sweep deletes the live,
    // memoized artifact two boundaries later
    val tag = s"specflip_${System.nanoTime}"
    def build(base: String): String = {
      new java.io.File(base).mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(base, "artifact"), "x".getBytes("UTF-8"))
      base
    }
    val a1 = Tables.stagedArtifact(tag, "/spec/corpus", "vA")(build)
    val b = Tables.stagedArtifact(tag, "/spec/corpus", "vB")(build)
    val a2 = Tables.stagedArtifact(tag, "/spec/corpus", "vA")(build)
    assert(a2 == a1, "flip-back must land on the same fingerprint path")
    TmpDirs.sweep(); TmpDirs.sweep(); TmpDirs.sweep()
    assert(new java.io.File(s"$a2/artifact").exists(),
      "the flip-back rebuilt artifact must survive the sweeps")
    assert(!new java.io.File(b).exists(),
      "the superseded middle version is reclaimed as before")
  }

  test("snapshot digest distinguishes same-named files across subdirs (ADVICE r10 #2)") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_xor_${System.nanoTime}"
    val root = new java.io.File(s"$base/t.parquet")
    root.mkdirs()
    val f0 = new java.io.File(root, "part-unique.parquet")
    java.nio.file.Files.write(f0.toPath, Array[Byte](9, 9, 9, 9))
    assert(f0.setLastModified(1500000000000L))
    val v1 = Tables.snapshot(spark, base, "t")
    // an identical-(name, length, mtime) TWIN PAIR in two partition
    // subdirs: under name-only tags the two digests XOR-cancelled and
    // the fingerprint read as if the pair did not exist
    for (p <- Seq("p=1", "p=2")) {
      new java.io.File(root, p).mkdirs()
      val f = new java.io.File(root, s"$p/part-0.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      assert(f.setLastModified(1500000000000L))
    }
    val v2 = Tables.snapshot(spark, base, "t")
    assert(v2 != v1,
      "adding an identical-tag file pair must change the fingerprint")
  }

  test("staged builds lock per artifact: a build can stage another artifact from a spawned thread (ADVICE r10 #4)") {
    // the streaming-hybrid topology: a build drains a stream whose
    // foreachBatch stages a DIFFERENT artifact on a stream thread —
    // under one global monitor that inner stage deadlocked
    val t0 = System.nanoTime
    val inner = new java.util.concurrent.atomic.AtomicReference[String]()
    val outer = Tables.stagedArtifact(s"specouter_$t0", "/spec/corpus", "v1") { base =>
      val t = new Thread(() => {
        inner.set(Tables.stagedArtifact(s"specinner_$t0", "/spec/corpus", "v1") { b =>
          new java.io.File(b).mkdirs(); b
        })
      })
      t.start(); t.join(30000)
      assert(!t.isAlive,
        "an independent staged build must not block on this build's lock")
      new java.io.File(base).mkdirs(); base
    }
    assert(outer != null && inner.get() != null)
  }

  test("VersionMemo runs ONE build under concurrent first access") {
    // a plain get-then-put memo raced two first accessors into
    // DUPLICATE training builds (double trainingBuilds ticks, a wasted
    // Lloyd pass) once staged builds started running concurrently —
    // the per-key cell must serialize them into exactly one build
    val memo = new graft.sources.VersionMemo[Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val release = new java.util.concurrent.CountDownLatch(1)
    def get(): Int = memo("k", "v1") {
      release.await(10, java.util.concurrent.TimeUnit.SECONDS)
      builds.incrementAndGet()
    }
    val threads = (1 to 4).map(_ => new Thread(() => { get(); () }))
    threads.foreach(_.start())
    Thread.sleep(100) // one thread is mid-build, three wait on the cell
    release.countDown()
    threads.foreach(_.join(10000))
    assert(builds.get() == 1,
      s"concurrent first access ran ${builds.get()} builds, expected 1")
    assert(get() == 1, "later accessors must read the memoized value")
  }

  test("re-staged corpus rebuilds the staged incremental+compacted IVF index") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ver_ivf_${System.nanoTime}"
    val postingsSchema = "cand_id BIGINT, c_emb ARRAY<FLOAT>, cent_id BIGINT"
    Tables.embeddings(spark, sf).write.parquet(s"$base/embeddings.parquet")
    val b1 = graft.operators.Similarity.stagedCompactIndex(graft.operators.Similarity.Ivf)(spark, base)
    val n1 = spark.read.schema(postingsSchema).parquet(s"$b1/postings").count()
    assert(n1 == Tables.embeddings(spark, base).filter(col("vec_id") >= 10).count())
    // corpus RE-STAGED in place: half the vectors, same directory — the
    // staged inc/compact index must key on the content version and
    // rebuild (VERDICT r9 #7: the TrieMap key carries the full vkey;
    // the staging DIR now carries the full fingerprint too)
    Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val b2 = graft.operators.Similarity.stagedCompactIndex(graft.operators.Similarity.Ivf)(spark, base)
    assert(b2 != b1, "mutated corpus must stage a NEW index dir, not alias the old one")
    val n2 = spark.read.schema(postingsSchema).parquet(s"$b2/postings").count()
    val fresh = Tables.embeddings(spark, base).filter(col("vec_id") >= 10).count()
    assert(n2 == fresh, s"rebuilt index has $n2 postings, current corpus has $fresh")
    CacheScope.releaseAll(spark)
  }
}

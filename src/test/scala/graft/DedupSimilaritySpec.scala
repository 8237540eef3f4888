package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

class DedupSimilaritySpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("exact dedup keeps one survivor per distinct text") {
    val n = Tables.documents(spark, sf).select("text").distinct().count()
    assert(Dedup.exact(spark, sf).count() == n)
  }

  test("exact dedup shuffles fingerprints, not document text (VERDICT r3 #2)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Dedup.exact(spark, sf)
    df.count() // finalize any adaptive plan
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, "exact dedup must aggregate through a shuffle")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document text must not cross the exchange: ${e.output.map(_.name)}")
    }
  }

  test("incremental dedup: planted re-deliveries drop, batch originals survive, fps-only shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val df = Dedup.incremental(spark, sf)
    df.count()
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .foreach { e =>
        assert(!e.output.exists(_.name == "text"),
          s"snapshot/batch text must not cross an exchange: ${e.output.map(_.name)}")
      }
    val rows = df.collect()
    // every planted re-crawl (+1e6) was dropped by the snapshot
    // anti-join; every double-delivery (+3e6) collapsed onto its
    // original id via the min election
    assert(rows.forall(_.getAs[Long]("doc_id") < 1000000L))
    // survivors = exactly the src0 batch; double-delivered ones carry
    // n_copies = 2, the rest 1
    val src0 = Tables.documents(spark, sf).filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == src0)
    rows.foreach { r =>
      val expected = if (r.getAs[Long]("doc_id") % 11 == 0) 2L else 1L
      assert(r.getAs[Long]("n_copies") == expected, r.toString)
    }
  }

  test("incremental near-dup: verdicts equal the brute-force batch-vs-snapshot truth") {
    val rows = Dedup.incrementalNear(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_near"), r.getAs[Boolean]("kept")))
      .toMap
    // brute-force truth from the lshVerified all-pairs query restricted
    // to pairs crossing the src0 boundary
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = Dedup.ngramJaccard(spark, sf).filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b").collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (srcOf(a) == "src0", srcOf(b) == "src0") match {
          case (true, false) => Some(a)
          case (false, true) => Some(b)
          case _ => None
        }
      }
    val truthCounts = truth.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.keySet == srcOf.collect { case (id, "src0") => id }.toSet,
      "every batch doc gets a verdict")
    rows.foreach { case (id, (n, kept)) =>
      assert(n == truthCounts.getOrElse(id, 0L), s"doc $id n_near")
      assert(kept == !truthCounts.contains(id), s"doc $id kept")
    }
    assert(truthCounts.nonEmpty, "gate corpus must exercise the drop side")
  }

  test("LSH candidates achieve full recall on true near-dups (jaccard >= 0.7)") {
    val truth = Dedup.ngramJaccard(spark, sf).filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test data should contain planted near-dups")
    val found = Dedup.lshVerified(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found),
      s"LSH missed ${truth.diff(found).size} of ${truth.size} true pairs")
  }

  test("prefix-filter exact join equals the LSH-verified pair set") {
    val prefix = Dedup.prefixJoin(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshVerified(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefix == lsh && prefix.nonEmpty)
  }

  test("simhash: true near-dups land within small hamming distance") {
    val truth = Dedup.ngramJaccard(spark, sf).filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = Dedup.simhash(spark, sf).filter(col("hamming") <= 8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(sims.contains).toDouble / math.max(truth.size, 1)
    assert(truth.isEmpty || recall >= 0.8, s"simhash recall $recall on ${truth.size} pairs")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.embedding(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("brute top-k: k results per query, ranked by descending cosine") {
    val rows = Similarity.bruteTopK(spark, sf)
      .orderBy("query_id", "rank").collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      val cs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN recall against brute force (tuned tables/planes, VERDICT r1 bar)") {
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall@5 = $recall")
  }

  test("recall report matches the independently-computed per-query recall") {
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val report = Similarity.recallReport(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(report.keySet == brute.map(_._1), "every query must report")
    report.foreach { case (q, (hits, rec)) =>
      val expected = brute.filter(_._1 == q).count(lsh.contains)
      assert(hits == expected, s"query $q: $hits != $expected")
      assert(rec == hits.toDouble / Similarity.K)
    }
  }

  test("IVF ANN recall against brute force (Lloyd-refined, VERDICT r1 bar)") {
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.topK(Similarity.Ivf)(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@5 = $recall")
  }

  test("IVFPQ: composed candidates are a subset of the probed IVF lists; refine bounds loss vs IVF") {
    // the composition draws from the SAME probed lists as plain IVF and
    // can only LOSE candidates (the PQ coarse ranking may misorder past
    // RerankCoarse) — so rank-by-rank, plain IVF's exact cosines must
    // DOMINATE IVFPQ's: a composed rank-i cosine above IVF's rank-i
    // would mean a candidate from outside the probed pool leaked in.
    def ranked(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.select("query_id", "cosine", "rank").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getLong(2)).map(_.getDouble(1)).toSeq }
    val ivfR = ranked(Similarity.topK(Similarity.Ivf)(spark, sf))
    val pqR = ranked(Similarity.topK(Similarity.IvfPq)(spark, sf))
    pqR.foreach { case (q, cosines) =>
      val ref = ivfR(q)
      cosines.zipWithIndex.foreach { case (c, i) =>
        assert(i >= ref.length || c <= ref(i),
          s"query $q rank ${i + 1}: IVFPQ cosine $c exceeds IVF ${ref(i)}")
      }
    }
    // sanity floor on agreement — this corpus is uniform random vectors
    // (PQ reconstruction is weakest exactly there; see the class note),
    // so the floor is deliberately loose. On structured corpora the
    // planted-pair tests are the recall instrument.
    val ivf = Similarity.topK(Similarity.Ivf)(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.topK(Similarity.IvfPq)(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vsIvf = ivf.count(ivfpq.contains).toDouble / math.max(ivf.size, 1)
    assert(vsIvf >= 0.3, s"IVFPQ agreement with plain IVF = $vsIvf")
    // exact re-rank means cosines in the output are TRUE cosines: every
    // reported (query, cand) pair must carry the same cosine brute force
    // computes for it
    val bruteCos = Similarity.bruteTopK(spark, sf)
      .select("query_id", "cand_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.topK(Similarity.IvfPq)(spark, sf).select("query_id", "cand_id", "cosine")
      .collect().foreach { r =>
        val k = (r.getLong(0), r.getLong(1))
        bruteCos.get(k).foreach(b => assert(b == r.getDouble(2),
          s"refined cosine for $k must be the exact cosine"))
      }
  }

  test("multiprobe LSH: half the tables, comparable recall (VERDICT r2 #7 tradeoff)") {
    import org.apache.spark.sql.functions._
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.multiprobeTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(mp.contains).toDouble / brute.size
    assert(recall >= 0.8, s"multiprobe recall@5 = $recall with ${Similarity.MpTables} tables")
    // the economics: multiprobe computes HALF the corpus-side signature
    // tables of single-probe lshTopK
    assert(Similarity.MpTables * 2 == Similarity.LshTables)
    // and the probe fan-out rides the query side only: P+1 probes/table
    val nQ = 10
    val probeRows = nQ * Similarity.MpTables * (Similarity.LshPlanesPerTable + 1)
    assert(probeRows < 1000, "probe expansion must stay query-side tiny")
  }

  test("stop-bucket cap drops the planted degenerate bucket, keeps organic pairs") {
    import org.apache.spark.sql.functions._
    val capped = Dedup.embeddingLshCapped(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no pair of planted replicas (ids >= 100000) survives: their only
    // shared buckets are the hot ones the cap removed
    assert(!capped.exists { case (a, b) => a >= 100000L && b >= 100000L },
      "planted-bucket pairs must be dropped by the cap")
    // organic near-dup pairs away from the planted signature survive
    val uncapped = Dedup.embeddingLsh(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.exists { case (a, b) => a < 100000L && b < 100000L },
      "cap must not erase the organic candidate pairs")
    assert(capped.filter { case (a, b) => a < 100000L && b < 100000L }.subsetOf(uncapped),
      "capped organic pairs must be a subset of the uncapped pair set")
  }

  test("native GroupedTopK strategy: bit-identical to the Aggregator, plan has partial+final execs") {
    import org.apache.spark.sql.functions._
    // scored candidates from the brute path (every query × candidate)
    val scored = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(Tables.embeddings(spark, sf).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")))
      .select(col("query_id"), col("cand_id"),
        expr("graft_cosine(q_emb, c_emb)").as("cosine"))
    val native = graft.plans.GroupedTopK(scored, "query_id", "cand_id", "cosine", 5)
    val viaAgg = graft.functions.TopK.perGroup(scored, "query_id", "cand_id", "cosine", 5)
    val a = native.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val b = viaAgg.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(a == b, s"native strategy diverged from the Aggregator: ${a.diff(b)} vs ${b.diff(a)}")
    // plan shape: strategy planned both execs with exactly one exchange between
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKFinal") && plan.contains("GroupedTopKPartial"),
      s"expected the custom execs in:\n$plan")
    assert(plan.contains("hashpartitioning(query_id"),
      s"final exec must cluster by group via EnsureRequirements:\n$plan")
    // type contract is enforced
    intercept[IllegalArgumentException] {
      graft.plans.GroupedTopK(
        scored.withColumn("cosine", col("cosine").cast("float")),
        "query_id", "cand_id", "cosine", 5)
    }
  }

  test("native GroupedTopK with a STRING group key: bit-identical to the window form (VERDICT r3 #7)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        (length(col("text")).cast("double") /
          size(split(col("text"), " "))).as("score"))
    val native = graft.operators.TextAnalysis.langTopQualityNative(spark, sf)
    // independent parity target on a second score shape: window form
    val nat2 = graft.plans.GroupedTopK(scored, "lang", "doc_id", "score", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    val win = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(nat2 == win && win.nonEmpty,
      s"string-keyed native top-k diverged from the window form")
    // the gate query plans through the custom execs (string path)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKFinal") && plan.contains("GroupedTopKPartial"),
      s"expected the custom execs in:\n$plan")
    assert(plan.contains("hashpartitioning(lang"),
      s"final exec must cluster by the string group:\n$plan")
  }

  test("rerank: exact top-k from the coarse int8 candidates matches brute force closely") {
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Similarity.rerankTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 coarse scoring is a tight cosine proxy: with RerankCoarse=50
    // candidates out of ~40 corpus vectors at smoke SF it is exhaustive,
    // and at any SF recall should be near-perfect
    val recall = brute.count(rr.contains).toDouble / brute.size
    assert(recall >= 0.9, s"rerank recall@5 = $recall")
  }

  test("matryoshka: prefix-dim coarse + exact rerank tracks brute force; scores are exact") {
    val brute = Similarity.bruteTopK(spark, sf).select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mat = Similarity.matryoshkaTopK(spark, sf)
    val got = mat.select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a half-width prefix on an UNTRAINED random corpus is a noisy
    // proxy (real Matryoshka embeddings concentrate signal in the
    // prefix and survive 4-8×); RerankCoarse=50 recovers the top-5
    // measured 0.74 at the smoke SF: half the dims carry ~70% of the
    // rank signal on noise — the bar pins that floor
    val recall = brute.count(got.contains).toDouble / brute.size
    assert(recall >= 0.7, s"matryoshka recall@5 = $recall")
    // whatever it returns, the SCORES are exact full-width cosines
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val recheck = mat
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
      .filter(expr("graft_cosine(qe, ce)") =!= col("cosine"))
    assert(recheck.count() == 0, "final scores must be exact full-width cosines")
  }

  test("paragraph dedup: spans partition the corpus and duplicates lose exactly once") {
    import org.apache.spark.sql.functions._
    val p = Dedup.paragraphs(spark, sf)
    val rows = p.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_spans") ==
        r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed"))
    }
    // global invariant: kept spans = distinct spans in the corpus
    val sw = Dedup.SpanWords
    val spans = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(expr(
        s"""transform(sequence(0, CAST(ceil(size(w) / $sw.0) AS INT) - 1),
           |  j -> array_join(slice(w, j * $sw + 1, $sw), ' '))""".stripMargin)).as("span"))
    val nDistinct = spans.distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum == nDistinct)
    assert(rows.map(_.getAs[Long]("n_removed")).sum == spans.count() - nDistinct)
  }

  test("substring dedup matches an independent sliding-window recompute") {
    import org.apache.spark.sql.functions._
    val W = Dedup.SubstrWindow
    // independent recompute: driver-side sliding windows over raw text
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val wins = docs.toSeq.flatMap { case (id, w) =>
      if (w.length < W) Nil
      else (0 to w.length - W).map(i => (id, i.toLong, w.slice(i, i + W).mkString(" ")))
    }
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = wins.groupBy(_._1).map { case (id, ws) =>
      val dupWs = ws.filter(t => counts(t._3) > 1)
      val covered = dupWs.flatMap(t => t._2 until t._2 + W).distinct.size
      id -> (ws.size.toLong, dupWs.size.toLong, covered.toLong)
    }
    val got = Dedup.substrings(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Long]("n_dup_positions"))).toMap
    assert(got.keySet == expected.keySet,
      "every doc with >= W words must report, shorter docs must not")
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id: ${got(id)} != $e") }
    // the point of stride-1 vs disjoint spans: at least one duplicated
    // window exists (the corpus has repeated boilerplate)
    assert(got.values.exists(_._2 > 0), "gate corpus must exercise the dup path")
    // scale-shape gate: candidates come from an equi-join, never all-pairs
    val plan = Dedup.substrings(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("centroid drift matches a driver-side reference with the same fold order") {
    val rows = Tables.embeddings(spark, sf)
      .select("label", "vec_id", "embedding").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    val sc = Similarity.DriftScale
    val byKey = rows.flatMap { case (l, id, emb) =>
      emb.zipWithIndex.map { case (v, pos) =>
        ((l, id % 2, pos), math.floor(v.toDouble * sc + 0.5).toLong) }
    }.groupBy(_._1).view.mapValues(vs => (vs.length.toLong, vs.map(_._2).sum)).toMap
    val expected = rows.map(_._1).distinct.map { l =>
      val dims = byKey.keys.filter(_._1 == l).map(_._3).max + 1
      val ds = (0 until dims).map { p =>
        val (n0, s0) = byKey((l, 0L, p)); val (n1, s1) = byKey((l, 1L, p))
        s0.toDouble / sc / n0 - s1.toDouble / sc / n1
      }
      l.toLong -> ds.foldLeft(0.0)((acc, d) => acc + d * d)
    }.toMap
    val got = Similarity.centroidDrift(spark, sf).collect()
      .map(r => r.getInt(0).toLong -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (l, e) =>
      assert(got(l) == e, s"label $l: ${got(l)} != $e (must be bit-equal)") }
    // parity halves of the same distribution: drift is small but nonzero
    assert(expected.values.forall(v => v > 0))
  }

  test("label propagation matches a driver-side synchronous reference") {
    val e0 = Similarity.knnGraph(spark, sf).select("vec_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ue = (e0 ++ e0.map(_.swap)).distinct
    val nodes = Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0))
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 0 until Similarity.LpaIters) {
      val elected = ue.groupBy(_._2).map { case (dst, es) =>
        val counts = es.groupBy(e => lbl(e._1)).view.mapValues(_.size)
        // most frequent neighbor label, ties to the SMALLEST label
        dst -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
      lbl = nodes.map(v => v -> elected.getOrElse(v, lbl(v))).toMap
    }
    val got = Similarity.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == lbl.keySet)
    lbl.foreach { case (v, l) => assert(got(v)._1 == l, s"node $v: ${got(v)._1} != $l") }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (v, (l, sz)) => assert(sz == sizes(l)) }
    // propagation actually merged nodes: fewer communities than nodes
    assert(sizes.size < nodes.length, "no label ever propagated")
  }

  test("pagerank matches a driver-side integer reference on the same edges") {
    val edges = Similarity.knnGraph(spark, sf)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Tables.embeddings(spark, sf).select("vec_id")
      .collect().map(_.getLong(0))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val scale = Similarity.prScaleFor(nodes.length.toLong)
    val base = scale * 15 / 100
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 0 until Similarity.PrIters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => r(src) / deg(src) }.sum).toMap
      r = nodes.map(v => v -> (base + in.getOrElse(v, 0L) * 85 / 100)).toMap
    }
    val got = Similarity.pagerank(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r, "distributed fixed-point PR must equal the reference bit-for-bit")
    // centrality is non-trivial: in-degree variation must separate ranks
    assert(got.values.toSet.size > 1, "all ranks equal — graph degenerated")
    assert(got.values.forall(_ >= base), "every node keeps at least the damped base")
  }

  test("IVF centroid count is o(n): √n-capped policy bounds the broadcast (VERDICT r2 #2)") {
    // policy function: ≈√n up to the cap, then constant — never n/const
    assert(Similarity.ivfNlist(100L) == 10L)
    assert(Similarity.ivfNlist(1000000L) == 1000L || Similarity.ivfNlist(1000000L) == Similarity.IvfMaxNlist)
    Seq(1e6.toLong, 1e9.toLong, 1e12.toLong).foreach { n =>
      assert(Similarity.ivfNlist(n) <= Similarity.IvfMaxNlist,
        s"nlist(${n}) must respect the broadcast cap")
    }
    // the actual centroid table respects the budget: at most nlist + 1
    // stride samples exist (ids 0, stride, 2·stride, …)
    val n = Tables.embeddings(spark, sf).count()
    val nCents = Similarity.kmeansCentroids(spark, sf).count()
    assert(nCents <= Similarity.ivfNlist(n) + 1,
      s"centroid table has $nCents rows for corpus of $n (nlist=${Similarity.ivfNlist(n)})")
    assert(nCents >= 2, "policy degenerated to a single centroid at test SF")
  }

  test("LSH candidate generation is an equi-join, not a cross join") {
    val plan = Dedup.minhashLsh(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH must bucket-join, got:\n$plan")
  }

  test("embedding LSH dedup: no cross join anywhere in the plan") {
    val plan = Dedup.embeddingLsh(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"embeddingLsh must bucket-join, got:\n$plan")
  }

  test("embedding LSH dedup output is a subset of the all-pairs truth (exact verify)") {
    val truth = Dedup.embedding(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLsh(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "expected some verified pairs at the smoke SF")
    assert(lsh.subsetOf(truth),
      s"embeddingLsh emitted ${lsh.diff(truth).size} pairs outside the exact truth")
  }

  test("embedding LSH achieves full recall on planted near-dups (the dedup operating point)") {
    // This corpus is uniform random vectors (pair cosines top out ~0.5,
    // inside the random bulk), so LSH recall AT the 0.4 threshold is a
    // corpus artifact. The operating point of embedding dedup is true
    // near-dups (cosine ≥ 0.95); plant them and demand full recall.
    import org.apache.spark.sql.functions._
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val n = base.count()
    val planted = base.select((col("vec_id") + lit(100000)).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => (x * (lit(1.0) + lit(0.15) *
          (pmod(hash(col("vec_id"), d), lit(2)) * 2 - 1))).cast("float")).as("embedding"))
    val all = base.union(planted)
    val dims = graft.functions.Planes.dimsOf(all, "embedding")
    val banded = graft.functions.Planes
      .withSigs(all, "embedding", Dedup.EmbLshTables, Dedup.EmbLshPlanes, dims)
      .select(col("table"), col("sig"), col("vec_id"))
    val cands = banded.select(col("table"), col("sig"), col("vec_id").as("vec_a"))
      .join(banded.select(col("table"), col("sig"), col("vec_id").as("vec_b")),
        Seq("table", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = (0L until n).filterNot(v => cands.contains((v, v + 100000)))
    assert(missed.isEmpty, s"LSH bands missed ${missed.size}/$n planted near-dup pairs")
  }

  test("star-contraction components handle a long path graph (diameter >> rounds)") {
    // a 500-node chain has diameter 499: plain min-label propagation
    // would need ~500 rounds; star contraction must finish in O(log n)
    import spark.implicits._
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 500)
    assert(comps.values.forall(_ == 0L), "every chain node must label to the minimum")
    // and two disjoint cliques stay separate
    val two = (Seq((10L, 11L), (11L, 12L), (10L, 12L)) ++
      Seq((20L, 21L), (21L, 22L))).toDF("doc_a", "doc_b")
    val c2 = Dedup.connectedComponents(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(10L, 11L, 12L).forall(c2(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(c2(_) == 20L))
  }

  test("components: ADVICE r3 counterexample — shared leaf under two centers must merge") {
    // {(5,6),(5,7),(1,6),(2,7)} is ONE component, but after one ls+ss
    // round the state is {(1,5),(2,5),(1,6),(2,7)}: x∩y = ∅ (the r3
    // convergence test passes) while leaf 5 sits under centers 1 AND 2 —
    // extracting labels there returns split components {1,5,6} / {2,7}.
    // The tightened star-forest test (no leaf with >1 edge) must keep
    // contracting until everything labels to the true minimum, 1.
    import spark.implicits._
    val pairs = Seq((5L, 6L), (5L, 7L), (1L, 6L), (2L, 7L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet == Set(1L, 2L, 5L, 6L, 7L))
    assert(comps.values.forall(_ == 1L),
      s"one connected component must label entirely to its minimum; got $comps")
    // same shape at one remove: two stars whose leaf sets overlap
    val overlap = Seq((10L, 30L), (10L, 31L), (20L, 31L), (20L, 32L))
      .toDF("doc_a", "doc_b")
    val c2 = Dedup.connectedComponents(overlap).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2.values.forall(_ == 10L), s"overlapping stars must merge; got $c2")
  }

  test("incremental components: rep-contracted merge equals the full recompute") {
    val full = Dedup.components(spark, sf).orderBy("doc_id").collect()
    val inc = Dedup.componentsIncremental(spark, sf).orderBy("doc_id").collect()
    assert(full.nonEmpty, "gate corpus must contain near-dup pairs")
    assert(full.sameElements(inc),
      "incremental merge must reproduce the from-scratch labeling exactly")
    // adversarial merge algebra: two disjoint snapshot components
    // {1,2,3} (rep 1) and {10,11} (rep 10) joined ONLY through a batch
    // chain 3–100–10, plus a batch-only pair and an unlabeled snapshot
    // doc first seen in a new pair
    import spark.implicits._
    val snapLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "snap_comp")
    val newPairs = Seq((3L, 100L), (100L, 10L), (200L, 201L), (50L, 300L))
      .toDF("doc_a", "doc_b")
    val m = Dedup.mergeComponents(snapLabels, newPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 10L, 11L, 100L).forall(m(_) == 1L),
      s"batch chain must merge both snapshot components to min 1; got $m")
    assert(m(200L) == 200L && m(201L) == 200L, "batch-only pair labels to its min")
    assert(m(50L) == 50L && m(300L) == 50L,
      "snapshot doc first seen in a new pair is its own rep")
  }

  test("components: random graphs agree with a union-find oracle, full and incremental") {
    // seeded random multigraphs vs a driver-side union-find: pins the
    // whole star-contraction + convergence machinery (and the
    // incremental merge under ARBITRARY snapshot/batch edge splits, not
    // just the corpus's) against an independent implementation
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(80 + rnd.nextInt(40))(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
      val expected = unionFind(edges)
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: full labels diverge from union-find")
      // random edge split into "snapshot" and "new": merge must land on
      // the same labels as the full run
      val (snapE, newE) = edges.partition(_ => rnd.nextBoolean())
      if (snapE.nonEmpty && newE.nonEmpty) {
        val snapLabels = Dedup.connectedComponents(snapE.toDF("doc_a", "doc_b"))
          .withColumnRenamed("comp", "snap_comp")
        val merged = Dedup.mergeComponents(snapLabels, newE.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(merged == expected, s"trial $trial: incremental labels diverge")
      }
    }
  }

  test("components loop: an ls+ss iteration costs two driver actions (VERDICT r4 #6)") {
    // per iteration the loop now issues TWO driver actions — the eager
    // large-round checkpoint and the combined small-round-materialize +
    // convergence aggregate (the small round's localCheckpoint is lazy
    // and rides the convergence action; the role scan is a single pass
    // of edges so it cannot fan out into parallel recomputes of the
    // lazy RDD). The r4 shape issued three (two eager checkpoints + a
    // separate isEmpty over a 2-branch union). Counted in Spark JOBS
    // (AQE adds one per shuffle stage): the 128-chain measured 92 jobs
    // on the r4 shape vs 78 on this one — exactly 2 fewer per ls+ss
    // iteration (7 iterations). Labels must be identical either way.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val chain = (0L until 127L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    spark.sparkContext.addSparkListener(listener)
    val comps = try {
      val c = Dedup.connectedComponents(chain).collect()
      Thread.sleep(500) // let queued listener events drain
      c
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(comps.length == 128 && comps.forall(_.getLong(1) == 0L),
      "every chain node must label to the minimum")
    val n = jobs.get()
    // bound sits between the two measurements with slack for AQE stage
    // jitter: anything re-adding a per-iteration action lands at 92+
    assert(n > 0 && n <= 85,
      s"components on a 128-chain should stay ≤ 85 jobs (measured 78; r4 shape ran 92); ran $n")
  }

  test("bloom incremental dedup: bit-identical to the exact path, prune sits before the anti-join") {
    val exact = Dedup.incremental(spark, sf).orderBy("doc_id").collect()
    val bloomed = Dedup.incrementalBloom(spark, sf).orderBy("doc_id").collect()
    assert(exact.nonEmpty && exact.sameElements(bloomed),
      "exact anti-join verification must cancel every bloom false positive")
    // structural: might_contain fed by a scalar subquery (the 1-row
    // bloom build) prunes the batch before the fp anti-join
    val plan = Dedup.incrementalBloom(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prune missing from plan:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      "bloom must arrive as a scalar subquery")
  }

  test("coarse quantizer trains once per corpus: a second consumer runs zero centroid jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // warm the cache (first consumer pays the Lloyd sweeps)
    val first = Similarity.kmeansCentroidSeq(spark, sf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val second = try {
      val r = Similarity.kmeansCentroidSeq(spark, sf)
      Thread.sleep(300) // let queued listener events drain
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"second centroid consumer must reuse the session-cached build, ran ${jobs.get()} jobs")
    assert(second == first, "cache must return the identical centroid set")
  }

  test("IVF job count is bounded and embeddings never cross an exchange (VERDICT r3 #4)") {
    // each Lloyd sweep = ONE distributed pass (narrow literal-argmax
    // assignment + one partial-agg shuffle + bounded collect); the r3
    // form ran per sweep a broadcast, a full-corpus embedding shuffle,
    // a second agg shuffle and a localCheckpoint — measured 33 jobs
    // end-to-end under AQE (each shuffle stage is a job). The rewrite
    // measures 22; the bound leaves small slack for AQE stage jitter.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // NOTE: ivfTopK trains eagerly at call time (the bounded per-sweep
    // collects), so the listener must cover construction too
    val df = try {
      val d = Similarity.topK(Similarity.Ivf)(spark, sf)
      d.count()
      Thread.sleep(500) // let queued listener events drain
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    val n = jobs.get()
    // the bound pins the r3 regression (33 jobs) without flaking on
    // AQE stage jitter across machines/core counts: measured 22, and
    // anything re-adding a per-sweep shuffle lands well above 28
    assert(n > 0 && n <= 28, s"ivfTopK should stay under 28 jobs end-to-end (r3 ran 33), ran $n")
    // the scale property behind the job cut: no DATA-DEPENDENT
    // (hash/range) exchange in the final query carries an embedding
    // column — vectors are scored where they are scanned. The one
    // permitted round-robin exchange is Tables.embeddingsParallel's
    // test-SF fan-out of a single-split parquet file; at corpus scale
    // real file splits replace it (its scaladoc contract).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val embInExchange = root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .flatMap(_.output.map(_.name))
      .filter(n => n.contains("emb") || n.contains("embedding"))
    assert(embInExchange.isEmpty,
      s"embedding columns must not cross a keyed shuffle: $embInExchange")
  }

  test("minhash audit: every true j>=0.7 pair is covered by LSH candidates") {
    val r = Dedup.minhashAudit(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_truth") > 0)
    assert(r.getAs[Long]("n_covered") == r.getAs[Long]("n_truth"))
  }

  test("simhash audit: 4x16 bands cover every hamming<=3 pair found by 8x8 bands") {
    val r = Dedup.simhashAudit(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_missed") == 0L)
  }

  test("label centroids: partial aggs keep whole vectors out of every exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val df = Similarity.labelCentroids(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val labels = emb.select("label").distinct().count()
    val dims = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    // exactly labels×dims centroid components — the exchange ceiling
    // per partition under map-side partial aggregation
    assert(df.count() == labels * dims)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wide = root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .flatMap(_.output.map(_.name)).filter(Set("embedding", "v"))
    assert(wide.isEmpty, s"vector payloads crossed a hash exchange: $wide")
  }

  test("fused PQ kernel is bit-identical to the HOF reference over the whole corpus (r17)") {
    // the encode/reconstruct projections now run through the native
    // graft_pq_codes / graft_pq_recon kernel; pqBest stays as the
    // executable reference — every row's codes AND reconstruction must
    // match bit-for-bit (same fold order, same (l2, cid) tie-break)
    graft.functions.GraftFunctions.register(spark)
    val book = Similarity.pqCodebook(spark, sf)
    val sub = book.head._2.length / Similarity.PqSubspaces
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val ref = emb.select(col("vec_id"),
      array((0 until Similarity.PqSubspaces).map(m =>
        Similarity.pqBest(book, "embedding", m, sub).getField("cid")): _*).as("codes"),
      concat((0 until Similarity.PqSubspaces).map(m =>
        Similarity.pqBest(book, "embedding", m, sub).getField("sub")): _*).as("recon"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toVector, r.getSeq[Float](2).toVector))).toMap
    val fused = emb.select(col("vec_id"),
      call_function("graft_pq_codes", col("embedding"),
        typedLit(book.map(_._2.toSeq)), typedLit(book.map(_._1)),
        lit(Similarity.PqSubspaces)).as("codes"),
      call_function("graft_pq_recon", col("embedding"),
        typedLit(book.map(_._2.toSeq)), typedLit(book.map(_._1)),
        lit(Similarity.PqSubspaces)).as("recon"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toVector, r.getSeq[Float](2).toVector))).toMap
    assert(fused.keySet == ref.keySet)
    fused.foreach { case (id, (codes, recon)) =>
      assert(codes == ref(id)._1, s"codes drifted for vec $id")
      assert(recon.map(java.lang.Float.floatToRawIntBits) ==
        ref(id)._2.map(java.lang.Float.floatToRawIntBits),
        s"reconstruction drifted for vec $id")
    }
    CacheScope.releaseAll(spark)
  }

  test("PQ encode: codes are the true per-subspace argmin (driver recompute)") {
    val book = Similarity.pqCodebook(spark, sf)
    assert(book.size <= Similarity.PqCodewords)
    val dims = book.head._2.length
    val subLen = dims / Similarity.PqSubspaces
    val coded = Similarity.pqEncode(spark, sf)
      .filter(col("vec_id").isin(11L, 42L, 99L)).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(coded.nonEmpty)
    val raw = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(coded.keys.toSeq.map(Long.box): _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    coded.foreach { case (id, codes) =>
      assert(codes.length == Similarity.PqSubspaces)
      codes.zipWithIndex.foreach { case (code, m) =>
        assert(code >= 0 && code < Similarity.PqCodewords)
        val v = raw(id).slice(m * subLen, (m + 1) * subLen).map(_.toDouble)
        // same fold order as the operator: sequential left-to-right
        val want = book.map { case (cid, cw) =>
          val c = cw.slice(m * subLen, (m + 1) * subLen).map(_.toDouble)
          (v.zip(c).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }, cid)
        }.min._2
        assert(code == want, s"vec $id subspace $m: code $code != argmin $want")
      }
    }
  }

  test("PQ retrieval: reconstruction scan is narrow (no embedding exchange) and ranks are dense") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val df = Similarity.pqTopK(spark, sf)
    df.count()
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wide = root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .flatMap(_.output.map(_.name)).filter(Set("c_emb", "recon", "embedding"))
    assert(wide.isEmpty, s"PQ shuffled a vector payload: $wide")
    val perQuery = df.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) == Similarity.K))
  }

  test("semantic dedup: kept set has no in-cluster pair at tau; planted twins collapse") {
    val out = Similarity.semanticDedup(spark, sf)
    val rows = out.collect()
    assert(rows.length == Tables.embeddings(spark, sf).count(),
      "every vector gets a verdict")
    // exactness of the rule: the kept set must contain NO same-cluster
    // pair at cosine >= tau (any such pair's larger member is removed)
    val kept = out.filter(col("kept"))
    val a = kept.select(col("cent_id"), col("vec_id").as("va"))
    val b = kept.select(col("cent_id"), col("vec_id").as("vb"))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    graft.functions.GraftFunctions.register(spark)
    val keptPairsAtTau = a.join(b, Seq("cent_id")).filter(col("va") < col("vb"))
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .filter(expr(s"graft_cosine(ea, eb) >= ${Similarity.SemanticTau}"))
    assert(keptPairsAtTau.count() == 0,
      "kept vectors must be pairwise below tau within every cluster")
    // planted twins (cosine >= tau) that share a cluster must collapse:
    // the larger id is removed
    val assignments = out.select(col("vec_id"), col("cent_id"))
    val twins = Dedup.embedding(spark, sf)
      .filter(col("cosine") >= Similarity.SemanticTau)
      .select(col("vec_a"), col("vec_b"))
      .join(assignments.select(col("vec_id").as("vec_a"), col("cent_id").as("ca")), "vec_a")
      .join(assignments.select(col("vec_id").as("vec_b"), col("cent_id").as("cb")), "vec_b")
      .filter(col("ca") === col("cb"))
    val nTwins = twins.count()
    assert(nTwins > 0, "test corpus must have planted same-cluster twins")
    val surviving = twins
      .join(kept.select(col("vec_id").as("vec_b")), "vec_b")
    assert(surviving.count() == 0,
      "every same-cluster twin's larger member must be removed")
  }

  test("pair lineage: ONE verify pass per corpus build; derivations hash-equal recompute") {
    // VERDICT r5 #2 / r6 #4: the corpus build stages the verified pair
    // list + component labels once; cluster stats, survivors, and the
    // leakage-free split derive from the staged tables. Proof has two
    // halves: (a) every derived output equals its recompute twin
    // row-for-row; (b) exactly ONE executed query computes minhash
    // signatures during the build+derive phase.
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // recompute twins first (these each run their own verify pass)
    val expLabels = rows(Dedup.components(spark, sf))
    val expStats = rows(Dedup.clusterStats(spark, sf))
    val expSurv = rows(Dedup.survivors(spark, sf))
    val expSplit = rows(TextAnalysis.leakageFreeSplit(spark, sf))
    // staged build + derivations under a marker-windowed minhash
    // counter (SharedSpark.countExecutions — the async bus leaked a
    // recompute twin's in-flight event into the old raw listener)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_lineage_${System.nanoTime}"
    val ((labels, stats, surv, split), minhashRuns) =
      SharedSpark.countExecutions(spark)(_.toLowerCase.contains("minhash")) {
        val (_, labelsPath) = Dedup.buildPairLineage(spark, sf, base)
        val staged = spark.read.parquet(labelsPath)
        (rows(staged),
          rows(Dedup.clusterStatsFromLabels(staged)),
          rows(Dedup.survivorsFromLabels(spark, sf, staged)),
          rows(TextAnalysis.leakageFreeSplitFromLabels(spark, sf, staged)))
      }
    assert(labels == expLabels, "staged labels must equal recompute labels")
    assert(stats == expStats && surv == expSurv && split == expSplit,
      "every lineage derivation must equal its recompute twin")
    assert(minhashRuns == 1,
      s"a corpus build must run the minhash/verify pass exactly once, ran $minhashRuns")
  }

  test("kNN graph lineage: ONE signature/verify pass; derivations hash-equal recompute") {
    // VERDICT r7 #1: the graph build (LSH signature self-join + cosine
    // verify) stages the verified edge list once; label propagation,
    // PageRank, and the graph gate itself derive from the staged
    // parquet. Proof mirrors the dedup pair-lineage gate: (a) every
    // derived output equals its recompute twin row-for-row; (b)
    // exactly ONE executed query computes LSH signatures during the
    // build+derive phase.
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // recompute twins first (each runs its own signature pass)
    val expGraph = rows(Similarity.knnGraph(spark, sf))
    val expLpa = rows(Similarity.labelProp(spark, sf))
    val expPr = rows(Similarity.pagerank(spark, sf))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_knng_${System.nanoTime}"
    val ((graph, lpa, pr), sigRuns) =
      SharedSpark.countExecutions(spark)(_.toLowerCase.contains("lsh_sigs")) {
        val edgesPath = Similarity.buildKnnGraphLineage(spark, sf, base)
        val staged = spark.read.parquet(edgesPath)
        (rows(staged),
          rows(Similarity.labelPropFromEdges(spark, sf, staged)),
          rows(Similarity.pagerankFromEdges(spark, sf, staged)))
      }
    assert(graph == expGraph, "staged edges must equal the recompute graph")
    assert(lpa == expLpa && pr == expPr,
      "every graph derivation must equal its recompute twin")
    assert(sigRuns == 1,
      s"a graph build must run the signature/verify pass exactly once, ran $sigRuns")
  }

  test("persisted IVF index: bit-equal serving, inverted lists pruned as partitions") {
    // the FAISS index-file shape done Spark-native: centroids + the
    // partitionBy(cent_id) postings must serve results bit-equal to
    // the in-memory IVF path...
    val mem = Similarity.topK(Similarity.Ivf)(spark, sf).collect().map(_.toString).toSet
    val idx = Similarity.indexTopK(Similarity.Ivf)(spark, sf)
    assert(idx.collect().map(_.toString).toSet == mem,
      "persisted-index serving must equal the in-memory IVF results")
    // ...and the probe join must prune unprobed list partitions at
    // runtime: the broadcast probe side induces a dynamic partition
    // pruning subquery on the postings scan
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"postings scan must carry a dynamic partition pruning filter:\n$plan")
  }

  test("incremental IVF index: append is batch-only, snapshot files untouched, drift-gated") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ivfinc_${System.nanoTime}"
    Similarity.buildSnapshot(Similarity.Ivf)(spark, sf, base)
    def listing(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing(s"$base/postings")
    Similarity.appendBatch(Similarity.Ivf)(spark, sf, base)
    val after = listing(s"$base/postings")
    // the append only ADDS files into the inverted-list dirs — every
    // snapshot postings file survives byte-identical (name + mtime)
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"snapshot postings file rewritten: $p")
    }
    assert(after.size > before.size, "append must add batch files")
    // appended rows = exactly the batch
    val postings = spark.read
      .schema("cand_id BIGINT, c_emb ARRAY<FLOAT>, cent_id BIGINT")
      .parquet(s"$base/postings")
    val batchN = Tables.embeddings(spark, sf)
      .filter(expr(s"${Similarity.IvfIncBatchPred}")).count()
    assert(postings.filter(expr(Similarity.IvfIncBatchPred
      .replace("vec_id", "cand_id"))).count() == batchN,
      "appended postings must carry exactly the batch vectors")
    // serving prunes the postings partitions like the one-shot index
    val served = Similarity.incTopK(Similarity.Ivf)(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "incremental-index serving must DPP-prune the postings scan")
    val rows = served.collect()
    assert(rows.length == 10 * Similarity.K,
      s"10 queries × K results expected, got ${rows.length}")
    // drift policy: the gate corpus's batch is from the trained
    // distribution → append branch (its drift reads only the held-out
    // generalization gap, under the bar)
    val (drift, retrain) = Similarity.retrainSignal(Similarity.Ivf)(spark, sf)
    assert(!retrain && math.abs(drift) < Similarity.IvfIncDriftBar,
      s"in-distribution batch must take the append branch (drift=$drift)")
    // a genuinely shifted batch: vectors in the orthogonal complement
    // of the centroid span — unquantizable by construction. (A merely
    // NEGATED batch is the wrong test: this corpus is symmetric, so
    // -x quantizes exactly as well as x and SHOULD read in-dist.)
    val cents = spark.read.parquet(s"$base/centroids").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dims = cents.head.length
    val onb = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (c <- cents) {
      var u = c.clone()
      for (b <- onb) {
        val p = u.zip(b).map { case (x, y) => x * y }.sum
        u = u.zip(b).map { case (x, y) => x - p * y }
      }
      val n = math.sqrt(u.map(x => x * x).sum)
      if (n > 1e-9) onb += u.map(_ / n)
    }
    assert(onb.size < dims, "centroid span must leave an orthogonal complement")
    var v = Array.tabulate(dims)(i => math.sin(i * 2.39996))
    for (b <- onb) {
      val p = v.zip(b).map { case (x, y) => x * y }.sum
      v = v.zip(b).map { case (x, y) => x - p * y }
    }
    val nv = math.sqrt(v.map(x => x * x).sum)
    val vf = v.map(x => (x / nv).toFloat)
    import spark.implicits._
    val shifted = Tables.embeddings(spark, sf)
      .filter(expr(Similarity.IvfIncBatchPred))
      .select(col("vec_id")).as[Long].collect()
      .map(id => (id, vf)).toSeq.toDF("cand_id", "c_emb")
    val (drift2, retrain2) = Similarity.retrainSignal(Similarity.Ivf)(spark, sf, Some(shifted))
    assert(retrain2 && drift2 > Similarity.IvfIncDriftBar,
      s"a shifted batch must trigger the retrain branch (drift=$drift2)")
  }

  test("lifecycle composition: maintenance passes run zero training jobs, serving matches") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_life_${System.nanoTime}"
    // the one and only training pass: the snapshot build (memo-warm or
    // not — what matters is the MAINTENANCE passes below add nothing)
    Similarity.buildSnapshot(Similarity.Ivf)(spark, sf, base)
    val trained = Similarity.trainingBuilds.get()
    graft.streaming.Streams.runIndexAppendStream(Similarity.Ivf)(spark, sf, base)
    val retrain = Similarity.driftReportFrom(Similarity.Ivf)(spark, sf, base)
      .head().getAs[Boolean]("retrain")
    assert(!retrain, "gate corpus must take the append branch")
    val compacted = Similarity.compactIndex(Similarity.Ivf)(spark, base)
    assert(compacted.nonEmpty,
      "the streamed appends must have fattened at least one list")
    val served = Similarity.serveIndex(Similarity.Ivf)(spark, sf, base)
      .collect().map(_.toString).toSet
    assert(Similarity.trainingBuilds.get() == trained,
      "append/drift/compact/serve must run ZERO training jobs — they consume artifacts")
    // the composed lifecycle serves exactly what the plain incremental
    // gate serves (both hash-equal to the frozen-quantizer rebuild)
    val inc = Similarity.incTopK(Similarity.Ivf)(spark, sf).collect().map(_.toString).toSet
    assert(served == inc, "lifecycle serving must equal the incremental gate")
    CacheScope.releaseAll(spark)
  }

  test("IVF retrain lifecycle: the spiked batch trips the imbalance bar, the retrain learns the new mode") {
    // staging runs the composed path: snapshot build → spiked batch
    // append under the frozen quantizer → imbalance consult (the
    // require inside asserts the verdict IS `retrain`) → fresh
    // quantizer on the combined corpus → postings rebuild
    val base = Similarity.stagedRetrainIndex(Similarity.Ivf)(spark, sf)
    // the retrain genuinely learned the spike mode: the shifted batch
    // now has a centroid of its own (its best cosine is exactly 1.0,
    // vs ≈0.24 against the frozen snapshot quantizer)
    val cents = spark.read.parquet(s"$base/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val best = array_max(transform(typedLit(cents), c =>
      call_function("graft_cosine", col("embedding"), c.getField("_2"))))
    val batchMin = Similarity.driftedEmbeddings(spark, sf)
      .filter(expr(Similarity.IvfIncBatchPred))
      .select(best.as("b")).agg(min(col("b"))).head().getDouble(0)
    assert(batchMin > 0.999,
      s"every shifted-batch vector must sit on its own retrained centroid, min cos $batchMin")
    // the plain (unbalanced-free) maintained index takes the append
    // branch under the same bar
    val rep = Similarity.imbalanceReport(Similarity.Ivf)(spark, sf).head()
    assert(!rep.getAs[Boolean]("retrain"),
      s"the gate corpus's maintained index must read balanced: $rep")
    val trained = Similarity.trainingBuilds.get()
    assert(Similarity.retrainTopK(Similarity.Ivf)(spark, sf).count() > 0)
    assert(Similarity.trainingBuilds.get() == trained,
      "serving the retrained artifact must run ZERO training jobs")
    CacheScope.releaseAll(spark)
  }

  test("IVFPQ imbalance report watches the code postings' skew face (VERDICT r11 #2)") {
    // coarse assignment ignores the codes, so the compressed artifact's
    // per-list counts must be IDENTICAL to the uncompressed report —
    // and the natural corpus reads balanced on both
    val pq = Similarity.imbalanceReport(Similarity.IvfPq)(spark, sf).head()
    val ivf = Similarity.imbalanceReport(Similarity.Ivf)(spark, sf).head()
    assert(pq == ivf,
      s"code postings must carry the same assignment counts: $pq vs $ivf")
    assert(!pq.getAs[Boolean]("retrain"),
      s"the gate corpus's maintained IVFPQ index must read balanced: $pq")
    CacheScope.releaseAll(spark)
  }

  test("imbalance consult reads the artifact's size header; header equals the postings recount (VERDICT r14 #6)") {
    def countsOf(base: String, postingsSchema: String) = {
      val lc = new org.apache.hadoop.fs.Path(s"$base/list_counts")
      val fs = lc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(lc),
        s"staged maintained index must carry its size header: $base")
      val header = spark.read.schema("cent_id BIGINT, c BIGINT")
        .parquet(lc.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val recount = spark.read.schema(postingsSchema)
        .parquet(s"$base/postings")
        .groupBy(col("cent_id")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // header == recount pins the report equal through either path
      // (the aggregate is a pure function of the (cent_id, c) rows)
      assert(header == recount,
        s"size header drifted from the postings truth at $base")
    }
    countsOf(Similarity.stagedIncIndex(Similarity.Ivf)(spark, sf),
      "cand_id BIGINT, c_emb ARRAY<FLOAT>, cent_id BIGINT")
    countsOf(Similarity.stagedIncIndex(Similarity.IvfPq)(spark, sf),
      Similarity.PqPostingsSchema)
    CacheScope.releaseAll(spark)
  }

  test("IVFPQ retrain lifecycle: the spiked batch trips codebook drift, the branch retrains, serving trains nothing") {
    // staging runs the composed path: snapshot build → codebook-drift
    // consult with the SHIFTED batch (the require inside asserts the
    // verdict IS `retrain` — the branch this gate exists to prove) →
    // fresh quantizer + codebook on the combined corpus → re-encode
    val base = Similarity.stagedRetrainIndex(Similarity.IvfPq)(spark, sf)
    // the branch actually retrained: the artifact's quantizer is NOT
    // the frozen snapshot quantizer it started from
    val snapCents = Similarity
      .kmeansCentroidSeqFiltered(spark, sf,
        s"NOT (${Similarity.IvfIncBatchPred})")
    val served = spark.read.parquet(s"$base/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(served != snapCents,
      "the retrain branch must replace the frozen snapshot quantizer")
    val trained = Similarity.trainingBuilds.get()
    assert(Similarity.retrainTopK(Similarity.IvfPq)(spark, sf).count() > 0)
    assert(Similarity.trainingBuilds.get() == trained,
      "serving the retrained artifact must run ZERO training jobs")
    CacheScope.releaseAll(spark)
  }

  test("hybrid index serving prunes both arms: static buckets, DPP'd lists") {
    val plan = Similarity.hybridIndexTopK(spark, sf)
      .queryExecution.executedPlan.toString
    // dense arm: the broadcast probe side dynamically prunes the IVF
    // inverted-list partitions
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"dense arm must DPP-prune the IVF postings:\n$plan")
    // lexical arm: the postings scan is STATICALLY pruned to the query
    // terms' buckets at planning time
    val lexScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("graft_bm25idx"))
      .mkString("\n")
    assert(lexScan.nonEmpty, s"no BM25 postings scan found:\n$plan")
    assert(java.util.regex.Pattern.compile(
        "PartitionFilters: \\[bucket#\\d+L? IN \\(").matcher(lexScan).find(),
      s"lexical arm must carry a static bucket partition filter:\n$lexScan")
  }

  test("hybrid lifecycle serving keeps both arms pruned over the MAINTAINED artifacts") {
    // maintenance (streamed appends + compaction) must not cost the
    // serving plan its pruning: same two properties as the one-shot
    // gate, against the lifecycle artifacts
    val plan = Similarity.hybridLifecycleTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"dense arm must DPP-prune the maintained IVF postings:\n$plan")
    val lexScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("graft_bm25life"))
      .mkString("\n")
    assert(lexScan.nonEmpty, s"no maintained BM25 postings scan found:\n$plan")
    assert(java.util.regex.Pattern.compile(
        "PartitionFilters: \\[bucket#\\d+L? IN \\(").matcher(lexScan).find(),
      s"lexical arm must keep its static bucket partition filter:\n$lexScan")
    CacheScope.releaseAll(spark)
  }

  test("batched hybrid fusion: the query-0 slice is bit-equal to the single-query gate") {
    val single = Similarity.hybridIndexTopK(spark, sf)
      .collect().map(_.toString).toSet
    val batch0 = Similarity.hybridIndexBatchTopK(spark, sf)
      .filter(col("query_doc") === Similarity.HybridQueryDoc)
      .drop("query_doc").collect().map(_.toString).toSet
    assert(batch0 == single,
      "the batch's query-0 fusion must equal the single-query gate row for row")
    CacheScope.releaseAll(spark)
  }

  test("batched hybrid fusion runs each arm ONCE: one scan per arm, single-pass plan (VERDICT r10 #2)") {
    // the per-arm ranks ride the top-k buffer as a packed payload, so
    // the fused frame has exactly ONE consumer — no rank re-attach
    // join that would evaluate the arm pipelines a second time
    val df = Similarity.hybridIndexBatchTopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    def scans(dirTag: String) = plan.linesIterator
      .count(l => l.contains("FileScan") && l.contains(dirTag))
    assert(scans("graft_bm25idx") == 1,
      s"lexical arm must scan its postings exactly once:\n$plan")
    assert(scans("graft_ivfidx") == 1,
      s"dense arm must scan its inverted lists exactly once:\n$plan")
    assert(df.count() ==
      Similarity.HybridBatchDocs * Similarity.HybridK)
    CacheScope.releaseAll(spark)
  }

  test("streaming hybrid serving fuses the whole micro-batch in ONE pass (VERDICT r10 #1/#6)") {
    val before = Similarity.hybridBatchFusions.get()
    val out = graft.streaming.Streams.streamHybridServing(spark, sf).collect()
    val fusions = Similarity.hybridBatchFusions.get() - before
    // the N+1 check: 3 staged queries arrive as TWO micro-batches
    // (widths 2 and 1) and cost exactly one batched fusion PER
    // micro-batch — not one job chain per query
    assert(fusions == 2L,
      s"two micro-batches must run TWO batched fusions (one each), ran $fusions")
    assert(out.map(_.getAs[Long]("query_doc")).toSet ==
      Similarity.HybridStreamDocs.toSet)
    // batch-boundary invariance is non-vacuous: each query's slice is
    // bit-equal to the single-query fusion for that id
    Similarity.HybridStreamDocs.foreach { qd =>
      val slice = out.filter(_.getAs[Long]("query_doc") == qd)
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("lex_rank"),
          r.getAs[Long]("vec_rank"), r.getAs[Double]("rrf_score"),
          r.getAs[Long]("rank"))).toSet
      val single = Similarity.hybridIndexTopKFor(spark, sf, qd)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("lex_rank"),
          r.getAs[Long]("vec_rank"), r.getAs[Double]("rrf_score"),
          r.getAs[Long]("rank"))).toSet
      assert(slice == single,
        s"query $qd: batched micro-batch slice must equal the single-query fusion")
    }
    CacheScope.releaseAll(spark)
  }

  test("streaming hybrid serving refuses an over-cap micro-batch loudly (VERDICT r11 #3)") {
    // with the cap below the first staged micro-batch's width (2), the
    // stream must fail naming the conf — never silently materialize an
    // unbounded id set on the driver
    val e = intercept[Exception] {
      graft.GraftSession.withSqlConfs(spark,
          graft.streaming.Streams.MaxBatchQueriesConf -> "1") {
        graft.streaming.Streams.streamHybridServing(spark, sf).collect()
      }
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains(graft.streaming.Streams.MaxBatchQueriesConf),
      s"over-cap failure must name the conf:\n$msgs")
    CacheScope.releaseAll(spark)
  }

  test("hybrid serving over the MAINTAINED arms runs zero training jobs (VERDICT r10 #4)") {
    // force both lifecycle artifacts (each builds/maintains at most
    // once per corpus version), then prove the fusion itself is pure
    // artifact consumption
    Similarity.stagedLifecycleIndex(Similarity.Bm25)(spark, sf)
    Similarity.stagedLifecycleIndex(Similarity.Ivf)(spark, sf)
    val trained = Similarity.trainingBuilds.get()
    val fused = Similarity.hybridLifecycleTopK(spark, sf).collect()
    assert(fused.length == Similarity.HybridK)
    assert(Similarity.trainingBuilds.get() == trained,
      "fusing the maintained arms must run ZERO training jobs")
    CacheScope.releaseAll(spark)
  }

  test("hybrid serving over the RETRAINED arms trains nothing and stays pruned (VERDICT r11 #1)") {
    // the heavy-branch handoff: stage both heavy-maintenance artifacts
    // (the IVF retrain and the BM25 re-stat — their training/rebuild
    // passes happen HERE, the production nightly), then prove the
    // fusion that consumes them is pure artifact consumption with the
    // same pruning properties as every other hybrid gate
    graft.operators.TextAnalysis.stagedBm25RestatIndex(spark, sf)
    Similarity.stagedRetrainIndex(Similarity.Ivf)(spark, sf)
    val trained = Similarity.trainingBuilds.get()
    val df = Similarity.hybridRetrainTopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"dense arm must DPP-prune the retrained IVF postings:\n$plan")
    val lexScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("graft_bm25restat"))
      .mkString("\n")
    assert(lexScan.nonEmpty, s"no re-stat BM25 postings scan found:\n$plan")
    assert(java.util.regex.Pattern.compile(
        "PartitionFilters: \\[bucket#\\d+L? IN \\(").matcher(lexScan).find(),
      s"lexical arm must keep its static bucket partition filter:\n$lexScan")
    assert(df.collect().length == Similarity.HybridK)
    assert(Similarity.trainingBuilds.get() == trained,
      "fusing the retrained arms must run ZERO training jobs at serve time")
    CacheScope.releaseAll(spark)
  }

  test("IVFPQ lifecycle composition serves exactly the incremental gate's results") {
    val life = Similarity.lifecycleTopK(Similarity.IvfPq)(spark, sf)
      .collect().map(_.toString).toSet
    val inc = Similarity.incTopK(Similarity.IvfPq)(spark, sf)
      .collect().map(_.toString).toSet
    assert(life == inc,
      "composed IVFPQ lifecycle must serve the incremental gate's results")
    CacheScope.releaseAll(spark)
  }

  test("semantic dedup apply returns exactly the kept documents' text") {
    val kept = Similarity.semanticDedup(spark, sf)
      .filter(col("kept")).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val applied = Similarity.semanticDedupApply(spark, sf).collect()
    val docIds = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(applied.map(_.getLong(0)).toSet == kept.intersect(docIds),
      "apply must carry exactly the kept ids that exist as documents")
    // text integrity: every applied row carries its own document's text
    val textOf = Tables.documents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    applied.foreach(r => assert(r.getString(1) == textOf(r.getLong(0))))
  }

  test("PQ codebook drift: in-distribution batch appends, a spike batch retrains") {
    // append branch: the gate corpus's batch comes from the trained
    // distribution, so its reconstruction gap is only sampling noise
    val (drift, retrain) = Similarity.retrainSignal(Similarity.IvfPq)(spark, sf)
    assert(!retrain && math.abs(drift) < Similarity.PqIncDriftBar,
      s"in-distribution batch must take the append branch (drift=$drift)")
    // retrain branch: a spike batch concentrates its energy where no
    // codeword points — per-subspace argmin reconstruction cannot
    // represent it, so mean reconstruction cosine collapses. (A merely
    // NEGATED batch is the wrong test: the stride codebook is sampled
    // from a symmetric corpus, so -x reconstructs about as well as x.)
    val dims = Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).head().getInt(0)
    val spike = Array(100f) ++ Array.fill(dims - 1)(0f)
    import spark.implicits._
    val ids = Tables.embeddings(spark, sf)
      .filter(expr(Similarity.IvfIncBatchPred))
      .select(col("vec_id")).as[Long].collect()
    val shifted = ids.map(id => (id, spike)).toSeq.toDF("cand_id", "c_emb")
      .select(col("cand_id"), col("c_emb").cast("array<float>").as("c_emb"))
    val (d2, r2) = Similarity.retrainSignal(Similarity.IvfPq)(spark, sf, Some(shifted))
    assert(r2 && d2 > Similarity.PqIncDriftBar,
      s"a spike batch must trigger the codebook retrain branch (drift=$d2)")
    // the oracled gate report agrees with the signal on the gate corpus
    val rep = Similarity.driftReport(Similarity.IvfPq)(spark, sf).head()
    assert(!rep.getAs[Boolean]("retrain"))
    assert(math.abs(rep.getAs[Double]("drift") - drift) < 1e-6,
      "report and signal must measure the same drift")
  }

  test("persisted IVFPQ index: codes-on-disk serving is bit-equal, scan reads codes not floats") {
    val mem = Similarity.topK(Similarity.IvfPq)(spark, sf).collect().map(_.toString).toSet
    val idx = Similarity.indexTopK(Similarity.IvfPq)(spark, sf)
    assert(idx.collect().map(_.toString).toSet == mem,
      "serving from persisted codes must equal the in-memory IVFPQ results")
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "postings scan must carry a dynamic partition pruning filter")
    // the coarse stage's postings scan reads the CODES column, never an
    // embedding column — the 128x byte-volume cut is the point
    val postingsScan = plan.linesIterator
      .filter(l => l.contains("postings")).mkString("\n")
    assert(postingsScan.nonEmpty && !postingsScan.contains("emb"),
      s"postings scan must not read embeddings:\n$postingsScan")
  }

  test("index compaction: fat lists collapse to one file, thin lists untouched, serving bit-equal") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cmp_${System.nanoTime}"
    Similarity.buildIncIndex(Similarity.Ivf)(spark, sf, base)
    def dirs(p: String): Map[String, Seq[java.io.File]] =
      new java.io.File(p).listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("cent_id="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName))
        .toMap
    val before = dirs(s"$base/postings")
    val thin = before.filter(_._2.size <= 1).keySet
    assert(before.exists(_._2.size > 1), "appended index must have multi-file lists to compact")
    val served0 = Similarity.serveIndex(Similarity.Ivf)(spark, sf, base).collect().map(_.toString).toSet
    val compacted = Similarity.compactIndex(Similarity.Ivf)(spark, base)
    assert(compacted.nonEmpty, "compactor must select the fat lists")
    val after = dirs(s"$base/postings")
    after.foreach { case (d, fsAfter) =>
      assert(fsAfter.size == 1, s"$d still has ${fsAfter.size} files after compaction")
    }
    thin.foreach { d =>
      val b = before(d).map(f => (f.getName, f.lastModified()))
      val a = after(d).map(f => (f.getName, f.lastModified()))
      assert(a == b, s"thin list $d must be untouched by compaction")
    }
    val served1 = Similarity.serveIndex(Similarity.Ivf)(spark, sf, base).collect().map(_.toString).toSet
    assert(served1 == served0, "compaction must not change serving results")
  }

  test("IVFPQ compaction: fat code lists collapse, thin untouched, serving bit-equal") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_pqcmp_${System.nanoTime}"
    Similarity.buildIncIndex(Similarity.IvfPq)(spark, sf, base)
    def dirs(p: String): Map[String, Seq[java.io.File]] =
      new java.io.File(p).listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("cent_id="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName))
        .toMap
    val before = dirs(s"$base/postings")
    val thin = before.filter(_._2.size <= 1).keySet
    assert(before.exists(_._2.size > 1), "appended PQ index must have multi-file lists")
    val served0 = Similarity.serveIndex(Similarity.IvfPq)(spark, sf, base)
      .collect().map(_.toString).toSet
    val compacted = Similarity.compactIndex(Similarity.IvfPq)(spark, base)
    assert(compacted.nonEmpty, "compactor must select the fat code lists")
    dirs(s"$base/postings").foreach { case (d, fsAfter) =>
      if (thin(d))
        assert(before(d).map(f => (f.getName, f.lastModified())) ==
          fsAfter.map(f => (f.getName, f.lastModified())),
          s"thin list $d must be untouched")
      else assert(fsAfter.size == 1, s"$d still has ${fsAfter.size} files")
    }
    val served1 = Similarity.serveIndex(Similarity.IvfPq)(spark, sf, base)
      .collect().map(_.toString).toSet
    assert(served1 == served0, "PQ compaction must not change serving results")
  }

  test("incremental IVFPQ index: batch codes append-only, serving reads codes with DPP") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_pqinc_${System.nanoTime}"
    Similarity.buildSnapshot(Similarity.IvfPq)(spark, sf, base)
    def listing(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing(s"$base/postings")
    Similarity.appendBatch(Similarity.IvfPq)(spark, sf, base)
    val after = listing(s"$base/postings")
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"snapshot code file rewritten: $p")
    }
    assert(after.size > before.size, "append must add batch code files")
    val served = Similarity.incTopK(Similarity.IvfPq)(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "incremental IVFPQ serving must DPP-prune the postings scan")
    val postingsScan = plan.linesIterator.filter(_.contains("postings")).mkString("\n")
    assert(postingsScan.nonEmpty && !postingsScan.contains("emb"),
      s"coarse scan must read codes, never embeddings:\n$postingsScan")
    assert(served.collect().length == 10 * Similarity.K)
  }

  test("incremental kNN graph: batch merge equals the full rebuild, batch-only signature work") {
    // exactness: merged election over staged-edges ∪ batch-touching
    // pairs must equal the from-scratch graph on the combined corpus
    val full = Similarity.knnGraph(spark, sf).collect().map(_.toString).toSet
    val inc = Similarity.knnGraphIncremental(spark, sf)
    assert(inc.collect().map(_.toString).toSet == full,
      "incremental merge must be bit-equal to the full rebuild")
    // cost shape: after staging, the nightly pass computes signatures
    // ONLY for the batch — the executed plan's lsh_sigs call sits over
    // the batch filter, and the snapshot side arrives as a parquet scan
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("graft_lsh_sigs"),
      "the batch must compute its signatures")
    assert(plan.contains("parquet"),
      "the snapshot signatures/edges must arrive from the staged parquet")
  }

  test("kNN components: exact reachability partition over the staged graph") {
    val comp = Similarity.knnComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.embeddings(spark, sf).count()
    assert(comp.size == n.toInt, "every vector must receive a component label")
    // every edge's endpoints share a component (closure property)
    val edges = Similarity.knnGraphLineage(spark, sf)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"edge ($a,$b) spans components") }
    // each component's label is its minimum member (canonical rep)
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c labeled above its minimum") }
    // the graph actually connects something: fewer components than nodes
    assert(comp.values.toSet.size < n, "no component ever merged")
  }

  test("raised-iteration graph loops: per-round checkpoints keep the plan bounded (VERDICT r7 #4)") {
    // 4× the default round count must neither blow analysis/plan depth
    // nor change the algebra: each round starts from a checkpointed
    // one-row-per-node frame, so round N's plan is the same size as
    // round 1's. Values still follow the synchronous semantics (LPA
    // labels stay within the node id domain; PR keeps the damped base).
    val edges = Similarity.knnGraphLineage(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    val lpa = Similarity.labelPropFromEdges(spark, sf, edges, iters = 12)
    assert(lpa.count() == n)
    val pr = Similarity.pagerankFromEdges(spark, sf, edges, iters = 12)
    val ranks = pr.collect().map(_.getLong(1))
    assert(ranks.length == n.toInt)
    val base = Similarity.prScaleFor(n) * 15 / 100
    assert(ranks.forall(_ >= base), "every node keeps at least the damped base")
  }

  test("prScaleFor: derived fixed-point scale removes the overflow ceiling") {
    // gate SFs (3-4 digit node counts) keep the r7 scale — hashes
    // unchanged; larger corpora shrink the scale so n·scale ≤ 1e16 and
    // the ×85 damping multiply never nears Long.Max
    assert(Similarity.prScaleFor(500L) == 1000000000000L)
    assert(Similarity.prScaleFor(2000L) == 1000000000000L)
    assert(Similarity.prScaleFor(100000L) == 10000000000L)
    // up to 10^14 nodes — far past any real corpus (100 TB of 512-byte
    // embeddings ≈ 2·10^11 vectors); the formula keeps n·scale ≤ 10^16
    // for any n with ≤ 16 digits
    Seq(1L, 1000L, 100000L, 100000000L, 10000000000L, 100000000000000L)
      .foreach { n =>
        val sc = Similarity.prScaleFor(n)
        assert(sc >= 1L && sc <= Similarity.PrScaleCap)
        // total rank mass ≈ n·scale; the ×85 step must clear Long.Max
        assert(BigInt(n) * BigInt(sc) * 85 < BigInt(Long.MaxValue),
          s"n=$n scale=$sc overflows the damping multiply")
      }
  }

  test("paragraph apply: cleaned text agrees with the accounting gate") {
    val acc = Dedup.paragraphs(spark, sf).select("doc_id", "n_kept")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val app = Dedup.paragraphsApply(spark, sf).collect()
    assert(app.length == acc.size, "one cleaned row per document")
    app.foreach { r =>
      val (id, txt, kept) = (r.getLong(0), r.getString(1), r.getLong(2))
      assert(kept == acc(id), s"doc $id: apply kept $kept, accounting says ${acc(id)}")
      assert((txt.isEmpty) == (kept == 0L),
        s"doc $id: empty text iff zero kept spans")
    }
  }

  test("substring apply: untouched docs stay verbatim, removal matches the coverage gate") {
    val orig = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val acct = Dedup.substrings(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val app = Dedup.substringsApply(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(app.size == orig.size, "one cleaned row per document")
    var removedTotal = 0L
    app.foreach { case (id, (txt, kept)) =>
      val nTok = orig(id).split(" ").length.toLong
      assert(kept <= nTok)
      removedTotal += nTok - kept
      // a doc with zero duplicated windows must come back byte-identical
      if (acct.get(id).forall(_._1 == 0L))
        assert(txt == orig(id), s"doc $id modified despite no duplicated windows")
      // apply drops only NON-KEEPER coverage, so it removes at most the
      // accounting gate's any-occurrence coverage
      acct.get(id).foreach { case (_, nDupPos) =>
        assert(nTok - kept <= nDupPos,
          s"doc $id removed ${nTok - kept} > covered $nDupPos") }
    }
    assert(removedTotal > 0, "the corpus has planted duplicates — something must drop")
  }

  test("kNN graph: bounded directed neighbor lists, no self-edges, scores are true cosines") {
    import org.apache.spark.sql.functions._
    val g = Similarity.knnGraph(spark, sf)
    assert(g.filter(col("vec_id") === col("nbr_id")).count() == 0)
    assert(g.filter(col("rank") > Similarity.KnnK).count() == 0)
    val overK = g.groupBy("vec_id").count().filter(col("count") > Similarity.KnnK)
    assert(overK.count() == 0, "a vector may have at most K neighbors")
    // rank order is (cosine desc, nbr_id asc) within each vector
    val badOrder = g.alias("a").join(g.alias("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.rank") + 1 === col("b.rank"))
      .filter(col("b.cosine") > col("a.cosine") ||
        (col("b.cosine") === col("a.cosine") && col("b.nbr_id") < col("a.nbr_id")))
    assert(badOrder.count() == 0, "neighbor lists must be cosine-desc, id-asc ordered")
    // edge scores equal the exact cosine recomputed from the vectors
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val recheck = g
      .join(e.select(col("vec_id"), col("embedding").as("ea")), "vec_id")
      .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("eb")), "nbr_id")
      .filter(expr("graft_cosine(ea, eb)") =!= col("cosine"))
    assert(recheck.count() == 0, "graph edges must carry exact cosines")
  }

  test("range search: results are exactly the radius-true candidates; recall vs brute truth") {
    import org.apache.spark.sql.functions._
    val got = Similarity.rangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every result genuinely clears the radius with its exact cosine
    assert(got.forall(_._3 >= Similarity.RangeTau))
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length, "no duplicate pairs")
    // brute-force radius truth (small corpus: all query×corpus pairs)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val (qs, cs) = e.partition(_._1 < 10)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = for { (q, qe) <- qs; (c, ce) <- cs
      if cos(qe, ce) >= Similarity.RangeTau } yield (q, c)
    assert(truth.nonEmpty, "radius truth must be non-trivial on the gate corpus")
    val gotSet = got.map(t => (t._1, t._2)).toSet
    assert(gotSet.subsetOf(truth.toSet),
      "LSH range results can only be radius-true pairs")
    val recall = gotSet.size.toDouble / truth.length
    assert(recall >= 0.7,
      s"16-table LSH should recall >=70% of radius-$tauStr truth, got $recall")
  }
  private def tauStr = Similarity.RangeTau.toString

  test("kNN graph bands catch planted near-dup twins (the curation operating point)") {
    // Same setup as the embedding-LSH recall test, at the graph's own
    // banding (8×8): a mild deterministic perturbation keeps twins at
    // cosine ≈ 0.99, where the curation kNN graph must connect them.
    import org.apache.spark.sql.functions._
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val n = base.count()
    val planted = base.select((col("vec_id") + lit(100000)).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => (x * (lit(1.0) + lit(0.08) *
          (pmod(hash(col("vec_id"), d), lit(2)) * 2 - 1))).cast("float")).as("embedding"))
    val all = base.union(planted)
    val dims = graft.functions.Planes.dimsOf(all, "embedding")
    val banded = graft.functions.Planes
      .withSigs(all, "embedding", Similarity.KnnTables, Similarity.KnnPlanes, dims)
      .select(col("table"), col("sig"), col("vec_id"))
    val cands = banded.select(col("table"), col("sig"), col("vec_id").as("vec_a"))
      .join(banded.select(col("table"), col("sig"), col("vec_id").as("vec_b")),
        Seq("table", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = (0L until n).filterNot(v => cands.contains((v, v + 100000)))
    assert(missed.size <= (n / 100).toInt,
      s"kNN banding missed ${missed.size}/$n planted twins (allowing <1%)")
  }

  test("idempotent index append: a replayed micro-batch converges instead of duplicating") {
    // the foreachBatch failure mode: batch commits its files, the
    // streaming offset does not, the batch REPLAYS — a blind append
    // would duplicate every row; the bid-keyed publish must converge
    for (f <- Seq(Similarity.Ivf, Similarity.IvfPq, Similarity.Bm25)) {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_idem_${f.name}_${System.nanoTime}"
      Similarity.buildSnapshot(f)(spark, sf, base)
      val batch = f.arrivals(spark, sf)
      f.appendIdempotent(spark, base, batch, 7L, base)
      val n1 = spark.read.parquet(s"$base/postings").count()
      val served1 = f.serveFrom(spark, sf, base)
        .collect().map(_.toString).toSet
      f.appendIdempotent(spark, base, batch, 7L, base) // replay
      assert(spark.read.parquet(s"$base/postings").count() == n1,
        "replaying the same bid must not add rows")
      assert(f.serveFrom(spark, sf, base)
        .collect().map(_.toString).toSet == served1,
        "serving must be unchanged after a replay")
      // and the result equals the batch-maintained index
      assert(served1 == Similarity.incTopK(f)(spark, sf)
        .collect().map(_.toString).toSet)
    }
  }

  for (f <- Seq(Similarity.Ivf, Similarity.IvfPq, Similarity.Bm25))
    test(s"compaction crash recovery (${f.name}): a complete stage publishes, a partial one is discarded") {
      val clean = Similarity.compactTopK(f)(spark, sf).collect().map(_.toString).toSet
      for (complete <- Seq(true, false)) {
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_cmpcrash_${f.name}_${System.nanoTime}"
        Similarity.buildIncIndex(f)(spark, sf, base)
        val fat = Similarity.fatLists(f)(spark, base)
        assert(fat.nonEmpty, "the appended index must have fat lists")
        def rows() = spark.read.schema(f.rowSchema).parquet(s"$base/postings").count()
        val nRows = rows()
        // the state a crash leaves: the stage write of the fat lists
        // finished (_SUCCESS) but nothing was published, or the stage
        // write itself died part way (a partial stage, no _SUCCESS)
        val stage = s"$base/postings_compact_stage"
        val fatRows = spark.read.schema(f.rowSchema).parquet(s"$base/postings")
          .filter(col(f.partitionCol).isInCollection(fat))
        (if (complete) fatRows else fatRows.limit(1))
          .write.mode("overwrite").partitionBy(f.partitionCol).parquet(stage)
        if (!complete) assert(new java.io.File(s"$stage/_SUCCESS").delete())
        val compacted = Similarity.compactIndex(f)(spark, base)
        // a published stage already collapsed the fat lists; a discarded
        // one leaves them for the compaction proper
        assert(compacted.isEmpty == complete,
          s"complete=$complete: compactor selected ${compacted.mkString(",")}")
        assert(!new java.io.File(stage).exists(), "the stage must be gone")
        assert(rows() == nRows, s"complete=$complete: recovery must keep every postings row")
        assert(Similarity.fatLists(f)(spark, base).isEmpty, "every list must be one file")
        assert(f.serveFrom(spark, sf, base).collect().map(_.toString).toSet == clean,
          s"complete=$complete: recovered serving must equal a clean compaction's")
      }
    }

  test("incremental SemDeDup: snapshot verdicts immutable, state reused, batch fully verdicted") {
    val out1 = Similarity.semanticDedupIncremental(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val base = Similarity.stagedSemIncSnapshot(spark, sf)
    def snapFiles(): Map[String, Long] =
      new java.io.File(s"$base/snapshot").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val files1 = snapFiles()
    // snapshot verdicts in the output are exactly the staged state
    val staged = spark.read.parquet(s"$base/snapshot")
      .select("vec_id", "cent_id", "kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    staged.foreach { case (id, v) =>
      assert(out1(id) == v, s"snapshot verdict for $id must be immutable")
    }
    // every batch vector gets a verdict, and only batch ids are new
    val batchIds = Tables.embeddings(spark, sf)
      .filter(expr(graft.operators.Similarity.IvfIncBatchPred))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out1.keySet == staged.keySet ++ batchIds)
    // a second run consumes the staged state: same result, files untouched
    val out2 = Similarity.semanticDedupIncremental(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out2 == out1)
    assert(snapFiles() == files1, "second run must not rebuild the snapshot")
  }

  test("hybrid RRF: equals the two-arm brute-force oracle, no corpus-sized window sort") {
    val df = Similarity.hybridRrfTopK(spark, sf)
    val got = df.collect()
    // --- independent driver-side recompute of both arms + the fusion ---
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val lens = docs.map { case (id, w) => id -> w.size.toLong }
    val nDocs = docs.size.toLong
    val totalLen = lens.values.sum
    val tfsAll = docs.toSeq.flatMap { case (id, w) =>
      w.groupBy(identity).map { case (t, g) => (id, t, g.size.toLong) } }
    val dfs = tfsAll.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val qd = Similarity.HybridQueryDoc
    val qterms = tfsAll.filter(_._1 == qd).sortBy { case (_, t, tf) => (-tf, t) }
      .take(Similarity.HybridQueryTerms).map(_._2).toSet
    val lexRank = tfsAll
      .filter(t => t._1 != qd && qterms.contains(t._2))
      .groupBy(_._1).map { case (id, hits) =>
        id -> hits.map { case (_, term, tf) =>
          val w = (44d * tf * totalLen) /
            (20d * tf * totalLen + 6d * totalLen + 18d * lens(id) * nDocs)
          val r = (2d * nDocs - 2d * dfs(term) + 1) / (2d * dfs(term) + 1)
          math.floor(w * r * 1e7 + 0.5).toLong
        }.sum
      }.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(Similarity.HybridDepth).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val q = embs(qd)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val vecRank = embs.toSeq.filter(_._1 != qd)
      .map { case (id, e) => id -> math.floor(cos(q, e) * 1e7 + 0.5).toLong }
      .sortBy { case (id, s) => (-s, id) }
      .take(Similarity.HybridDepth).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fused = (lexRank.keySet ++ vecRank.keySet).toSeq.map { id =>
      val rrf = lexRank.get(id).map(r => 1000000000L / (Similarity.HybridRrfK + r)).getOrElse(0L) +
        vecRank.get(id).map(r => 1000000000L / (Similarity.HybridRrfK + r)).getOrElse(0L)
      (id, lexRank.getOrElse(id, 0L), vecRank.getOrElse(id, 0L), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(Similarity.HybridK)
    assert(got.length == fused.length)
    got.zip(fused).zipWithIndex.foreach { case ((r, (id, lr, vr, rrf)), i) =>
      assert(r.getAs[Long]("doc_id") == id, s"rank ${i + 1} doc")
      assert(r.getAs[Long]("lex_rank") == lr, s"doc $id lex_rank")
      assert(r.getAs[Long]("vec_rank") == vr, s"doc $id vec_rank")
      assert(r.getAs[Double]("rrf_score") == rrf.toDouble / 1e9, s"doc $id score")
      assert(r.getAs[Long]("rank") == i + 1)
    }
    // both arms must rank through TakeOrdered (bounded), never a
    // corpus-sized single-partition window sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "arm top-depth must be TakeOrdered, not a global sort")
  }

  test("nightly planner exercises all three verb strengths (VERDICT r12 #4)") {
    val rows = Similarity.maintenancePlan(spark, sf).collect()
    assert(rows.length == 15, s"5 artifacts x consult sets: ${rows.length}")
    val verbs = rows.groupBy(_.getAs[String]("artifact"))
      .map { case (a, rs) => a -> rs.map(_.getAs[String]("verb")).distinct }
    verbs.foreach { case (a, vs) =>
      assert(vs.length == 1, s"$a must decide ONE verb, got $vs") }
    val verb = verbs.map { case (a, vs) => a -> vs.head }
    // the compacted artifact is the healthy/append row; the mains read
    // compact (tonight's append fattened their lists under the
    // one-file-per-list full-write contract); the skewed artifact's
    // imbalance escalates past compact to retrain
    assert(verb == Map("bm25_main" -> "compact", "ivf_compacted" -> "append",
      "ivf_main" -> "compact", "ivf_skewed" -> "retrain",
      "ivfpq_main" -> "compact"), verb.toString)
    val small = rows.filter(_.getAs[String]("consult") == "small_files")
    assert(small.length == 5, "every artifact carries the small-files consult")
    assert(small.count(_.getAs[Boolean]("fired")) == 4,
      "all but the freshly compacted artifact must read fat lists")
    CacheScope.releaseAll(spark)
  }

  test("nightly executor closes the loop: verbs applied, ladder taken, all-append (VERDICT r12 #3)") {
    // pre-stage every verb post-state the PLAN can reach, so the
    // odometer below isolates what the executor itself may train: at
    // most the escalation's rebuild (the dedup-routed retrain), and
    // nothing at all on the second nightly run
    Similarity.stagedIncIndex(Similarity.Bm25)(spark, sf)
    Similarity.stagedCompactIndex(Similarity.Bm25)(spark, sf)
    Similarity.stagedIncIndex(Similarity.Ivf)(spark, sf)
    Similarity.stagedCompactIndex(Similarity.Ivf)(spark, sf)
    Similarity.stagedIncIndex(Similarity.IvfPq)(spark, sf)
    Similarity.stagedCompactIndex(Similarity.IvfPq)(spark, sf)
    Similarity.stagedIvfSkewedIndex(spark, sf)
    Similarity.stagedRetrainIndex(Similarity.Ivf)(spark, sf)
    val trained = Similarity.trainingBuilds.get()
    val out = Similarity.maintenanceApply(spark, sf).collect()
    val delta = Similarity.trainingBuilds.get() - trained
    assert(delta <= 1,
      s"the executor may train at most the escalated rebuild, ticked $delta")
    val t2 = Similarity.trainingBuilds.get()
    Similarity.maintenanceApply(spark, sf).collect()
    assert(Similarity.trainingBuilds.get() == t2,
      "the second nightly run must consume artifacts only — zero training")
    assert(out.length == 15)
    val verb = out.groupBy(_.getAs[String]("artifact")).map { case (a, rs) =>
      val vs = rs.map(r => (r.getAs[String]("verb"),
        r.getAs[String]("verb_final"))).distinct
      assert(vs.length == 1, s"$a decided $vs"); a -> vs.head
    }
    assert(verb == Map(
      "bm25_main" -> (("compact", "compact")),
      "ivf_compacted" -> (("append", "append")),
      "ivf_main" -> (("compact", "compact")),
      "ivf_skewed" -> (("retrain", "dedup_retrain")),
      "ivfpq_main" -> (("compact", "compact"))), verb.toString)
    // the ladder is real: the planned retrain did NOT clear the
    // imbalance (identical-vector pile-up), the dedup routing did
    val skewImb = out.find(r => r.getAs[String]("artifact") == "ivf_skewed"
      && r.getAs[String]("consult") == "list_imbalance").get
    assert(skewImb.getAs[Boolean]("fired"), "skew imbalance fires at plan")
    assert(skewImb.getAs[Boolean]("fired_applied"),
      "retrain cannot split identical vectors — imbalance must survive it")
    assert(!skewImb.getAs[Boolean]("fired_final"),
      "the dedup routing must clear the imbalance")
    // the loop closes healthy: every consult on every final artifact
    assert(out.forall(!_.getAs[Boolean]("fired_final")),
      "executor must re-consult to an all-healthy table")
    CacheScope.releaseAll(spark)
  }

  test("cascade: near-dup candidate cost is invariant to duplicate multiplicity") {
    val (overReps, overDups, distinctOnly) =
      Dedup.cascadeCandidateCounts(spark, sf)
    // the scale claim: running LSH over exact-dedup REPRESENTATIVES
    // keeps the candidate count at the distinct-corpus level, while
    // the non-cascaded chain pays for every copy (each re-crawled doc
    // shares all its bands with its original AND its original's
    // neighbors)
    assert(overReps <= distinctOnly,
      s"rep candidates $overReps must not exceed distinct-corpus $distinctOnly")
    assert(overDups > overReps,
      s"duplicated-corpus candidates $overDups must exceed rep candidates $overReps")
    // verdict bookkeeping: every re-crawled doc is an exact_dup of its
    // original; keepers are kept; no doc escapes a verdict
    val out = Dedup.cascade(spark, sf).collect()
    val byVerdict = out.groupBy(_.getAs[String]("verdict"))
      .view.mapValues(_.length).toMap
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length > nDocs, "the re-crawl corpus must be larger than documents")
    assert(byVerdict.getOrElse("exact_dup", 0) >= (out.length - nDocs).toInt,
      s"every re-crawled copy must read exact_dup: $byVerdict")
    out.foreach { r =>
      val (d, rep, keeper) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("rep"), r.getAs[Long]("keeper"))
      assert(rep <= d && keeper <= rep, s"election order broken: $r")
      r.getAs[String]("verdict") match {
        case "kept" => assert(d == keeper)
        case "exact_dup" => assert(d != rep)
        case "near_dup" => assert(d == rep && d != keeper)
        case v => fail(s"unknown verdict $v")
      }
    }
    CacheScope.releaseAll(spark)
  }

  test("cascade stages once per (session, corpus); the gate is derivation-only (VERDICT r13 #1)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rep"),
        r.getAs[Long]("keeper"), r.getAs[String]("verdict"))).toSet
    val expected = rows(Dedup.cascadeRecompute(spark, sf))
    val first = rows(Dedup.cascade(spark, sf))
    assert(first == expected, "staged cascade must equal the recompute twin")
    val built = Dedup.cascadeBuilds.get()
    assert(rows(Dedup.cascade(spark, sf)) == expected)
    assert(Dedup.cascadeBuilds.get() == built,
      "a second cascade call must be a derivation-only read — no new LSH pass")
    CacheScope.releaseAll(spark)
  }

  test("incremental cascade equals the from-scratch cascade on snapshot ∪ batch (VERDICT r13 #4)") {
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("rep"),
        r.getAs[Long]("keeper"), r.getAs[String]("verdict"))
    val (snap, batch) = Dedup.cascadeSnapshotAndBatch(spark, sf)
    val expected = Dedup.cascadeRecomputeOver(spark, snap.unionByName(batch))
      .collect().map(keyOf).toSet
    val got = Dedup.cascadeIncremental(spark, sf).collect().map(keyOf).toSet
    assert(got == expected,
      s"incremental cascade drifted from the from-scratch union cascade " +
        s"(${(got -- expected).take(3)} vs ${(expected -- got).take(3)})")
    // the planted families do what the construction says: re-delivered
    // snapshot docs read exact_dup, double-delivered batch docs collapse
    val exactDups = got.count(_._4 == "exact_dup")
    assert(exactDups > 0, "the planted re-deliveries must surface as exact_dups")
    CacheScope.releaseAll(spark)
  }

  test("incremental cascade stages tonight's verdicts once; repeat gate calls are derivation-only (VERDICT r14 #5)") {
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("rep"),
        r.getAs[Long]("keeper"), r.getAs[String]("verdict"))
    val expected = Dedup.cascadeIncrementalChain(spark, sf)
      .collect().map(keyOf).toSet
    val first = Dedup.cascadeIncremental(spark, sf).collect().map(keyOf).toSet
    assert(first == expected,
      "staged nightly verdicts must equal the chain recompute twin")
    val built = Dedup.cascadeIncBuilds.get()
    assert(built >= 1L, "the staging closure must have run the chain")
    assert(Dedup.cascadeIncremental(spark, sf).collect().map(keyOf).toSet
      == expected)
    assert(Dedup.cascadeIncBuilds.get() == built,
      "a second gate call must be a derivation-only read — the nightly " +
        "chain runs once per (session, corpus version)")
    CacheScope.releaseAll(spark)
  }

  test("incremental near stage probes the STAGED banded index — no snapshot re-band (VERDICT r14 #2)") {
    val base = Dedup.stagedCascadeSnapshot(spark, sf)
    // any (doc_id, sig) probe frame exercises the plan shape; the
    // candidate-set equality itself is pinned by the ∝-batch spec below
    val newSigs = Dedup.minhashSignatures(spark, sf)
      .filter(col("doc_id") < 50)
    val df = Dedup.incNearCandidates(spark, base, newSigs)
    df.count() // finalize the adaptive plan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanPaths = root.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.mkString(",")
    }
    assert(scanPaths.exists(_.contains("rep_banded")),
      s"the snapshot side must be the persisted (band, bucket, rep) " +
        s"artifact; scans: ${scanPaths.mkString(" | ")}")
    val generates = root.collect { case g: GenerateExec => g }.length
    assert(generates == 2,
      s"only the NEW side may band in-plan (n_id + o_id posexplodes); " +
        s"a third Generate means the snapshot index was re-banded: " +
        s"$generates Generate nodes")
    CacheScope.releaseAll(spark)
  }

  test("incremental cascade near stage recomputes exactly the batch delta (VERDICT r13 #4)") {
    val (inc, fullNew, fullTotal) = Dedup.cascadeIncCandidateCounts(spark, sf)
    // completeness AND boundedness in one pin: the incremental band
    // join (new reps vs staged index) finds exactly the from-scratch
    // chain's candidates that touch a new rep — nothing missed, and
    // nothing beyond the delta recomputed
    assert(inc == fullNew,
      s"incremental candidates $inc must equal the from-scratch delta $fullNew")
    assert(fullNew <= fullTotal,
      s"delta $fullNew cannot exceed the full candidate set $fullTotal")
    CacheScope.releaseAll(spark)
  }

  test("escalation ladder: one rung, loud otherwise (VERDICT r13 #6)") {
    assert(Similarity.escalationLadder("ivf_skewed", "retrain") == "dedup_retrain")
    for (verb <- Seq("compact", "restat", "append", "dedup_retrain")) {
      val e = intercept[IllegalStateException] {
        Similarity.escalationLadder("some_artifact", verb)
      }
      assert(e.getMessage.contains("no escalation") && e.getMessage.contains(verb),
        s"the throw must name the verb and the missing rung: ${e.getMessage}")
    }
  }

  test("PQ two-night executor: promotion serving equals the one-shot frozen-codebook build per night (VERDICT r14 #4)") {
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))
    val out = Similarity.twoNightTopK(Similarity.IvfPq)(spark, sf).collect()
    def night(n: Long) =
      out.filter(_.getAs[Long]("night") == n).map(keyOf).toSet
    // night 2 = the full incremental corpus — must serve row-identical
    // to the plain compressed incremental gate
    val incRows = Similarity.incTopK(Similarity.IvfPq)(spark, sf).collect().map(keyOf).toSet
    assert(night(2L) == incRows,
      "night-2 compressed serving must equal the one-shot incremental build")
    // night 1: one-shot frozen-quantizer-and-codebook build over
    // snapshot + night-1 arrivals, UNCOMPACTED — equality also pins
    // the code-list compaction's row preservation
    val oneShotBase =
      java.nio.file.Files.createTempDirectory("pqtwonight").toString
    Similarity.buildSnapshot(Similarity.IvfPq)(spark, sf, oneShotBase)
    Similarity.appendVectors(Similarity.IvfPq)(spark, oneShotBase,
      Tables.embeddings(spark, sf)
        .filter(expr(Similarity.IvfNight1Pred))
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")))
    val oneShot = Similarity.serveIndex(Similarity.IvfPq)(spark, sf, oneShotBase)
      .collect().map(keyOf).toSet
    assert(night(1L) == oneShot,
      "night-1 promotion serving must equal the one-shot build over snapshot+night1")
    CacheScope.releaseAll(spark)
  }

  test("two-night executor: promotion serving equals the one-shot frozen build per night (VERDICT r13 #5)") {
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))
    val out = Similarity.twoNightTopK(Similarity.Ivf)(spark, sf).collect()
    def night(n: Long) =
      out.filter(_.getAs[Long]("night") == n).map(keyOf).toSet
    // night 2 = the full incremental corpus — must serve row-identical
    // to the plain incremental gate
    val incRows = Similarity.incTopK(Similarity.Ivf)(spark, sf).collect().map(keyOf).toSet
    assert(night(2L) == incRows,
      "night-2 serving must equal the one-shot incremental build")
    // night 1: one-shot frozen build over snapshot + night-1 arrivals,
    // UNCOMPACTED — equality also pins compaction row-preservation
    val oneShotBase =
      java.nio.file.Files.createTempDirectory("twonight").toString
    Similarity.buildSnapshot(Similarity.Ivf)(spark, sf, oneShotBase)
    Similarity.appendVectors(Similarity.Ivf)(spark, oneShotBase,
      Tables.embeddings(spark, sf)
        .filter(expr(Similarity.IvfNight1Pred))
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")))
    val oneShot = Similarity.serveIndex(Similarity.Ivf)(spark, sf, oneShotBase)
      .collect().map(keyOf).toSet
    assert(night(1L) == oneShot,
      "night-1 promotion serving must equal the one-shot build over snapshot+night1")
    CacheScope.releaseAll(spark)
  }

  test("dedup-routed retrain keeps one representative and serves a balanced index") {
    val dd = Similarity.dedupedDriftedEmbeddings(spark, sf)
    val batchPred = Similarity.IvfIncBatchPred
    val nBatch = dd.filter(org.apache.spark.sql.functions.expr(batchPred)).count()
    assert(nBatch == 1L,
      s"the spiked batch is identical vectors — exactly one survives dedup, got $nBatch")
    val base = Similarity.stagedIvfDedupRetrainIndex(spark, sf)
    val rep = Similarity.imbalanceFrom(Similarity.Ivf)(spark, base).head()
    assert(!rep.getAs[Boolean]("retrain"),
      s"the dedup-rebuilt index must read balanced: $rep")
    assert(Similarity.fatLists(Similarity.Ivf)(spark, base).isEmpty,
      "a full rewrite leaves one file per list")
    CacheScope.releaseAll(spark)
  }
}

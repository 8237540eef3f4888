package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

class TextMultimodalSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("quality ratios are well-formed") {
    val rows = TextAnalysis.quality(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val sw = r.getAs[Double]("stopword_ratio")
      val dg = r.getAs[Double]("digit_ratio")
      assert(sw >= 0 && sw <= 1 && dg >= 0 && dg <= 1)
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("token counts: distinct <= whitespace <= bpe-ish") {
    TextAnalysis.tokens(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_distinct_tokens") <= r.getAs[Long]("n_ws_tokens"))
      // letter/digit runs can only split ws tokens further
      assert(r.getAs[Long]("n_bpeish_tokens") >= r.getAs[Long]("n_ws_tokens"))
    }
  }

  test("langid picks the argmax marker score deterministically") {
    val a = TextAnalysis.langid(spark, sf).orderBy("doc_id").collect()
    val b = TextAnalysis.langid(spark, sf).orderBy("doc_id").collect()
    assert(a.sameElements(b))
    assert(a.forall(r => Set("en", "es", "zh", "fr", "de")(r.getAs[String]("pred_lang"))))
  }

  test("fingerprint is deterministic and collision-bounded") {
    val fp1 = TextAnalysis.fingerprint(spark, sf).orderBy("doc_id").collect()
    val fp2 = TextAnalysis.fingerprint(spark, sf).orderBy("doc_id").collect()
    assert(fp1.sameElements(fp2))
    fp1.foreach { r =>
      assert(r.getAs[Long]("fingerprint") >= 0 && r.getAs[Long]("fingerprint") < 2147483647L)
      assert(r.getAs[Long]("n_distinct_grams") > 0)
    }
  }

  test("media metadata is consistent with the typed decode stub") {
    val meta = Multimodal.metaExtract(spark, sf)
      .select(col("doc_id"), col("n_bytes"))
    val feat = Multimodal.decodeFeatures(spark, sf)
      .select(col("doc_id"), col("n_bytes").as("n_bytes_decoded"))
    val joined = meta.join(feat, "doc_id")
    assert(joined.filter(col("n_bytes") =!= col("n_bytes_decoded")).count() == 0)
    assert(meta.count() == feat.count())
  }

  test("decoder seam: a swapped decoder changes features but not schema/ids (VERDICT r4 #4)") {
    // the seam must be REAL: injecting a different MediaDecoder has to
    // flow through to the output rows while the Spark-side plumbing
    // (schema, row count, ids) is decoder-invariant
    object XorDecoder extends Multimodal.MediaDecoder {
      def decode(docId: Long, payload: Array[Byte]): Multimodal.MediaFeatures = {
        val x = payload.foldLeft(0L)((acc, b) => acc ^ (b & 0xffL))
        Multimodal.MediaFeatures(docId, payload.length.toLong,
          payload.last & 0xff, payload.head & 0xff, x)
      }
    }
    val base = Multimodal.decodeFeatures(spark, sf)
    val swapped = Multimodal.decodeFeaturesWith(spark, sf, XorDecoder)
    assert(base.schema == swapped.schema, "seam must not change the output schema")
    assert(base.count() == swapped.count())
    val b = base.orderBy("doc_id").collect()
    val s2 = swapped.orderBy("doc_id").collect()
    assert(b.map(_.getAs[Long]("doc_id")).sameElements(s2.map(_.getAs[Long]("doc_id"))))
    // the injected decode is what actually ran: xor-sum differs from the
    // mod-sum on at least some payloads (and the gate shape equals the
    // explicit FakeDecoder injection bit-for-bit)
    assert(b.zip(s2).exists { case (x, y) =>
      x.getAs[Long]("byte_sum_mod") != y.getAs[Long]("byte_sum_mod") })
    val explicitFake =
      Multimodal.decodeFeaturesWith(spark, sf, Multimodal.FakeDecoder)
        .orderBy("doc_id").collect()
    assert(b.sameElements(explicitFake))
  }

  test("frame sampling covers every payload at the declared stride") {
    val frames = Multimodal.frameSample(spark, sf)
    val perDoc = frames.groupBy("doc_id").agg(count(lit(1)).as("n_frames"),
      max(col("off")).as("max_off"))
    val media = Multimodal.metaExtract(spark, sf).select(col("doc_id"), col("n_bytes"))
    val j = perDoc.join(media, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val expected = (r.getAs[Long]("n_bytes") - 64) / 128 + 1
      assert(r.getAs[Long]("n_frames") == expected)
      assert(r.getAs[Long]("max_off") + 64 <= r.getAs[Long]("n_bytes"))
    }
  }

  test("bloom decontamination: bit-identical to the exact path, prune sits before the join") {
    val exact = TextAnalysis.decontaminate(spark, sf).orderBy("doc_id").collect()
    val bloomed = TextAnalysis.decontaminateBloom(spark, sf).orderBy("doc_id").collect()
    assert(exact.nonEmpty && exact.sameElements(bloomed),
      "exact-verify stage must cancel every bloom false positive")
    // the prune is structural: the plan carries might_contain fed by a
    // scalar subquery (the 1-row bloom build), filtering the TRAIN side
    // before the gram_fp equi-join shuffles anything
    val plan = TextAnalysis.decontaminateBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prune missing from plan:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      "bloom must arrive as a scalar subquery")
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import org.apache.spark.sql.functions._
    val flagged = TextAnalysis.decontaminate(spark, sf)
    val rows = flagged.collect()
    rows.foreach { r => assert(r.getAs[Long]("n_hit_ngrams") >= 1) }
    // no eval doc flags itself; every flagged doc is a train doc
    assert(rows.forall(_.getAs[Long]("doc_id") % 97 != 0))
    // brute-force recheck on one flagged doc: it really shares a gram
    if (rows.nonEmpty) {
      val docId = rows.head.getAs[Long]("doc_id")
      val n = TextAnalysis.DecontamN
      def gramsOf(filter: org.apache.spark.sql.Column) =
        Tables.documents(spark, sf).filter(filter)
          .select(explode(expr(
            s"transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
              s"i -> array_join(slice(split(text, ' '), i, $n), ' '))")).as("g"))
          .collect().map(_.getString(0)).toSet
      val docGrams = gramsOf(col("doc_id") === docId)
      val evalGrams = gramsOf(col("doc_id") % 97 === 0)
      assert(docGrams.intersect(evalGrams).size ==
        rows.head.getAs[Long]("n_hit_ngrams"))
    }
  }

  test("gram/span elections shuffle md5 fingerprints, not the strings") {
    // the last raw-string shuffle keys flagged by the r3 review: both
    // decontamination grams and C4 spans now cross every exchange as
    // 128-bit fps only (oracles still group the raw strings, so a
    // collision would fail the gate loudly)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def stringKeyedExchanges(df: org.apache.spark.sql.DataFrame,
        banned: Set[String]): Seq[String] = {
      df.count()
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // round-robin = documentsParallel's test-SF fan-out of a single
      // parquet split (real splits replace it at scale); the gate is
      // about DATA-DEPENDENT (hash) exchanges
      root.collect { case e: ShuffleExchangeLike => e }
        .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
        .flatMap(_.output.map(_.name)).filter(banned)
    }
    assert(stringKeyedExchanges(TextAnalysis.decontaminate(spark, sf),
      Set("gram", "text")).isEmpty, "decontaminate must shuffle gram fps only")
    assert(stringKeyedExchanges(graft.operators.Dedup.paragraphs(spark, sf),
      Set("span", "col", "text")).isEmpty, "paragraphs must shuffle span fps only")
  }

  test("corpus pipeline never shuffles raw text, grams or token arrays") {
    // the composite quality→dedup→decontaminate→accounting flow keeps
    // its exchanges narrow end to end: dedup ships (fp, id), the gram
    // join ships (gram_fp, id), the final semi/anti joins ship ids
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val df = TextAnalysis.corpusPipeline(spark, sf)
    assert(df.count() > 0)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val banned = Set("text", "gram", "w")
    val wide = root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .flatMap(_.output.map(_.name)).filter(banned)
    assert(wide.isEmpty, s"wide columns crossed a hash exchange: $wide")
  }

  test("rarity scores every doc and shuffles token fps, not words") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val df = TextAnalysis.rarity(spark, sf)
    // one score row per document, rare counts bounded by token counts
    assert(df.count() == Tables.documents(spark, sf).count())
    assert(df.filter(col("n_rare") > col("n_tokens")).isEmpty)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wide = root.collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      .flatMap(_.output.map(_.name)).filter(Set("word", "text"))
    assert(wide.isEmpty, s"raw strings crossed a hash exchange: $wide")
  }

  test("text_pack windows per shard — no global single-task sort (VERDICT r2 #3)") {
    val df = TextAnalysis.pack(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      s"pack's window must partition by shard, got:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"pack must not funnel the corpus through one partition:\n$plan")
    // shards together cover the whole corpus exactly once
    import org.apache.spark.sql.functions._
    val total = df.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sf).count())
    // within a shard, packs partition the id range in order
    val rows = df.orderBy("shard", "pack_id").collect()
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      rs.sortBy(_.getAs[Long]("pack_id")).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ => ()
      }
    }
  }

  test("leakage-free split: near-dup pairs never straddle the train/val boundary") {
    val split = TextAnalysis.leakageFreeSplit(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("rep"), r.getAs[String]("split")))
      .toMap
    assert(split.size == Tables.documents(spark, sf).count(), "every doc gets a verdict")
    // THE property a plain hash split lacks: both endpoints of every
    // true near-dup pair (the oracle's own >= 0.7 truth) share a split
    val pairs = Dedup.ngramJaccard(spark, sf).filter(col("jaccard") >= 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "gate corpus must exercise clustered docs")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles the split")
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) has different reps")
    }
    // and the split is still roughly the configured 95/5
    val nVal = split.values.count(_._2 == "val").toDouble / split.size
    assert(nVal > 0.005 && nVal < 0.15, s"val fraction $nVal out of band")
  }

  test("heavy hitters: sketch+verify equals the exhaustive group-by exactly") {
    val got = TextAnalysis.heavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exhaustive truth: group EVERY bigram (the shape the sketch avoids)
    val bigrams = Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
        .as("bg"))
    val n = bigrams.count()
    val exact = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .filter(col("c") > n / TextAnalysis.HhDivisor)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact,
      s"sketch+verify must equal exhaustive truth (got ${got.size}, exact ${exact.size})")
    assert(got.nonEmpty, "spec corpus must contain heavy hitters at this support")
  }

  test("mix rebalance: report matches the materialized corpus; 1.0-epoch source passes through") {
    val report = TextAnalysis.mixRebalance(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_docs_kept"),
          r.getAs[Long]("n_rows_out"), r.getAs[Long]("n_tokens_out")))).toMap
    // the materializing entry point agrees row-for-row with the report
    val corpus = TextAnalysis.mixRebalanceCorpus(spark, sf)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("docs"), count(lit(1)).as("rows"),
        sum(col("n_tokens")).as("toks"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("rows"), r.getAs[Long]("toks")))).toMap
    report.foreach { case (src, (_, kept, rowsOut, toksOut)) =>
      if (rowsOut > 0) {
        val (cDocs, cRows, cToks) = corpus(src)
        assert(cDocs == kept && cRows == rowsOut && cToks == toksOut,
          s"$src: corpus ($cDocs,$cRows,$cToks) != report ($kept,$rowsOut,$toksOut)")
      } else assert(!corpus.contains(src), s"$src: zero copies but corpus rows exist")
    }
    // src1 = 100 hundredths = exactly 1.0 epochs: identity pass-through
    report.get("src1").foreach { case (n, kept, rowsOut, _) =>
      assert(kept == n && rowsOut == n, s"src1 must pass through 1:1, got $kept/$rowsOut of $n")
    }
    // src0 = 2.5 epochs: every doc at least twice, never more than thrice
    report.get("src0").foreach { case (n, kept, rowsOut, _) =>
      assert(kept == n && rowsOut >= 2 * n && rowsOut <= 3 * n,
        s"src0 replication $rowsOut out of [${2 * n}, ${3 * n}]")
    }
    // copy_idx is dense 1..n_copies per doc (the sequence contract)
    val maxIdx = TextAnalysis.mixRebalanceCorpus(spark, sf)
      .groupBy(col("doc_id")).agg(max(col("copy_idx")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(maxIdx == 0, "copy_idx must be dense per doc")
  }

  test("weighted sample: top-k plan (no global sort) and selection biased toward heavy sources") {
    import org.apache.spark.sql.functions._
    val df = TextAnalysis.weightedSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample must be a bounded top-k, not a global sort:\n$plan")
    val sel = df.collect()
    assert(sel.length == TextAnalysis.WeightedSampleK)
    val avgSel = sel.map(_.getAs[Long]("weight")).sum.toDouble / sel.length
    val avgAll = Tables.documents(spark, sf)
      .select(avg(substring(col("source"), 4, 10).cast("int") % 4 + 1))
      .head().getDouble(0)
    // the exponential race must oversample heavier sources
    assert(avgSel > avgAll + 0.2,
      s"selected avg weight $avgSel not biased above corpus avg $avgAll")
    // deterministic: a second run selects the identical documents
    val again = TextAnalysis.weightedSample(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again == sel.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("token budget: maximal prefix within budget, scalable cumsum, partition-independent") {
    val out = TextAnalysis.tokenBudget(spark, sf)
    val rows = out.collect().sortBy(_.getAs[Long]("cum_tokens"))
    assert(rows.nonEmpty)
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long").as("prio"))
    val budget = d.agg(sum(col("n_tokens"))).head().getLong(0) / 2
    // within budget, and the running total is the exact prefix sum
    assert(rows.last.getAs[Long]("cum_tokens") <= budget)
    val cums = rows.map(_.getAs[Long]("cum_tokens"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    assert(cums.zip(toks.scanLeft(0L)(_ + _).tail).forall { case (a, b) => a == b },
      "cum_tokens must be the exact running total in selection order")
    // maximality: the next document in priority order would exceed the budget
    val selected = rows.map(_.getAs[Long]("doc_id")).toSet
    val next = d.collect().map(r => (r.getAs[Long]("prio"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens")))
      .sortBy { case (p, id, _) => (-p, id) }
      .find { case (_, id, _) => !selected(id) }
    next.foreach { case (_, _, t) =>
      assert(rows.last.getAs[Long]("cum_tokens") + t > budget,
        "selection must be maximal: the next doc in order must not fit")
    }
    // the global window is partitioned (pid), never a single-partition sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(pid"),
      s"cumsum window must partition by pid:\n${plan.take(2000)}")
    // offsets make the result independent of input partitioning
    // (different partition counts, same selected set + totals)
    val again = TextAnalysis.tokenBudget(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"))).toSet
    assert(again == rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"))).toSet)
  }

  test("contamination score: bounded ratio, and the positive set IS decontaminate's flag set") {
    val score = TextAnalysis.contaminationScore(spark, sf)
    assert(score.filter(col("containment") < 0 || col("containment") > 1).count() == 0)
    assert(score.filter(col("n_leaked") > col("n_grams")).count() == 0)
    // graded score ∘ (n_leaked > 0) must reduce to the binary decontaminate
    // verdict, leak-count for leak-count
    val flagged = TextAnalysis.decontaminate(spark, sf)
    val joined = score.filter(col("n_leaked") > 0)
      .join(flagged, Seq("doc_id"), "full")
    assert(joined.filter(col("n_leaked").isNull || col("n_hit_ngrams").isNull).count() == 0,
      "positive-containment docs must match decontaminate's flagged docs exactly")
    assert(joined.filter(col("n_leaked") =!= col("n_hit_ngrams")).count() == 0)
  }

  test("frame-overlap near-dup: canonical bounded pairs, and frame bytes never cross a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = Multimodal.overlapDedup(spark, sf)
    p.count()
    assert(p.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.filter(col("jaccard") < Multimodal.OverlapTau || col("jaccard") > 1).count() == 0)
    assert(p.filter(col("n_shared") > least(col("n_a"), col("n_b"))).count() == 0)
    assert(p.groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0)
    assert(p.count() > 0, "gate corpus should contain frame-overlap near-dups")
    // the shuffles carry (ids, fps, counts) — never payload text
    val root = p.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q => q
    }
    root.collect { case e: ShuffleExchangeLike => e }.foreach { e =>
      assert(!e.output.exists(c => c.name == "txt2" || c.name == "text"),
        s"payload must not cross the exchange: ${e.output.map(_.name)}")
    }
  }

  test("phash near-dup: banded candidates are COMPLETE at the hamming threshold (pigeonhole)") {
    // 4 bands × 16 bits with threshold 3: any pair within hamming 3
    // leaves at least one band untouched, so the banded join must find
    // EXACTLY the brute-force pair set — equality both directions.
    val hashes = Multimodal.phashTable(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val brute = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      h = hashes(i)._2.zip(hashes(j)._2)
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      if h <= Multimodal.PhashMaxHamming
    } yield (hashes(i)._1, hashes(j)._1, h.toLong)).toSet
    val got = Multimodal.phashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"banded pairs must equal brute force: missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(brute.nonEmpty, "gate corpus should contain perceptual near-dups")
    // payload variants of one source should overwhelmingly be caught
    val variantPairs = got.count { case (a, b, _) => a - a % 7 == b - b % 7 }
    assert(variantPairs > 0, "planted same-source variants must appear")
  }

  test("feature hash: sparse BOW conserves tokens, buckets bounded, stable across runs") {
    val fh = TextAnalysis.featureHash(spark, sf)
    val rows = fh.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (_, b, _) => b >= 0 && b <= 255 },
      "bucket = first md5 hex byte, must be 0..255")
    // token conservation: per-doc bucket counts sum to the doc's
    // whitespace token count (the hashing trick loses identity, never mass)
    val sums = rows.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._3).sum }
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums == expected, "bucket counts must conserve the token count per doc")
    // no vocabulary anywhere in the plan: the only exchange carries
    // (doc_id, bucket) group keys — assert no join materialized
    val plan = fh.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), "hashing trick needs no vocabulary join")
  }

  test("fused phash parity: graft_phash_bands is bit-identical to the HOF formulation") {
    // the production path computes the aHash band vector with the
    // fused codegen kernel; the HOF reference (64 substr samples +
    // aggregate lambdas) must agree long-for-long on every doc of the
    // real corpus, both vintages (plain + planted)
    for (planted <- Seq(false, true)) {
      val fused = Multimodal.phashTableFrom(spark, sf, planted, fused = true)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      val hof = Multimodal.phashTableFrom(spark, sf, planted, fused = false)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      assert(fused.keySet == hof.keySet)
      val diff = fused.collect { case (id, v) if hof(id) != v => (id, v, hof(id)) }
      assert(diff.isEmpty, s"planted=$planted first divergence: ${diff.take(2)}")
    }
    // the unicode/empty gate corpus (mm_phash_dedup_unicode) must also
    // agree fused-vs-HOF — multi-byte tails and empty payloads ride
    // the same kernel the gate hashes against DuckDB
    val fusedU = Multimodal.phashTableUnicode(spark, sf, fused = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val hofU2 = Multimodal.phashTableUnicode(spark, sf, fused = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(fusedU.keySet == hofU2.keySet)
    val diffU = fusedU.collect { case (id, v) if hofU2(id) != v => (id, v, hofU2(id)) }
    assert(diffU.isEmpty, s"unicode corpus first divergence: ${diffU.take(2)}")
    // edge cases the corpus can't produce: empty string (all bits set
    // — 0 >= 0 per sample) and non-ASCII codepoints (Ascii is
    // codePointAt, not first-byte)
    val edge = spark.sql(
      "SELECT graft_phash_bands('') AS e, graft_phash_bands('é€漢a') AS u")
    val row = edge.collect()(0)
    assert(row.getSeq[Long](0) == Seq(0xFFFFL, 0xFFFFL, 0xFFFFL, 0xFFFFL))
    val hofU = spark.sql(
      """SELECT transform(sequence(0, 3), bd ->
        |  aggregate(sequence(0, 15), 0L, (acc, i) -> acc +
        |    IF(element_at(b, CAST(bd * 16 + i + 1 AS INT)) * 64 >= aggregate(b, 0L, (a2, x) -> a2 + x),
        |      shiftleft(1L, CAST(i AS INT)), 0L))) AS u
        |FROM (SELECT transform(sequence(0, 63),
        |  j -> ascii(substr(p, CAST((j * length(p)) div 64 AS INT) + 1, 1))) AS b
        |  FROM (SELECT 'é€漢a' AS p))""".stripMargin).collect()(0).getSeq[Long](0)
    assert(row.getSeq[Long](1) == hofU, "non-ASCII parity with the HOF form")
  }

  test("phash stop-bucket cap: only the planted degenerate clique loses reachability") {
    // uncapped pairs over the SAME planted corpus = ground truth; the
    // cap must drop EXACTLY the clique's pairs (both endpoints %13==0:
    // identical payloads → identical hashes → reachable only through
    // the four over-cap clique buckets) and nothing else
    val planted = Multimodal.phashTableFrom(spark, sf, planted = true).localCheckpoint()
    val hashes = planted.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val uncapped = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      h = hashes(i)._2.zip(hashes(j)._2)
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      if h <= Multimodal.PhashMaxHamming
    } yield (hashes(i)._1, hashes(j)._1)).toSet
    val capped = Multimodal.phashDedupCapped(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "cap can only remove candidate reachability")
    val dropped = uncapped -- capped
    assert(dropped.nonEmpty, "the planted clique must bind the cap")
    assert(dropped.forall { case (a, b) => a % 13 == 0 && b % 13 == 0 },
      s"only clique pairs may drop, got ${dropped.filterNot { case (a, b) => a % 13 == 0 && b % 13 == 0 }.take(3)}")
    val cliquePairs = uncapped.count { case (a, b) => a % 13 == 0 && b % 13 == 0 }
    assert(dropped.size == cliquePairs,
      s"ALL clique pairs must drop: dropped ${dropped.size} of $cliquePairs")
  }

  test("unicode stop-bucket cap: doubled-text clique drops, empty clique keeps riding the candidate path") {
    // VERDICT r15 #2: the unicode gate's own candidate stage is now
    // capped. Ground truth = brute-force hamming over the SAME corpus
    // (pigeonhole: hamming ≤ 3 < 4 bands ⇒ banded-uncapped == brute);
    // the cap must drop EXACTLY the planted doubled-text clique's
    // pairs (its ~68-doc buckets exceed PhashUnicodeMaxBucket = 64 at
    // the spec SF, every organic bucket stays under) while the ≤16-doc
    // empty-payload clique — the all-bits degenerate hash the gate
    // exists to exercise — stays fully reachable under the cap.
    val isEmpty = (d: Long) =>
      d % 17 == 0 && d < Multimodal.PhashUnicodeEmptyBound
    val isClique = (d: Long) => d % 7 == 3 && !isEmpty(d)
    val t = Multimodal.phashTableUnicode(spark, sf).localCheckpoint()
    val hashes = t.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val uncapped = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      h = hashes(i)._2.zip(hashes(j)._2)
        .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      if h <= Multimodal.PhashMaxHamming
    } yield (hashes(i)._1, hashes(j)._1)).toSet
    val capped = Multimodal.phashDedupUnicode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "cap can only remove candidate reachability")
    val dropped = uncapped -- capped
    assert(dropped.nonEmpty, "the planted clique must bind the cap")
    assert(dropped.forall { case (a, b) => isClique(a) && isClique(b) },
      s"only planted-clique pairs may drop, got ${dropped.filterNot { case (a, b) => isClique(a) && isClique(b) }.take(3)}")
    val cliquePairs = uncapped.count { case (a, b) => isClique(a) && isClique(b) }
    assert(dropped.size == cliquePairs,
      s"ALL planted-clique pairs must drop: dropped ${dropped.size} of $cliquePairs")
    val emptyPairs = capped.count { case (a, b) => isEmpty(a) && isEmpty(b) }
    assert(emptyPairs == 16 * 15 / 2,
      s"the empty-payload clique must stay fully reachable under the cap, got $emptyPairs pairs")
  }

  test("incremental phash probe equals the full recompute; the persisted index stages once (r16)") {
    // ground truth built directly from the hash table: snapshot-side
    // band buckets over the cap drop, candidates = batch×snapshot
    // bucket matches, exact hamming verify — the probe against the
    // persisted band index must produce the identical pair set
    val t = Multimodal.phashTable(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[scala.collection.Seq[Long]]("bands").toVector,
        r.getAs[String]("source")))
    val snap = t.filter(_._3 != "src0")
    val batch = t.filter(_._3 == "src0")
    val snapBuckets = snap.flatMap { case (id, bands, _) =>
      bands.zipWithIndex.map { case (v, b) => (b, v) -> id }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val kept = snapBuckets.filter(_._2.size <= Multimodal.PhashMaxBucket)
    val snapHash = snap.map(x => x._1 -> x._2).toMap
    val expected = (for {
      (id, bands, _) <- batch
      (v, b) <- bands.zipWithIndex
      old <- kept.getOrElse((b, v), Set.empty[Long])
      h = bands.zip(snapHash(old))
        .map { case (a, c) => java.lang.Long.bitCount(a ^ c) }.sum
      if h <= Multimodal.PhashMaxHamming
    } yield (id, old, h.toLong)).toSet
    val got = Multimodal.phashDedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"probe vs recompute: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "the split corpus should contain cross-split near-dups")
    // derivation-only on repeat (the staged-artifact contract): the
    // first call above staged the index; a second call must not rebuild
    val built = Multimodal.phashIndexBuilds.get()
    assert(built >= 1, "the first gate call must have staged the index")
    assert(Multimodal.phashDedupIncremental(spark, sf).count() == got.size.toLong)
    assert(Multimodal.phashIndexBuilds.get() == built,
      "a second probe call must be a derivation-only read — no index rebuild")
    CacheScope.releaseAll(spark)
  }

  test("the phash stop-bucket list lives in the snapshot artifact and equals the over-cap buckets (r17)") {
    // r17 (VERDICT r16 #4): the probe no longer aggregates the persisted
    // band index per call — it anti-joins a stop list written at build
    // time. The list must be exactly the over-cap buckets of the index
    // it was derived from, or the probe's candidate set drifts.
    val base = Multimodal.stagedPhashIndex(spark, sf)
    val overCap = spark.read
      .schema("doc_id BIGINT, band_val BIGINT, band INT")
      .parquet(s"$base/band_index")
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > Multimodal.PhashMaxBucket)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val stop = spark.read.schema("band INT, band_val BIGINT")
      .parquet(s"$base/stop_buckets")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(stop == overCap,
      s"stop list drifted from the index: missing=${(overCap -- stop).take(3)} " +
        s"extra=${(stop -- overCap).take(3)}")
    CacheScope.releaseAll(spark)
  }

  test("overlap stop-frame cap: clique loses all reachability, survivors keep exact numbers") {
    // ground truth: the uncapped chain over the SAME planted corpus
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))).toMap
    val uncapped = pairsOf(Multimodal.overlapDedupPlantedUncapped(spark, sf))
    val capped = pairsOf(Multimodal.overlapDedupCapped(spark, sf))
    assert(capped.keySet.subsetOf(uncapped.keySet),
      "cap can only remove candidate reachability")
    // surviving pairs carry the UNCAPPED numbers (verify runs over the
    // full frame sets — the cap is reachability-only, like phash)
    capped.foreach { case (k, v) =>
      assert(uncapped(k) == v, s"capped pair $k drifted from exact verify: $v vs ${uncapped(k)}")
    }
    // every clique-internal pair drops: identical payloads → identical
    // frame sets → every shared fingerprint bucket exceeds the cap
    val cliquePairs = uncapped.keySet.filter { case (a, b) => a % 5 == 0 && b % 5 == 0 }
    assert(cliquePairs.nonEmpty, "the planted clique must produce uncapped pairs")
    assert(cliquePairs.forall(!capped.contains(_)),
      "clique pairs must lose all reachability under the cap")
    // and the cap is a scalpel: some organic near-dup pair survives
    assert(capped.nonEmpty, "organic pairs must stay reachable through small buckets")
    CacheScope.releaseAll(spark)
  }

  test("lm score: invariants hold, model join broadcasts, en slice self-fits") {
    val df = TextAnalysis.lmScore(spark, sf)
    // bounded model must cross as a broadcast, never a shuffle join
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "reference-model join must be broadcast")
    val rows = df.collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // exactly the >=2-token docs appear
    assert(rows.map(_.getAs[Long]("doc_id")).toSet ==
      docs.filter(_._2._2 >= 2).keySet)
    rows.foreach { r =>
      val (nb, nh, sc) = (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("sum_count"))
      assert(nb == docs(r.getAs[Long]("doc_id"))._2 - 1, "bigrams = tokens - 1")
      assert(nh <= nb, "hits cannot exceed bigrams")
      assert(sc >= nh, "every matched bigram has model count >= 1")
      assert(r.getAs[Double]("lm_score") == sc.toDouble / nb)
    }
    // the model is trained on the en slice, so en docs must look more
    // familiar under it than the rest of the corpus on average
    def mean(f: Seq[Double]): Double = f.sum / f.size
    val (en, rest) = rows.partition(r => docs(r.getAs[Long]("doc_id"))._1 == "en")
    assert(mean(en.map(_.getAs[Double]("lm_score")).toSeq) >
      mean(rest.map(_.getAs[Double]("lm_score")).toSeq),
      "en docs must self-fit the en-trained model")
  }

  test("bm25 top-k: equals the brute-force oracle, query broadcasts, text stays out of the shuffle") {
    val df = TextAnalysis.bm25TopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the bounded corpus-derived query must broadcast into the postings
    assert(plan.contains("BroadcastHashJoin"), "query-term join must broadcast")
    // driver-side brute force with the identical rational/fixed-point math
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val lens = docs.map { case (id, w) => id -> w.size.toLong }
    val nDocs = docs.size.toLong
    val totalLen = lens.values.sum
    val tfs = docs.toSeq.flatMap { case (id, w) =>
      w.groupBy(identity).map { case (t, g) => (id, t, g.size.toLong) } }
    val dfs = tfs.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val query = dfs.toSeq.sortBy { case (t, d) => (-d, t) }
      .take(TextAnalysis.Bm25QueryTerms).toMap
    val scoreQ = tfs.filter(t => query.contains(t._2))
      .groupBy(_._1).map { case (id, hits) =>
        val qv = hits.map { case (_, term, tf) =>
          val w = (44d * tf * totalLen) /
            (20d * tf * totalLen + 6d * totalLen + 18d * lens(id) * nDocs)
          val r = (2d * nDocs - 2d * query(term) + 1) / (2d * query(term) + 1)
          math.floor(w * r * 1e7 + 0.5).toLong
        }.sum
        id -> (hits.size.toLong, qv)
      }
    val exp = scoreQ.toSeq.sortBy { case (id, (_, s)) => (-s, id) }
      .take(TextAnalysis.Bm25K)
    val got = df.collect()
    assert(got.length == exp.length)
    got.zip(exp).zipWithIndex.foreach { case ((r, (id, (nHit, sq))), i) =>
      assert(r.getAs[Long]("doc_id") == id, s"rank ${i + 1} doc")
      assert(r.getAs[Long]("n_terms_hit") == nHit)
      assert(r.getAs[Double]("score") == sq.toDouble / 1e7)
      assert(r.getAs[Long]("rank") == i + 1)
    }
    // saturation sanity: every per-term weight < k1+1 scaled by idf max
    assert(exp.head._2._2 > 0, "top score positive")
  }

  test("stratified split: exact per-source quota, equals the driver-side recompute") {
    val got = TextAnalysis.stratifiedSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_chars"))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = docs.groupBy(_._2)
    bySource.foreach { case (src, ds) =>
      val ordered = ds.sortBy { case (id, _, _) =>
        ((id * 2654435761L + 104729L) % 9973L, id) }
      val q = ordered.size.toLong * TextAnalysis.StratTrainPct / 100
      val (train, eval) = ordered.splitAt(q.toInt)
      // EXACT quota — the property the plain hash split cannot give
      assert(got((src, "train"))._1 == q, s"$src train quota")
      assert(got((src, "train"))._2 == train.map(_._3).sum, s"$src train chars")
      if (eval.nonEmpty) {
        assert(got((src, "val"))._1 == ordered.size - q, s"$src val count")
        assert(got((src, "val"))._2 == eval.map(_._3).sum, s"$src val chars")
      }
    }
    assert(got.keys.map(_._1).toSet == bySource.keySet, "every source reported")
  }

  test("clip filter: equals the driver-side recompute, threshold via integer cross-multiply") {
    val got = Multimodal.clipFilter(spark, sf).collect()
      .map(r => r.getAs[Long]("pair_id") -> r.getAs[Double]("clip_score")).toMap
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val pairs = embs.keys.filter(v => v % 2 == 0 && embs.contains(v + 1)).toSeq
      .map(v => (v / 2) -> math.floor(cos(embs(v), embs(v + 1)) * 1e7 + 0.5).toLong)
    val sq = pairs.map(_._2).sum; val n = pairs.size.toLong
    val kept = pairs.filter { case (_, q) => q * n > sq }
    assert(got.size == kept.size, s"kept ${got.size} vs expected ${kept.size}")
    kept.foreach { case (id, q) =>
      assert(got(id) == q.toDouble / 1e7, s"pair $id score")
    }
    // sanity: the bar actually splits the corpus (not keep-all/drop-all)
    assert(kept.nonEmpty && kept.size < pairs.size)
  }

  test("bpe merges: equals the brute-force pair count oracle") {
    val got = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val wordCounts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val exp = wordCounts.toSeq.filter(_._1.length >= 2)
      .flatMap { case (w, c) => w.sliding(2).map(_ -> c) }
      .groupBy(_._1).map { case (p, g) => (p, g.map(_._2).sum) }
      .toSeq.sortBy { case (p, n) => (-n, p) }
      .take(TextAnalysis.BpeTopMerges)
    assert(got.toSeq == exp, "top merge pairs must match the brute-force oracle")
  }

  test("bpe apply: tokens conserve every word's text and merges actually fire") {
    val enc = TextAnalysis.bpeEncodedVocab(spark, sf).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val word = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks.mkString("") == word,
        s"token concat must rebuild '$word', got: ${toks.mkString("|")}")
      assert(toks.forall(_.nonEmpty), s"empty token in '$word'")
    }
    // the merge table is non-trivial on this corpus: some word actually
    // encodes to a multi-char token
    assert(enc.exists(_.getSeq[String](1).exists(_.length > 1)),
      "at least one merge must fire")
    // per-doc accounting: every word is >= 1 token
    val out = TextAnalysis.bpeApply(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("token_id_sum") > 0)
    }
  }

  test("persisted BM25 index: serving bit-equal, reads index files only, statically pruned") {
    val mem = TextAnalysis.bm25TopK(spark, sf).collect().map(_.toString).toSet
    val idx = Similarity.indexTopK(Similarity.Bm25)(spark, sf)
    assert(idx.collect().map(_.toString).toSet == mem,
      "postings-index serving must equal the corpus-recompute BM25 results")
    val plan = idx.queryExecution.executedPlan.toString
    // the serving plan must touch ONLY index artifacts — a documents
    // scan would mean the per-query corpus tokenize survived
    assert(!plan.contains("documents.parquet"),
      s"BM25 index serving must not scan the documents table:\n$plan")
    // ...and the postings scan must be STATICALLY pruned to the query
    // terms' buckets (planning-time partition filters — unprobed
    // buckets are never even listed)
    val postScan = plan.linesIterator
      .filter(l => l.contains("postings") && l.toLowerCase.contains("filescan"))
      .mkString("\n")
    assert(postScan.nonEmpty, s"no postings file scan found:\n$plan")
    assert(postScan.contains("PartitionFilters: [") &&
      !postScan.contains("PartitionFilters: []") &&
      postScan.contains("bucket"),
      s"postings scan must carry a static bucket partition filter:\n$postScan")
  }

  test("incremental BM25 index: append is batch-only, snapshot postings untouched") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm25inc_${System.nanoTime}"
    TextAnalysis.buildBm25Index(spark, sf, base,
      Some(s"NOT (${TextAnalysis.Bm25IncBatchPred})"))
    def listing(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = listing(s"$base/postings")
    val dfsBefore = listing(s"$base/dfs") ++ listing(s"$base/stats")
    TextAnalysis.appendBm25Batch(spark, sf, base, TextAnalysis.Bm25IncBatchPred)
    val after = listing(s"$base/postings")
    // the append only ADDS postings files — every snapshot file
    // survives byte-identical (name + mtime), and the frozen-stats
    // artifacts (dfs, stats) are not touched at all
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"snapshot postings file rewritten: $p")
    }
    assert(after.size > before.size, "append must add batch postings files")
    assert((listing(s"$base/dfs") ++ listing(s"$base/stats")) == dfsBefore,
      "frozen df/stats artifacts must be untouched by the append")
    // appended rows = exactly the batch docs' postings
    val posts = spark.read
      .schema("term STRING, doc_id BIGINT, tf BIGINT, len BIGINT, bucket BIGINT")
      .parquet(s"$base/postings")
    val batchPosts = posts.filter(expr(TextAnalysis.Bm25IncBatchPred)).count()
    val expected = Tables.documents(spark, sf)
      .filter(expr(TextAnalysis.Bm25IncBatchPred))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"), col("term")).distinct().count()
    assert(batchPosts == expected,
      s"appended postings must be exactly the batch docs' (doc, term) rows")
    // serving from the maintained index matches the gate
    val served = TextAnalysis.bm25TopKFrom(spark, base).collect().map(_.toString).toSet
    val gate = Similarity.incTopK(Similarity.Bm25)(spark, sf).collect().map(_.toString).toSet
    assert(served == gate, "spec-built index must serve the gate results")
    // --- compaction: fat buckets collapse, thin buckets untouched,
    // serving bit-equal before and after ---
    val preCompact = listing(s"$base/postings")
    val fat = Similarity.compactIndex(Similarity.Bm25)(spark, base)
    assert(fat.nonEmpty, "the append must have fattened at least one bucket")
    fat.foreach { b =>
      val files = new java.io.File(s"$base/postings/bucket=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"bucket $b must collapse to one file, has $files")
    }
    preCompact.filterNot { case (p, _) =>
      fat.exists(b => p.contains(s"bucket=$b/")) }.foreach { case (p, m) =>
      assert(listing(s"$base/postings").get(p).contains(m),
        s"thin bucket file rewritten: $p")
    }
    val servedAfter = TextAnalysis.bm25TopKFrom(spark, base)
      .collect().map(_.toString).toSet
    assert(servedAfter == served, "compaction must not change serving results")
    CacheScope.releaseAll(spark)
  }

  test("BM25 stats drift: in-distribution batch appends, an inverted split retrains") {
    // append branch on the gate index: the batch is 1/10 of the docs,
    // so no query term's df can reach the 1.5x bar
    val rep = TextAnalysis.bm25IndexDriftReport(spark, sf).collect()
    assert(rep.nonEmpty && rep.forall(!_.getAs[Boolean]("retrain")),
      s"gate corpus must take the append branch: ${rep.mkString(";")}")
    // retrain branch: freeze the stats on the 1/10 slice and append the
    // other 9/10 — df grows ~10x past the bar for every frequent term
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm25drift_${System.nanoTime}"
    TextAnalysis.buildBm25Index(spark, sf, base,
      Some(TextAnalysis.Bm25IncBatchPred))
    TextAnalysis.appendBm25Batch(spark, sf, base,
      s"NOT (${TextAnalysis.Bm25IncBatchPred})")
    val rep2 = TextAnalysis.bm25DriftFrom(spark, base).collect()
    assert(rep2.nonEmpty && rep2.exists(_.getAs[Boolean]("retrain")),
      s"a stale-stats index must trigger the re-stat branch: ${rep2.mkString(";")}")
    CacheScope.releaseAll(spark)
  }

  test("BM25 re-stat executes the retrain branch: postings untouched, serving equals the full build") {
    // the stale-stats topology the drift test plants, composed through
    // the actual re-stat (VERDICT r10 #5)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_spec_restat_${System.nanoTime}"
    TextAnalysis.buildBm25Index(spark, sf, base,
      Some(TextAnalysis.Bm25IncBatchPred))
    TextAnalysis.appendBm25Batch(spark, sf, base,
      s"NOT (${TextAnalysis.Bm25IncBatchPred})")
    assert(TextAnalysis.bm25DriftFrom(spark, base).collect()
        .exists(_.getAs[Boolean]("retrain")))
    // the re-stat is stats-only: every postings file stays byte-for-
    // byte in place (name, length, mtime)
    def postingsFiles: Set[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$base/postings"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length(), f.lastModified())).toSet
    }
    val before = postingsFiles
    assert(before.nonEmpty)
    TextAnalysis.restatBm25Index(spark, base)
    assert(postingsFiles == before,
      "re-stat must rebuild df/stats only — no postings file may change")
    // fresh stats over the full postings ≡ the one-shot full build
    val served = TextAnalysis.bm25TopKFrom(spark, base)
      .collect().map(_.toString).toSet
    val full = Similarity.indexTopK(Similarity.Bm25)(spark, sf)
      .collect().map(_.toString).toSet
    assert(served == full,
      "re-stat serving must equal the one-shot full-corpus build")
    CacheScope.releaseAll(spark)
  }

  test("lexical two-night executor: promotion serving equals the one-shot build under each night's statistics contract (VERDICT r14 #4)") {
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms_hit"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))
    val out = TextAnalysis.bm25TwoNightTopK(spark, sf).collect()
    def night(n: Long) =
      out.filter(_.getAs[Long]("night") == n).map(keyOf).toSet
    // night 2: the preds partition the gate slice, so the post-restat
    // promotion must serve row-identical to the one-shot full-slice
    // build (fresh stats over everything arrived)
    val fullBase = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm2night_full_${System.nanoTime}"
    TextAnalysis.buildBm25Index(spark, sf, fullBase,
      Some(TextAnalysis.Bm25NightCorpusPred))
    val full = TextAnalysis.bm25TopKFrom(spark, fullBase)
      .collect().map(keyOf).toSet
    assert(night(2L) == full,
      "night-2 (post-restat) serving must equal the one-shot full-slice build")
    // night 1: one-shot frozen-stats build over snapshot + night-1
    // postings, UNCOMPACTED — equality also pins bucket-compaction
    // row preservation
    val oneShotBase = s"${System.getProperty("java.io.tmpdir")}/graft_spec_bm2night_${System.nanoTime}"
    TextAnalysis.buildBm25Index(spark, sf, oneShotBase,
      Some(TextAnalysis.Bm25NightSnapPred))
    TextAnalysis.appendBm25Batch(spark, sf, oneShotBase,
      TextAnalysis.Bm25Night1Pred)
    val oneShot = TextAnalysis.bm25TopKFrom(spark, oneShotBase)
      .collect().map(keyOf).toSet
    assert(night(1L) == oneShot,
      "night-1 (frozen-stats) promotion serving must equal the one-shot build over snapshot+night1")
    CacheScope.releaseAll(spark)
  }

  test("BPE counts stage once across the budget and pack consumers (VERDICT r12 #5)") {
    // the one staged corpus encode (memo-warm or not — what matters is
    // the consumers below add NOTHING)
    TextAnalysis.stagedBpeCounts(spark, sf)
    val passes = TextAnalysis.bpeEncodePasses.get()
    val budget = TextAnalysis.tokenBudgetBpe(spark, sf).collect()
    val packed = TextAnalysis.packBpe(spark, sf).collect()
    assert(budget.nonEmpty && packed.nonEmpty)
    assert(TextAnalysis.bpeEncodePasses.get() == passes,
      "budget + pack must consume the staged counts — zero further corpus encodes")
    // the two consumers read the same denomination: every token the
    // corpus encodes to is packed into some bin
    val packTotal = packed.map(_.getAs[Long]("n_tokens")).sum
    val countTotal = TextAnalysis.bpeCounts(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head().getLong(0)
    assert(packTotal == countTotal,
      s"packed tokens $packTotal != encoded tokens $countTotal")
    CacheScope.releaseAll(spark)
  }
}

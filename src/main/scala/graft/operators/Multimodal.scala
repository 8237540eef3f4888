package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted in
  * batch-shaped partition functions.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * deterministic fake (documented stub); everything Spark-side — binary
  * schema, metadata struct, frame offsets, partition batch shape — is
  * real and oracle-checked. Payload bytes are synthesized from the
  * documents table (ascii text doubled), which keeps byte-level
  * arithmetic reproducible in the oracle.
  */
object Multimodal {

  /** Synthetic media corpus: one binary payload + metadata per doc. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      concat(col("text"), col("text")).cast("binary").as("payload"),
      struct(
        element_at(lit(Array("jpeg", "png", "wav")), (col("doc_id") % 3 + 1).cast("int"))
          .as("format"),
        (lit(32) + (col("doc_id") % 8) * 16).cast("int").as("width"),
        (lit(32) + (col("doc_id") % 5) * 16).cast("int").as("height"))
        .as("meta"))

  /** Metadata extraction over binary columns (the "probe" stage of a
    * media pipeline): byte length + typed metadata fields. */
  def metaExtract(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("doc_id"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).cast("long").as("n_bytes"),
      (col("meta.width") * col("meta.height")).cast("long").as("n_pixels"))

  /** Frame sampling: fixed-stride frame offsets over the payload
    * (every 128 bytes, 64-byte frames), one row per sampled frame with
    * a deterministic frame fingerprint (polynomial hash of the frame's
    * first 8 bytes — stands in for the stubbed decode). */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    frameSampleOver(Tables.documents(s, dir)
      .select(col("doc_id"), concat(col("text"), col("text")).as("txt2")))

  /** The frame expansion over an arbitrary (doc_id, txt2) payload
    * corpus — [[overlapDedupCapped]]'s planted corpus reuses the
    * identical stride/fingerprint arithmetic. */
  private def frameSampleOver(d: DataFrame): DataFrame = {
    val pow = (0 until 8).map(j => math.pow(131, 7 - j).toLong)
    val termSql = (0 until 8).map { j =>
      s"CAST(ascii(substr(txt2, CAST(off AS INT) + 1 + $j, 1)) AS BIGINT) * ${pow(j)}L"
    }.mkString(" + ")
    d.withColumn("n_bytes", length(col("txt2")).cast("long"))
      .filter(col("n_bytes") >= 64)
      .select(col("doc_id"), col("txt2"),
        explode(sequence(lit(0L), col("n_bytes") - 64, lit(128L))).as("off"))
      .select(col("doc_id"), expr("off div 128").as("frame_id"), col("off"),
        expr(s"($termSql) % 2147483647L").as("frame_fp"))
  }

  /** Resize plumbing: target geometry + exact scale factors + the
    * proportional payload budget after resampling. The pixel transform
    * itself is the stubbed decode step; everything schema/arithmetic
    * side is real and oracle-checked (single int divisions → exact). */
  def resizeMeta(s: SparkSession, dir: String): DataFrame = {
    val target = 64
    metaExtract(s, dir).select(
      col("doc_id"), col("width"), col("height"),
      lit(target).as("target_w"), lit(target).as("target_h"),
      (lit(target).cast("double") / col("width")).as("scale_x"),
      (lit(target).cast("double") / col("height")).as("scale_y"),
      expr(s"(n_bytes * ${target.toLong} * ${target.toLong}) div (width * height)")
        .as("resized_bytes_est"))
  }

  /** Frame-level dedup — the video-pipeline variant of payload dedup:
    * sampled frames deduped ACROSS documents by their content
    * fingerprint (boilerplate intros/credits shared between videos),
    * keeping the first (doc_id, frame_id) occurrence. Same
    * min-struct election as paragraph dedup; only (fingerprint, ids)
    * shuffle — frame bytes stay at the scan. */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    // ONE frame expansion (the fingerprint arithmetic is the dominant
    // cost), materialized narrow (ids + 8-byte fp). The old shape
    // joined the expanded frames back to the per-fp winners, re-running
    // the whole expansion on both join sides; but per-doc kept-counts
    // are derivable from the WINNER LIST alone — each fingerprint
    // contributes exactly one kept (doc, frame), so n_kept(doc) is just
    // the winner count per doc — leaving only two partial aggregations
    // over the materialized frames and a per-doc-granularity join.
    val frames = frameSample(s, dir)
      .select(col("doc_id"), col("frame_id"), col("frame_fp"))
      .localCheckpoint()
    val keptPerDoc = frames.groupBy(col("frame_fp"))
      .agg(min(struct(col("doc_id"), col("frame_id"))).as("k"))
      .groupBy(col("k.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"))
    frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_frames") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Overlap threshold for [[overlapDedup]] — pairs sharing a quarter
    * of their distinct sampled frames are near-dup documents. */
  val OverlapTau = 0.25

  /** Media NEAR-dup by frame-set overlap — the "same video, different
    * container / trimmed credits" pass that byte-exact [[payloadDedup]]
    * cannot catch: two documents are near-dups when the Jaccard overlap
    * of their DISTINCT sampled-frame fingerprints reaches
    * [[OverlapTau]]. Candidate generation is the inverted frame index —
    * an equi-join on frame_fp carrying only (doc_id, fp), so pairs are
    * generated bucket-wise (never O(n²) and frame bytes never cross an
    * exchange); overlap counting and the two size joins are all
    * id-keyed. A degenerate hot fingerprint (a black frame) would fan
    * out like any hot LSH bucket — at corpus scale drop such stop
    * frames exactly like Planes.candidatePairs' maxBucketSize (the
    * gate corpus tops out at 36 docs/fp, so the exact form stays
    * oracle-able). One terminal double divide over exact counts. */
  def overlapDedup(s: SparkSession, dir: String): DataFrame = {
    val f = frameSample(s, dir)
      .select(col("doc_id"), col("frame_fp")).distinct()
      .localCheckpoint() // one frame expansion; reused three times below
    val sizes = f.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val shared = f.select(col("doc_id").as("doc_a"), col("frame_fp"))
      .join(f.select(col("doc_id").as("doc_b"), col("frame_fp")), "frame_fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fps").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fps").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .filter(col("jaccard") >= OverlapTau)
  }

  /** Stop-frame cap for [[overlapDedupCapped]]: frame fingerprints
    * held by more than this many documents drop at the CANDIDATE stage
    * (a black frame / station ident / silence shared corpus-wide fans
    * out |bucket|² pairs exactly like a hot LSH bucket — the r14 sf~1
    * probe measured the uncapped inverted-index join at ~11–12× on a
    * 10× step: 11.97× exact / 11.02× perturbed, SCALING_r14_sf1.json). The planted clique (every doc_id % 5 == 0 carries doc
    * 0's payload — ≥10 members at every SF) always exceeds the cap, so
    * the knob provably binds on the gate corpus. */
  val OverlapMaxBucket = 9

  /** The capped gate's corpus: every doc_id % 5 == 0 document carries
    * THE IDENTICAL payload (doc 0's text doubled) — one hamming-0
    * frame-set clique whose every fingerprint bucket blows past
    * [[OverlapMaxBucket]] (the phashDedupCapped planting recipe at
    * frame granularity). */
  private[graft] def plantedFrameCorpus(s: SparkSession,
      dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("src_id",
        when(col("doc_id") % 5 === 0, lit(0L)).otherwise(col("doc_id")))
    val src = Tables.documents(s, dir)
      .select(col("doc_id").as("src_id"), col("text"))
    d.join(src, "src_id")
      .select(col("doc_id"), concat(col("text"), col("text")).as("txt2"))
  }

  /** [[overlapDedup]] with the stop-frame cap the uncapped gate's
    * scaladoc prescribes, exercised end-to-end over the planted corpus
    * (VERDICT-r13-probe finding: the uncapped inverted-index join grew
    * ~11–12× on the 10× sf~1 step (11.97× exact / 11.02× perturbed,
    * SCALING_r14_sf1.json) — hot fingerprints fan out
    * quadratically; this is the production shape that holds candidate
    * growth flat at 100 TB). Semantics mirror phashDedupCapped: the
    * cap affects REACHABILITY only — candidates generate from
    * under-cap fingerprint buckets, then the overlap VERIFY recomputes
    * exact shared counts and Jaccard over each candidate pair's FULL
    * frame sets, so surviving pairs carry the same numbers the
    * uncapped operator would emit. The planted clique's pairs lose all
    * reachability (their only fingerprints are the over-cap ones) and
    * drop like stop words; organic near-dup pairs stay reachable
    * through their small buckets. Oracle replicates planting, cap
    * (HAVING), and the full-set verify — hash-exact. */
  def overlapDedupCapped(s: SparkSession, dir: String): DataFrame = {
    val f = frameSampleOver(plantedFrameCorpus(s, dir))
      .select(col("doc_id"), col("frame_fp")).distinct()
      .localCheckpoint() // one frame expansion; candidates + verify + sizes
    val sizes = f.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val kept = f.join(
      f.groupBy(col("frame_fp")).agg(count(lit(1)).as("nb"))
        .filter(col("nb") <= OverlapMaxBucket).select(col("frame_fp")),
      Seq("frame_fp"))
    val cands = kept.select(col("doc_id").as("doc_a"), col("frame_fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("frame_fp")), "frame_fp")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val shared = cands
      .join(f.select(col("doc_id").as("doc_a"), col("frame_fp")), "doc_a")
      .join(f.select(col("doc_id").as("doc_b"), col("frame_fp")),
        Seq("doc_b", "frame_fp"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fps").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fps").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .filter(col("jaccard") >= OverlapTau)
  }

  /** Spec hook: the uncapped overlap chain over the planted corpus —
    * the ground truth the cap subtracts reachability from. */
  private[graft] def overlapDedupPlantedUncapped(s: SparkSession,
      dir: String): DataFrame = {
    val f = frameSampleOver(plantedFrameCorpus(s, dir))
      .select(col("doc_id"), col("frame_fp")).distinct()
      .localCheckpoint()
    val sizes = f.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val shared = f.select(col("doc_id").as("doc_a"), col("frame_fp"))
      .join(f.select(col("doc_id").as("doc_b"), col("frame_fp")), "frame_fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fps").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fps").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .filter(col("jaccard") >= OverlapTau)
  }

  /** Exact payload dedup — the media-side dedup pass (identical bytes
    * re-uploaded under different records): fingerprint = md5 of the
    * binary payload, keep the minimum doc_id per fingerprint. The
    * corpus here references shared payloads by construction (each run
    * of 7 doc_ids shares one payload — the re-encode/copy pattern), so
    * the groups are non-trivial. Only (fingerprint, id) pairs shuffle;
    * payload bytes never leave the scan. */
  def payloadDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("src_id", col("doc_id") - col("doc_id") % 7)
    val src = Tables.documents(s, dir)
      .select(col("doc_id").as("src_id"),
        concat(col("text"), col("text")).cast("binary").as("payload"))
    d.join(src, "src_id")
      .select(col("doc_id"), md5(col("payload")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  // Perceptual-hash banding: 64 sample positions → 4 bands × 16 bits.
  // Pigeonhole: any pair within PhashMaxHamming = 3 differs in at most
  // 3 bands, so at least one band matches exactly — the banded
  // candidate join is provably COMPLETE at the threshold (spec asserts
  // set equality with the brute-force pair set, both directions).
  val PhashBands = 4
  val PhashBandBits = 16
  val PhashMaxHamming = 3

  /** aHash-style perceptual hash per media payload: 64 bytes sampled at
    * proportional positions (j·n/64 — the byte analog of resizing an
    * image to a fixed 8×8 grid), each thresholded against the sample
    * mean. The compare is `byte·64 ≥ Σsamples` — mean-threshold without
    * a division, pure integer, bit-identical across engines. Variants
    * of the same source payload (re-encodes/trims — here a 2-char
    * variant tail) perturb few sample positions, landing within small
    * hamming distance — what byte-exact [[payloadDedup]] cannot catch.
    * One narrow projection per row; at 100 TB the hash table is n rows
    * × 4 longs, the payload never leaves the scan. */
  private[graft] def phashTable(s: SparkSession, dir: String): DataFrame =
    phashTableFrom(s, dir, planted = false)

  /** `planted = true` is the capped gate's corpus: every doc_id % 13
    * == 0 document carries THE IDENTICAL payload (source text of doc
    * 0, no variant tail) — one hamming-0 clique of ~n/13 docs whose
    * four band buckets all blow past [[PhashMaxBucket]], the
    * degenerate-bucket scenario the stop-bucket cap exists for (the
    * dedup_embedding_lsh_capped planting recipe). */
  private[graft] def phashTableFrom(s: SparkSession, dir: String,
      planted: Boolean): DataFrame = phashTableFrom(s, dir, planted, fused = true)

  /** `fused = true` (production) computes the band vector with the
    * codegen'd graft_phash_bands kernel — one codepoint scan per row;
    * `fused = false` keeps the HOF reference formulation (64 substr
    * samples + aggregate lambdas) that the fused kernel is spec-proven
    * bit-identical to (MultimodalSpec "fused phash parity"). */
  private[graft] def phashTableFrom(s: SparkSession, dir: String,
      planted: Boolean, fused: Boolean): DataFrame = {
    // self-sufficient registration: a filtered Verify run may reach
    // this gate before any similarity/dedup query has registered the
    // graft_* functions on the session
    val srcId =
      if (planted)
        when(col("doc_id") % 13 === 0, lit(0L))
          .otherwise(col("doc_id") - col("doc_id") % 7)
      else col("doc_id") - col("doc_id") % 7
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("src_id", srcId)
    val src = Tables.documents(s, dir).select(col("doc_id").as("src_id"), col("text"))
    val variantTail = concat(col("text"), lit("#"), (col("doc_id") % 7).cast("string"))
    val payload =
      if (planted) when(col("doc_id") % 13 === 0, col("text")).otherwise(variantTail)
      else variantTail
    val joined = d.join(src, "src_id").withColumn("p", payload)
    withPhashBands(joined, fused)
  }

  /** Band-vector step shared by every phash corpus variant: the fused
    * codegen kernel in production, the HOF reference formulation for
    * the parity specs. */
  private def withPhashBands(joined: DataFrame, fused: Boolean): DataFrame = {
    val withBands =
      if (fused) joined.withColumn("bands", expr("graft_phash_bands(p)"))
      else joined
        .withColumn("b", expr(
          "transform(sequence(0, 63), j -> ascii(substr(p, CAST((j * length(p)) div 64 AS INT) + 1, 1)))"))
        .withColumn("ssum", expr("aggregate(b, 0L, (acc, x) -> acc + x)"))
        .withColumn("bands", expr(
          s"""transform(sequence(0, ${PhashBands - 1}), bd ->
             |  aggregate(sequence(0, ${PhashBandBits - 1}), 0L,
             |    (acc, i) -> acc + IF(element_at(b, CAST(bd * $PhashBandBits + i + 1 AS INT)) * 64 >= ssum,
             |      shiftleft(1L, CAST(i AS INT)), 0L)))""".stripMargin))
    withBands.select(col("doc_id"), col("bands"))
  }

  /** The empty-payload planting stops at this doc_id (VERDICT r14 #4):
    * the degenerate clique exists to prove the all-bits-set hash path,
    * which needs a HANDFUL of members, not a count that grows with SF
    * — the clique's pairs are quadratic in its size through the
    * UNCAPPED verify, and the sf~1 probe measured the SF-proportional
    * planting at 97 s / 63× on the 10× step (pure probe cost, zero
    * semantic value past a fixed clique). 16 × 17 = 272 bounds the
    * clique at 16 docs at every SF ≥ the bound's id range (doc 0
    * always qualifies, so the degenerate path is exercised at every
    * SF). */
  val PhashUnicodeEmptyBound = 272L

  /** Non-ASCII / empty-payload corpus for [[phashDedupUnicode]]:
    * every payload gains a multi-byte UTF-8 tail (Latin-1 supplement
    * + Greek + CJK — one, two, and three UTF-8 bytes per codepoint,
    * the classes where byte- and codepoint-indexing diverge), every
    * doc_id % 17 == 0 payload below [[PhashUnicodeEmptyBound]] is the
    * EMPTY string (the all-bits-set degenerate hash: 0 samples, mean
    * 0, 0·64 ≥ 0 sets every bit) — a FIXED ≤16-doc clique at every
    * SF — and every remaining doc_id % 7 == 3 payload is doc 0's text
    * DOUBLED plus the fixed tail (VERDICT r15 #2): one identical-
    * payload clique of ~n/7 docs whose four band buckets blow past
    * [[PhashUnicodeMaxBucket]] at every SF (68 members at the spec's
    * sf0.001 vs the 54-doc largest organic bucket), so the stop-bucket
    * cap provably binds on planted data while the doubling keeps the
    * clique's sample lattice disjoint from every organic variant's. */
  private[graft] def phashTableUnicode(s: SparkSession, dir: String,
      fused: Boolean = true): DataFrame = {
    val isEmpty = col("doc_id") % 17 === 0 &&
      col("doc_id") < PhashUnicodeEmptyBound
    val isClique = col("doc_id") % 7 === 3 && !isEmpty
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("src_id",
        when(isClique, lit(0L)).otherwise(col("doc_id") - col("doc_id") % 7))
    val src = Tables.documents(s, dir).select(col("doc_id").as("src_id"), col("text"))
    val payload = when(isEmpty, lit(""))
      .when(isClique, concat(col("text"), col("text"), lit("§λ漢")))
      .otherwise(concat(col("text"), lit("§λ漢"), (col("doc_id") % 7).cast("string")))
    withPhashBands(d.join(src, "src_id").withColumn("p", payload), fused)
  }

  /** Stop-bucket cap for [[phashDedupUnicode]] (VERDICT r15 #2): the
    * unicode corpus's organic near-identical payload groups hash to
    * band buckets that grow with duplication density (688 docs in one
    * bucket at sf0.1; the sf~1 probe measured the uncapped verify at
    * 54× on the 10× step — |bucket|² growth), so the gate's own
    * candidate stage now drops over-cap buckets exactly like
    * [[phashDedupCapped]]. 64 sits above every organic bucket at the
    * correctness SFs (54 max at sf0.001/0.01) and above the ≤16-doc
    * empty-payload clique — whose all-bits degenerate hash therefore
    * still rides the full candidate → hamming path there — while the
    * planted doubled-text clique (68 docs at sf0.001) exceeds it at
    * every SF, so the cap provably binds and the oracle replicates it
    * as a HAVING CTE. At corpus scale candidate growth is bounded at
    * cap²·#buckets — linear — regardless of duplication density. */
  val PhashUnicodeMaxBucket = 64

  /** [[phashDedup]] over the non-ASCII/empty corpus — the gate-row
    * (hash-exact, oracle-replicated) form of what was previously a
    * spec-only edge of the hand-written graft_phash_bands codegen
    * kernel (VERDICT r7 #7): multi-byte codepoints must sample
    * identically in both engines, and the empty-payload clique rides
    * the normal banded-candidate → hamming-verify path. CAPPED since
    * r16 (VERDICT r15 #2): see [[PhashUnicodeMaxBucket]] — the planted
    * over-cap clique and any organic bucket past the cap drop at the
    * candidate stage, the oracle replicates the cap, and the spec pins
    * that at the spec SF the dropped pairs are EXACTLY the planted
    * clique's while the empty clique's pairs survive. */
  def phashDedupUnicode(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashTableUnicode(s, dir).localCheckpoint(), capped = true,
      maxBucket = PhashUnicodeMaxBucket)

  /** Perceptual near-dup pairs: banded candidate equi-join on
    * (band, band_val) carrying ids only — bucket-wise, never O(n²),
    * payload bytes never cross an exchange — then an exact hamming
    * verify over the 4-long band vectors joined back by id. A hot
    * degenerate band value (flat payloads) would fan out like any hot
    * LSH bucket; at corpus scale drop such stop values exactly like
    * Planes.candidatePairs' maxBucketSize (the gate corpus tops out at
    * 14 docs/bucket, so the exact form stays oracle-able). */
  def phashDedup(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashTable(s, dir).localCheckpoint(), capped = false)

  /** Banded candidates → exact hamming verify over a hash table.
    * `capped` drops over-[[PhashMaxBucket]] band buckets at the
    * candidate stage (the stop-bucket knob). The localCheckpoint'd
    * table is the one hash pass, reused by every join below. */
  private def phashPairs(t: DataFrame, capped: Boolean,
      maxBucket: Int = PhashMaxBucket): DataFrame = {
    val bands = t.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_val")))
    val candBands =
      if (!capped) bands
      else bands.join(
        bands.groupBy(col("band"), col("band_val"))
          .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
          .select(col("band"), col("band_val")),
        Seq("band", "band_val"))
    val cands = candBands
      .join(candBands.select(col("band"), col("band_val"), col("doc_id").as("doc_b")),
        Seq("band", "band_val"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
    cands
      .join(t.select(col("doc_id").as("doc_a"), col("bands").as("bands_a")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("bands").as("bands_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("aggregate(zip_with(bands_a, bands_b, (x, y) -> bit_count(x ^ y)), 0L, (acc, v) -> acc + CAST(v AS BIGINT))")
          .as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
  }

  /** Stop-bucket cap for [[phashDedupCapped]] — the production knob
    * for hot degenerate band values (flat/black payloads hashing to
    * one bucket): buckets over the cap drop like LSH stop buckets,
    * bounding candidate-pair growth at |cap|²·#buckets regardless of
    * corpus skew. The gate cap binds on the sf corpus (max bucket 14),
    * so the capped row genuinely diverges from the exact one and the
    * oracle replicates the cap as a HAVING CTE. */
  val PhashMaxBucket = 10

  /** [[phashDedup]] with the stop-bucket cap, over the PLANTED corpus
    * (one identical-payload clique of ~n/13 docs — the degenerate
    * scenario: a black frame, a blank page re-uploaded thousands of
    * times). The clique's four band buckets blow past the cap and
    * drop like LSH stop buckets, so its |clique|² pair explosion never
    * reaches verify — while every organic near-dup pair stays
    * reachable through its small buckets (spec: dropped pairs are
    * EXACTLY the planted clique's). This is the shape that holds
    * candidate growth flat at 100 TB; the oracle replicates planting
    * and cap, keeping the row hash-exact. */
  def phashDedupCapped(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashTableFrom(s, dir, planted = true).localCheckpoint(), capped = true)

  // ------------------------------------------------------------------
  // Incremental perceptual dedup (r16): the dedup-cascade nightly
  // discipline (Dedup.scala buildCascadeSnapshot/rep_banded) applied to
  // the media corpus — nightly uploads probe a PERSISTED band index
  // instead of re-hashing and re-banding the snapshot per batch.

  /** Spec-counted odometer: persisted-index builds per (session,
    * corpus version) — repeat gate calls must be derivation-only. */
  private[graft] val phashIndexBuilds =
    new java.util.concurrent.atomic.AtomicLong

  /** The media corpus split: tonight's BATCH is the `source = 'src0'`
    * uploads (the dedup_incremental split discipline), the SNAPSHOT is
    * everything else. Both sides hash with the same fused kernel as
    * [[phashDedup]] — payload variants of one source text straddle the
    * split, so the probe finds genuine cross-split near-dups. */
  private def phashTableWithSource(s: SparkSession, dir: String): DataFrame =
    phashTable(s, dir).join(
      Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")

  /** Persist the snapshot side once per corpus version: the hash table
    * (doc_id, bands — n rows × 4 longs, payloads never persisted) and
    * the banded index (band, band_val, doc_id) PARTITIONED BY band
    * with value-sorted row groups, so a probe reads only the matching
    * band partitions and row-group stats prune within them — the
    * rep_banded / bm25 postings discipline applied to media hashes. */
  private[graft] def buildPhashIndex(s: SparkSession, dir: String,
      base: String): Unit = {
    phashIndexBuilds.incrementAndGet()
    val snap = phashTableWithSource(s, dir)
      .filter(col("source") =!= "src0").select(col("doc_id"), col("bands"))
    snap.write.mode("overwrite").parquet(s"$base/snap_hashes")
    s.read.parquet(s"$base/snap_hashes")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_val")))
      // explicit width (see Similarity.writeIndex): exempt
      // from AQE coalescing, one task per band, one file per band dir
      .repartition(PhashBands, col("band"))
      .sortWithinPartitions(col("band_val"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$base/band_index")
    // the STOP-BUCKET LIST is part of the snapshot artifact (r17,
    // VERDICT r16 #4 / the list_counts discipline): the over-cap
    // (band, band_val) buckets are a property of the snapshot decided
    // at build time, so the nightly probe reads this ≤#degenerate-
    // buckets file instead of re-aggregating the whole band index per
    // call. Derived from the just-written index so the two cannot
    // drift.
    s.read.schema("doc_id BIGINT, band_val BIGINT, band INT")
      .parquet(s"$base/band_index")
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("n")).filter(col("n") > PhashMaxBucket)
      .select(col("band"), col("band_val"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/stop_buckets")
  }

  private[graft] def stagedPhashIndex(s: SparkSession, dir: String): String = {
    val vkey = Tables.versionedKey(s, dir, "documents")
    Tables.stagedArtifact("mmphidx", dir, vkey) { b =>
      buildPhashIndex(s, dir, b); b
    }
  }

  /** Nightly incremental probe: hash ONLY the batch (one fused-kernel
    * pass over tonight's uploads), explode to (band, band_val), and
    * equi-join the persisted index — with the [[PhashMaxBucket]]
    * stop-bucket cap applied to the INDEX side (a degenerate snapshot
    * bucket — the black frame uploaded thousands of times — would
    * otherwise fan every matching upload into it), then exact hamming
    * verify against the persisted snapshot hashes. At 100 TB the
    * nightly cost is |batch| hashing + bounded bucket probes against a
    * band-partitioned artifact; the snapshot is never re-hashed,
    * re-banded, or re-paired. Output (doc_new, doc_old, hamming) is
    * hash-exact against the full-recompute oracle (cap HAVING-
    * replicated). */
  def phashDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = stagedPhashIndex(s, dir)
    val index = s.read.schema("doc_id BIGINT, band_val BIGINT, band INT")
      .parquet(s"$base/band_index")
    // the stop-bucket set comes from the SNAPSHOT ARTIFACT (r17,
    // VERDICT r16 #4): a ≤#degenerate-buckets file written at build
    // time, broadcast-anti-joined against tonight's probe side — the
    // per-probe COUNT over the whole persisted index is gone. Dropping
    // a stop bucket from the probe side removes exactly the candidates
    // the old index-side cap removed (a candidate needs the bucket on
    // BOTH sides), so the result is row-identical.
    val stop = s.read.schema("band INT, band_val BIGINT")
      .parquet(s"$base/stop_buckets")
    val batch = phashTableWithSource(s, dir)
      .filter(col("source") === "src0").select(col("doc_id"), col("bands"))
      .localCheckpoint() // one hash pass serves both the probe and the verify
    val cands = batch
      .select(col("doc_id").as("doc_new"), posexplode(col("bands")).as(Seq("band", "band_val")))
      // no explicit broadcast hint (AllQueriesSpec forbids hints on
      // relation-backed subtrees): the stop file is a few rows, so the
      // planner auto-broadcasts it — and if a pathological corpus ever
      // grew it past the threshold, a shuffled anti-join is the safe
      // fallback a forced hint would have overridden
      .join(stop, Seq("band", "band_val"), "left_anti")
      .join(index.select(col("band"), col("band_val"), col("doc_id").as("doc_old")),
        Seq("band", "band_val"))
      .select(col("doc_new"), col("doc_old")).distinct()
    cands
      .join(batch.select(col("doc_id").as("doc_new"), col("bands").as("bands_new")), "doc_new")
      .join(s.read.parquet(s"$base/snap_hashes")
        .select(col("doc_id").as("doc_old"), col("bands").as("bands_old")), "doc_old")
      .select(col("doc_new"), col("doc_old"),
        expr("aggregate(zip_with(bands_new, bands_old, (x, y) -> bit_count(x ^ y)), 0L, (acc, v) -> acc + CAST(v AS BIGINT))")
          .as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
  }

  /** Case classes for the typed decode path. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, n_bytes: Long,
    first_byte: Int, last_byte: Int, byte_sum_mod: Long)

  /** The pluggable decode seam (VERDICT r4 #4): a real deployment
    * implements this with an actual codec (JPEG/PNG/WAV) and injects it
    * into `decodeFeaturesWith`; this container has no codec libs, so
    * the shipped instance is the deterministic `FakeDecoder`. The seam
    * carries only the per-row decode — schema, partitioning, and batch
    * shape stay in the operator, so swapping the decoder cannot change
    * the plan. Must be Serializable: instances ship to executors inside
    * the partition closure. */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte]): MediaFeatures
  }

  /** DECODE STUB — the container-safe MediaDecoder instance: fixed-
    * shape byte arithmetic standing in for a codec call. Oracle-checked
    * (the arithmetic is reproducible in SQL), so the plumbing around
    * the seam is verified even though the decode itself is fake. */
  object FakeDecoder extends MediaDecoder {
    def decode(docId: Long, payload: Array[Byte]): MediaFeatures = {
      val sum = payload.foldLeft(0L)((acc, x) => (acc + (x & 0xff)) % 1000003L)
      MediaFeatures(docId, payload.length.toLong,
        payload.head & 0xff, payload.last & 0xff, sum)
    }
  }

  /** Batch-shaped partition decode, the Scala analog of mapInPandas:
    * each partition iterates its rows once, decodes via the injected
    * seam, emits a fixed-shape feature row. */
  def decodeFeaturesWith(s: SparkSession, dir: String,
      decoder: MediaDecoder): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir).select(col("doc_id"), col("payload")).as[MediaRow]
    media.mapPartitions { rows =>
      rows.map(r => decoder.decode(r.doc_id, r.payload))
    }.toDF()
  }

  /** The gate shape: decode with the container-safe fake. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame =
    decodeFeaturesWith(s, dir, FakeDecoder)

  /** CLIP-score image-text pair filtering — the LAION-400M curation
    * recipe (Schuhmann et al., arXiv:2111.02114: keep pairs whose
    * two-tower embedding cosine clears a bar). Pairs are (text = even
    * vec_id, image = the following odd vec_id); per-pair cosine
    * quantizes to 1e-7 fixed point (q longs), and the keep decision is
    * the INTEGER CROSS-MULTIPLY `q·n > Σq` — the corpus-mean bar
    * expressed without ANY division, because negative cosines exist
    * (measured pair mean ≈ 0.008) and floor (DuckDB `//`) vs
    * truncate (Spark `div`) semantics diverge below zero; cross-
    * multiplying makes the comparison exact on both engines. Plan:
    * one narrow pass per tower, one pair equi-join, a 1-row global-sum
    * broadcast, then a narrow filter — embeddings cross exactly one
    * exchange (the pair join) and the bar costs one map-side-combined
    * aggregate, so the pass scales linearly with the pair count. */
  def clipFilter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val txt = e.filter(col("vec_id") % 2 === 0)
      .select(expr("vec_id div 2").as("pair_id"), col("embedding").as("t_emb"))
    val img = e.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id div 2").as("pair_id"), col("embedding").as("i_emb"))
    val scored = txt.join(img, "pair_id")
      .select(col("pair_id"),
        floor(expr("graft_cosine(t_emb, i_emb)") * lit(1e7) + lit(0.5))
          .cast("long").as("q"))
    val bar = scored.agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    // decimal-widened cross-multiply (ADVICE r9 #2): q·n in Long
    // overflows once the pair count nears ~9e11 (|q| ≤ 1e7), silently
    // flipping keep verdicts at 100 TB; decimal(38,0) is exact to 1e38
    scored.crossJoin(broadcast(bar))
      .filter(col("q").cast("decimal(20,0)") * col("n") >
        col("sq").cast("decimal(20,0)"))
      .select(col("pair_id"),
        (col("q").cast("double") / lit(1e7)).as("clip_score"))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane machinery shared by the LSH similarity/dedup
  * operators, with the DuckDB oracle generators colocated so the two
  * sides can never drift.
  *
  * Plane signs come from a murmur3-fmix32-style integer finalizer over
  * the (plane, dim) index. The chain is deliberately overflow-free in
  * SIGNED 64-bit arithmetic (inputs < 2^20; the second multiplicand is
  * masked to 31 bits first), so DuckDB — which errors on BIGINT
  * overflow rather than wrapping — computes the exact same bits as the
  * JVM. That is what makes the LSH *candidate stage* itself part of the
  * hash-exact oracle, instead of trusting an empirical recall value
  * (the fragility flagged in ADVICE for corpus-tuned LSH equality).
  */
object Planes {

  /** fmix32-style avalanche bit of k (k must be < 2^20). */
  def fmixBit(k: Long): Int = {
    var h = k ^ (k >>> 16)
    h = (h * 0x85ebca6bL) & 0xffffffffL
    h = (h ^ (h >>> 13)) & 0x7fffffffL
    h = (h * 0xc2b2ae35L) & 0xffffffffL
    h = h ^ (h >>> 16)
    (h & 1L).toInt
  }

  /** ±1 hyperplane component for (plane p, dimension d). */
  def sign(p: Int, d: Int): Int = 1 - 2 * fmixBit(p.toLong * 4096L + d + 1L)

  /** Full ±1 row for plane p (plan-time literal: the per-element hash
    * is folded once here instead of per row inside an interpreted HOF
    * lambda — at 100 TB the signature pass stays a cheap narrow map). */
  def signRow(p: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(d => sign(p, d).toDouble)

  /** Embedding dimensionality, derived from the data with a fail-fast
    * uniformity check (ADVICE: a hard-coded dims silently degenerates
    * LSH to one bucket when the real dims differ). One tiny agg job. */
  def dimsOf(df: DataFrame, embCol: String): Int = {
    val r = df.agg(min(size(col(embCol))), max(size(col(embCol)))).head()
    require(r.getInt(0) == r.getInt(1),
      s"mixed embedding dims: ${r.getInt(0)}..${r.getInt(1)}")
    r.getInt(0)
  }

  /** table-t signature over P planes: bit j = [dot(v, plane_{t*P+j}) > 0].
    * The dot folds sequentially (functions.aggregate), so the sign of a
    * near-zero dot is bit-identical to DuckDB's list_sum fold. This is
    * the REFERENCE formulation — production uses the fused LshSigs
    * expression (bit-equality asserted in PlanesSpec). */
  def lshSig(emb: Column, table: Int, planesPerTable: Int, dims: Int): Column =
    (0 until planesPerTable).map { j =>
      val p = table * planesPerTable + j
      val signed = zip_with(emb, lit(signRow(p, dims)),
        (x, sgn) => x.cast("double") * sgn)
      shiftleft(when(VectorOps.seqSum(signed) > 0, 1L).otherwise(0L), j)
    }.reduce(_.bitwiseOR(_))

  /** (vec_id, table, sig) — one row per vector per table, via the fused
    * native kernel (one pass over the vector computes every table's
    * signature; the HOF form re-walks the vector once per plane). dims
    * is validated by dimsOf; the kernel derives it per row. */
  def withSigs(df: DataFrame, embCol: String, tables: Int, planesPerTable: Int,
      dims: Int): DataFrame = {
    df.select(col("*"),
        posexplode(expr(s"graft_lsh_sigs($embCol, $tables, $planesPerTable)")))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "sig")
  }

  /** Distinct candidate pairs from a banded (table, sig, id) frame,
    * optionally dropping "stop buckets" larger than `maxBucketSize`.
    * A hot bucket produces |bucket|² pairs — real corpora have
    * degenerate signatures (empty docs, common templates) whose buckets
    * would dominate the join; production LSH removes them like stop
    * words (recall loss is confined to members of the dropped bucket,
    * which other tables still cover). None = exact semantics, used by
    * every oracled op. */
  def candidatePairs(banded: DataFrame, idCol: String,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val pruned = maxBucketSize match {
      case None => banded
      case Some(cap) =>
        val sizes = banded.groupBy(col("table"), col("sig"))
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= cap)
          .select(col("table"), col("sig"))
        banded.join(sizes, Seq("table", "sig"))
    }
    val a = pruned.select(col("table"), col("sig"), col(idCol).as("_a"))
    val b = pruned.select(col("table"), col("sig"), col(idCol).as("_b"))
    a.join(b, Seq("table", "sig"))
      .filter(col("_a") < col("_b"))
      .select(col("_a").as(s"${idCol}_a"), col("_b").as(s"${idCol}_b"))
      .distinct()
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle generators (ANSI SQL the driver runs on the same
  // parquet). Same fmix chain via xor()/>>/& — DuckDB's ^ is POWER, so
  // the xor() function is used; every intermediate stays in [0, 2^63).
  // ---------------------------------------------------------------------

  /** fmix bit of the SQL expression k (emitted twice per xor — fine,
    * DuckDB CSE handles it). */
  def fmixBitSql(k: String): String = {
    var s = s"xor($k, ($k) >> 16)"
    s = s"((($s) * 2246822507) & 4294967295)"  // 0x85ebca6b
    s = s"((xor($s, ($s) >> 13)) & 2147483647)"
    s = s"((($s) * 3266489909) & 4294967295)"  // 0xc2b2ae35
    s = s"(xor($s, ($s) >> 16))"
    s"(($s) & 1)"
  }

  /** CTEs `e` (vec_id, emb DOUBLE[], nsq) and `sigs` (vec_id, t, sig)
    * replicating withSigs over `source` (a table or prior CTE exposing
    * vec_id + embedding; default the embeddings table). `i` is the
    * 1-based list index, so plane p = t*P+j and dim d = i-1 give
    * k = p*4096+i. */
  def sigsCteSql(tables: Int, planesPerTable: Int,
      source: String = "embeddings"): String = {
    val k = s"(t.t*$planesPerTable + j.j)*4096 + i"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |  list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x)) AS nsq
       | FROM $source),
       |d AS (SELECT vec_id, t.t AS t, j.j AS j,
       |  list_sum(list_transform(range(1, len(emb)+1),
       |    i -> emb[i] * (1 - 2 * ${fmixBitSql(k)}))) AS dot
       | FROM e, range(0,$tables) t(t), range(0,$planesPerTable) j(j)),
       |sigs AS (SELECT vec_id, t,
       |  CAST(SUM(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS sig
       | FROM d GROUP BY vec_id, t)""".stripMargin
  }

  /** Exact cosine between two (DOUBLE[], nsq) pairs — the list
    * arithmetic proven bit-identical to the fused CosineSim loop. */
  def cosineSql(aEmb: String, aNsq: String, bEmb: String, bNsq: String): String =
    s"list_sum(list_transform(list_zip($aEmb, $bEmb), x -> x[1]*x[2])) / sqrt($aNsq*$bNsq)"
}

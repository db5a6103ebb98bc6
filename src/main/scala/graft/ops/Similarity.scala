package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §7.8): cosine/dot expressions over
  * `array<float>` columns, brute-force top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed ANN as the scale path.
  *
  * All arithmetic is done in double after an explicit element cast, summing in
  * array order — deterministic and engine-portable (matches an oracle that
  * sums in list order).
  *
  * Scale posture: the query set is broadcast; candidates stream through one
  * scan. Brute force is O(|queries| * n) with a top-k window shuffled by
  * query id; the LSH variant first buckets candidates by signature so each
  * query only scans its bucket (collision-rate-bounded, not n).
  */
object Similarity {

  /** Element-wise cast to double (kept for callers that need double arrays;
    * the native expressions below read float32 directly). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the native codegen'd expression (double accumulate in
    * array order; float arrays read without a cast pass). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass native cosine similarity; 0 when either vector has zero
    * norm. Bit-identical to dot/(|a||b|) over double-cast vectors. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_cosine(a, b)

  /** L2-normalize a vector to unit length (zero vectors pass through):
    * precompute once when many cosine comparisons follow — cosine over
    * unit vectors reduces to the dot product.
    */
  def l2normalize(v: Column): Column = {
    val n = norm(v)
    // The norm rides into the lambda via array_repeat + zip_with rather
    // than being referenced in a `transform` body: a lambda-INVARIANT
    // subtree embedded in the body is re-evaluated per element (O(dim²)
    // per vector — measured 17× at dim 512 on the sibling quantizer).
    // array_repeat evaluates it once per row.
    when(n === 0, toDouble(v))
      .otherwise(zip_with(v, array_repeat(n, size(v)),
        (x, nn) => x.cast("double") / nn))
  }

  /** Symmetric int8 quantization: each element becomes
    * `round(x * 127 / max|x|)` ∈ [−127, 127] (zero vectors stay zero).
    * Cosine is scale-invariant, so quantized vectors are scored with the
    * SAME `vec_cosine` — no dequantization — at a quarter (vs float32) to
    * an eighth (vs float64) of the memory traffic once the store packs
    * the ints to bytes (parquet annotates int8 within INT32 physical
    * pages; a production vector store packs to raw bytes). Engine-portable
    * arithmetic: abs/max/round reproduce bit-for-bit in DuckDB, so
    * quantized search has an exact oracle.
    */
  def quantizeInt8(v: Column): Column = {
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    // maxAbs hoisted per row via array_repeat + zip_with (see l2normalize):
    // embedding it in a transform body re-evaluated the array_max per
    // ELEMENT — O(dim²) per vector, measured 11.6s → 0.7s for 20k × dim-512
    // vectors. Arithmetic unchanged, outputs bit-identical.
    when(maxAbs === 0, transform(v, _ => lit(0)))
      .otherwise(zip_with(v, array_repeat(maxAbs, size(v)),
        (x, m) => round(x.cast("double") * 127.0 / m).cast("int")))
  }

  /** Per-query top-k ranking of a scored (query_id, cand_id, score) frame:
    * rank by score desc with candidate-id tie-break, keep rank <= k. Shared
    * by the brute-force, LSH, and IVF searchers.
    */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * candidates (ties broken by candidate id ascending). Queries are
    * broadcast; each candidate partition computes scores map-side; the only
    * shuffle is the per-query top-k window, bounded by |queries| partitions.
    *
    * Returns (queryIdCol, candidate idCol, score, rank).
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     scoreDecimals: Int = 6): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = Partitioning.spread(candidates).select(col(idCol).as("cand_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(cosine(col("__qv"), col("__cv")), scoreDecimals))
    rankTopK(scored, k)
  }

  /** Contrastive hard-negative mining: per query, the k highest-cosine
    * candidates carrying a DIFFERENT label — the negatives that sit
    * closest to the decision boundary, which contrastive training
    * (SimCLR/CLIP-style) weights far above random negatives. Same
    * broadcast-queries / map-side-score / bounded-window shape as
    * [[bruteForceTopK]]; the label inequality is a map-side filter, so
    * same-label pairs never reach the top-k shuffle.
    *
    * Returns (query_id, cand_id, cand_label, score, rank).
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, labelCol: String, k: Int,
                    scoreDecimals: Int = 6): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(labelCol).as("__ql"))
    val c = Partitioning.spread(candidates).select(col(idCol).as("cand_id"),
      col(vecCol).as("__cv"), col(labelCol).as("cand_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id") &&
        col("__ql") =!= col("cand_label"))
      .withColumn("score", round(cosine(col("__qv"), col("__cv")), scoreDecimals))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cand_label", "score", "rank")
  }

  /** Deterministic random hyperplanes: `nbits` unit-free direction vectors of
    * dimension `dim`, from a seeded RNG (no wall-clock, no Spark randomness).
    */
  def hyperplanes(nbits: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nbits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Engine-portable hyperplanes: component (p, d) is derived from
    * md5("plane_p_d") — the first 4 bytes as an unsigned int, mapped to
    * [-1, 1]. Sign-LSH only needs symmetric random directions, not exact
    * gaussians, and any engine with md5 reproduces these bit-for-bit
    * (DuckDB: `('0x' || substr(md5('plane_'||p||'_'||d), 1, 8))::BIGINT
    * / 4294967295.0 * 2 - 1`), which makes LSH bucket assignments — and
    * therefore ANN results — oracle-checkable.
    */
  def md5Hyperplanes(nbits: Int, dim: Int): Seq[Array[Double]] =
    (0 until nbits).map { p =>
      Array.tabulate(dim) { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"plane_${p}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val u = ((md(0) & 0xFFL) << 24) | ((md(1) & 0xFFL) << 16) |
          ((md(2) & 0xFFL) << 8) | (md(3) & 0xFFL)
        u / 4294967295.0 * 2 - 1
      }
    }

  /** Sign-bit LSH signature of a vector under the given hyperplanes.
    * Native ([[graft.functions.VectorExpressions.LshSign]]): the plane
    * table rides as a codegen reference object, so generated code stays
    * constant-size at any nbits × dim (the unrolled form below embeds
    * every plane component as a literal — the IVF codegen-size problem),
    * and the expression is non-nullable so bucket joins infer no
    * isnotnull recompute filter.
    */
  def lshSignature(vec: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.VectorExpressions.lsh_sign(vec, planes)

  /** The unrolled when/OR composition — value-identical to [[lshSignature]]
    * (LshSignSpec asserts it, both plane families) and kept as the
    * no-custom-expression reference implementation.
    */
  private[graft] def lshSignatureUnrolled(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(vec, planeLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k: candidates and queries are signed with
    * the same hyperplanes; each query scans only candidates sharing its
    * bucket, then ranks by exact cosine. Recall is tuned by `nbits` (fewer
    * bits → bigger buckets → higher recall, more work).
    */
  def annTopK(queries: DataFrame, candidates: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nbits: Int = 8, dim: Int = 64,
              scoreDecimals: Int = 6,
              planesFor: (Int, Int) => Seq[Array[Double]] = hyperplanes(_, _)): DataFrame = {
    val planes = planesFor(nbits, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__bucket", lshSignature(col("__qv"), planes))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"))
      .withColumn("__bucket", lshSignature(col("__cv"), planes))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(cosine(col("__qv"), col("__cv")), scoreDecimals))
    rankTopK(scored, k)
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007): each query scans its
    * own bucket PLUS the single-bit-flip buckets of its `nprobe-1`
    * smallest-|margin| hyperplanes — the buckets a near neighbor most
    * plausibly landed in — then ranks by exact cosine. Recall multiplies
    * with `nprobe` while work stays `nprobe/2^nbits` of the corpus:
    * the published alternative to more hash tables (memory) or fewer
    * bits (bucket blow-up). `nprobe = 1` is exactly [[annTopK]].
    *
    * Shape: candidates carry ONE bucket (the [[lshSignature]] native
    * expression); only the broadcast-side queries explode to their probe
    * list ([[graft.functions.VectorExpressions.LshProbes]], margin
    * arithmetic bit-identical to the signature's), so the corpus-side
    * plan is unchanged from single-probe. Probe buckets are distinct by
    * construction — no pair dedup needed.
    */
  def annTopKMultiProbe(queries: DataFrame, candidates: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        nbits: Int = 8, dim: Int = 64, nprobe: Int = 3,
                        scoreDecimals: Int = 6,
                        planesFor: (Int, Int) => Seq[Array[Double]] = hyperplanes(_, _)): DataFrame = {
    val planes = planesFor(nbits, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__bucket", explode(
        graft.functions.VectorExpressions.lsh_probes(col("__qv"), planes, nprobe)))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"))
      .withColumn("__bucket", lshSignature(col("__cv"), planes))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("score", round(cosine(col("__qv"), col("__cv")), scoreDecimals))
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (id_a < id_b),
    * LSH-blocked so only same-bucket pairs are compared.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nbits: Int = 6, dim: Int = 64,
                     scoreDecimals: Int = 6,
                     maxBucket: Int = Blocking.Auto): DataFrame =
    cosineNearDupsManaged(df, idCol, vecCol, threshold, nbits, dim,
      scoreDecimals, maxBucket).df

  /** [[cosineNearDups]] with a [[Managed]] handle over the persisted
    * signature table, for callers that need cache lifecycle control.
    *
    * `maxBucket` enables the hot-bucket guard ([[Blocking]], keyed on
    * the raw vector — exact, no hash-collision caveat): identical-vector
    * members of an oversized bucket collapse onto a representative,
    * bounding the candidates; every emitted pair is still scored with the
    * exact cosine. Default [[Blocking.Auto]] (no-op below the auto floor;
    * see [[TextDedup.minhashPairsFromPrepared]]); 0 = strictly uncapped.
    */
  def cosineNearDupsManaged(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nbits: Int = 6, dim: Int = 64,
                            scoreDecimals: Int = 6,
                            maxBucket: Int = Blocking.Auto): Managed = {
    val planes = hyperplanes(nbits, dim)
    // persisted so the signature isn't re-inlined into both join sides
    // (aliasing the pin an earlier unmanaged call over the same input left)
    val v = Partitioning.spread(df).select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__bucket", lshSignature(col("__v"), planes))
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // auto resolves via one preflight agg (Blocking.resolveAutoCap); a
    // healthy corpus runs the exact uncapped plan
    val eff =
      if (maxBucket < 0) Blocking.resolveAutoCap(v, Seq("__bucket"))
      else maxBucket
    val scored =
      if (eff == 0) {
        val a = v.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__bucket"))
        val b = v.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__bucket"))
        a.join(b, "__bucket").filter(col("id_a") < col("id_b"))
      } else
        Blocking.cappedCandidates(v, Seq("__bucket"), idCol, "__v", eff)
          .join(v.select(col(idCol).as("id_a"), col("__v").as("__va")), "id_a")
          .join(v.select(col(idCol).as("id_b"), col("__v").as("__vb")), "id_b")
    val pairs = scored
      .withColumn("score", round(cosine(col("__va"), col("__vb")), scoreDecimals))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score").distinct()
    new Managed(pairs, Seq(v))
  }
}

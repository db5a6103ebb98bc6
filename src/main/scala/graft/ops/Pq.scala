package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.vec_dot

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-side half of the ANN
  * scale story ([[Ivf]] prunes WHICH candidates to score; PQ compresses HOW
  * each candidate is stored and scored): the vector splits into `m`
  * subspaces, each sub-vector quantizes to its nearest of `k` per-subspace
  * codewords, and the stored vector becomes `m` small integers — 64-dim
  * float32 (256 B) at m=4, k=16 becomes 4 codes (≤4 B), a 64× compression
  * that is the difference between "the corpus' embeddings fit in executor
  * memory" and "they do not" at 100 TB.
  *
  * Search is ADC (asymmetric distance computation): the UNquantized query
  * precomputes one lookup table of `m × k` sub-dot-products, and each
  * candidate scores with `m` array lookups + adds instead of a `dim`-wide
  * dot — the scan over compressed codes is both smaller AND cheaper per row.
  *
  * Engine shape: the codebook is driver-held literals like [[Ivf.Model]]
  * (m × k × subDim doubles — a few KB broadcast into expressions); encode,
  * LUT, and ADC score are all whole-stage-codegen expressions over the
  * existing native [[vec_dot]] kernel — no UDF, no shuffle beyond the
  * caller's own joins. Quantization minimizes L2 per subspace via the
  * equivalent argmax of `dot(sub, cw) − ‖cw‖²/2` (the `‖sub‖²` term is
  * constant per row); ties break to the HIGHER codeword id (struct
  * array_max — the [[Ivf.assignExpr]] convention, reproducible in SQL as
  * `ORDER BY score DESC, j DESC`).
  */
object Pq {

  /** Per-subspace codeword tables: `codewords(s)(j)` is the j-th codeword
    * of subspace s, each of length `subDim = dim / m`.
    */
  final case class Codebook(dim: Int,
                            codewords: IndexedSeq[IndexedSeq[Array[Double]]]) {
    def m: Int = codewords.size
    def k: Int = codewords.head.size
    def subDim: Int = dim / m
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(codewords.forall(_.size == k), "ragged codebook")
    require(codewords.forall(_.forall(_.length == subDim)),
      s"codeword length != subDim $subDim")
    // sanity bound only — encode/LUT switch to the native constant-size
    // kernels ([[graft.functions.PqExpressions]]) past UnrollMaxTerms, so
    // the production k = 256 compiles fine
    require(m * k <= (1 << 16), s"m*k = ${m * k} exceeds the sanity bound")
  }

  /** Deterministic fixed codebook: the vectors of `ids` (in order), sliced
    * into `m` sub-vectors, become the codewords — reproducible from the raw
    * table by any engine (the PQ oracle basis, like [[Ivf.fixedModel]]).
    * Quantization quality is below trained ([[trainPortable]]); the PQ
    * structure — codes, LUT, ADC — is identical.
    */
  def fixedCodebook(df: DataFrame, idCol: String, vecCol: String,
                    ids: Seq[Long], m: Int): Codebook = {
    val byId = df.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).cast("long"), Similarity.toDouble(col(vecCol)))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    require(ids.forall(byId.contains),
      s"missing codeword ids: ${ids.filterNot(byId.contains)}")
    val dim = byId(ids.head).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Codebook(dim, (0 until m).map(s =>
      ids.toIndexedSeq.map(id => byId(id).slice(s * sub, (s + 1) * sub))))
  }

  private def subVec(vec: Column, cb: Codebook, s: Int): Column =
    slice(Similarity.toDouble(vec), s * cb.subDim + 1, cb.subDim)

  /** Above this many (subspace × codeword) terms, encode/LUT switch from
    * the unrolled literal form to the native [[graft.functions
    * .PqExpressions]] kernels: unrolled codegen is O(m × k × subDim) Java
    * source and collides with Janino's method limit as k reaches the
    * hundreds, while the native kernels' generated code is constant-size
    * at any k. The two forms are value-identical (same slice/null/tie
    * semantics — PqSpec asserts it), so the choice is purely a
    * codegen-size strategy, exactly the [[Ivf]] UnrollMaxK posture.
    *
    * Lowered 64 → 32 in the round-19 optimization pass: at the bench
    * shape m=4, k=16 (64 terms) the unrolled form was measured 3–5×
    * SLOWER end-to-end than the kernels on the adcTopK pipeline
    * (OPTIMIZATION_r19.md at sf0.1: join+score 1.00 s unrolled vs 0.21 s
    * kernel; full query 1.26 s vs 0.44 s). Two compounding causes, both
    * absent in the kernels: the 64-term tree is re-instantiated under
    * every consumer (the `!array_contains(codes, -1)` guard filter
    * duplicates the whole encode subtree when predicate pushdown inlines
    * the projection — encode-only 0.32 s vs encode+filter 0.69 s), and
    * the generated Java for 64 slice+dot terms blows past JIT-friendly
    * method sizes while the kernel's loop is constant-size. m·k ≤ 32
    * keeps genuinely tiny codebooks (the PqSpec parity fixtures, m·k ≤ 4)
    * on the fully-inlined path.
    */
  private val UnrollMaxTerms = 32

  /** PQ code array (m ints) for a vector column: per subspace, the argmax
    * of `dot − ‖cw‖²/2` over the codewords (≡ argmin L2). The `‖cw‖²/2`
    * terms are driver-computed literals — sequential index-order sums, so
    * any engine reproduces them bit-for-bit. A null vector codes to all
    * -1 (the [[Ivf.assignExpr]] non-nullable convention).
    */
  def encodeExpr(vec: Column, cb: Codebook): Column =
    // the null guard must be EXPLICIT on the vector: a null sub-vector
    // nulls only the struct's score FIELD, and struct ordering still
    // yields a (meaningless) argmax index — coalesce never fires
    when(vec.isNotNull, encodeExprUnguarded(vec, cb))
      .otherwise(array((0 until cb.m).map(_ => lit(-1)): _*))

  /** [[encodeExpr]] WITHOUT the null guard — for pipelines whose input is
    * already proven non-null (e.g. after a `vec.isNotNull` pre-filter):
    * the guard's `isnotnull(<whole derived vector>)` condition would
    * otherwise be inlined into downstream Filters and re-evaluate the
    * derivation per row (the InferFilters/CollapseProject trap
    * PlanInvariantsSpec locks out). Undefined codes on a null vector.
    */
  private[ops] def encodeExprUnguarded(vec: Column, cb: Codebook): Column =
    if (cb.m * cb.k <= UnrollMaxTerms) encodeExprUnrolled(vec, cb)
    else graft.functions.PqExpressions.pq_encode(vec, cb.codewords)

  /** The unrolled literal encode, regardless of [[UnrollMaxTerms]] —
    * retained as the independent reference form the kernel is
    * spec-checked against (the [[adcScoreExprUnrolled]] posture), never
    * on the hot path above the threshold.
    */
  private[graft] def encodeExprUnrolledForSpec(vec: Column, cb: Codebook): Column =
    when(vec.isNotNull, encodeExprUnrolled(vec, cb))
      .otherwise(array((0 until cb.m).map(_ => lit(-1)): _*))

  private def encodeExprUnrolled(vec: Column, cb: Codebook): Column =
    array((0 until cb.m).map { s =>
      val sub = subVec(vec, cb, s)
      val scored = array(cb.codewords(s).zipWithIndex.map { case (cw, j) =>
        val halfNorm2 = cw.map(x => x * x).sum / 2
        struct((vec_dot(sub, array(cw.map(lit): _*)) - lit(halfNorm2)).as("s"),
          lit(j).as("i"))
      }: _*)
      coalesce(array_max(scored).getField("i"), lit(-1)) // non-null elements
    }: _*)

  /** (id, codes) frame: the compressed form of a vector table. At rest this
    * is what a 100 TB corpus stores and scans — `m` small ints per vector
    * instead of `dim` floats.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cb: Codebook): DataFrame =
    df.select(col(idCol), encodeExpr(col(vecCol), cb).as("codes"))

  /** Per-query ADC lookup table: a flat `m × k` double array where entry
    * `s * k + j` is `dot(querySub_s, codeword_{s,j})` — computed ONCE per
    * query row, in-plan.
    */
  def lutExpr(vec: Column, cb: Codebook): Column =
    if (cb.m * cb.k <= UnrollMaxTerms)
      array((for (s <- 0 until cb.m; j <- 0 until cb.k) yield
        vec_dot(subVec(vec, cb, s),
          array(cb.codewords(s)(j).map(lit): _*))): _*)
    else graft.functions.PqExpressions.pq_lut(vec, cb.codewords)

  /** ADC score from a query LUT and a candidate code array: the
    * approximate inner product `q · x̂ = Σ_s lut[s*k + code_s]` — m array
    * lookups and adds per candidate in ascending-s order, via the native
    * [[graft.functions.PqExpressions.pq_adc]] kernel (round 15: the A/B
    * at both the bench shape m=4,k=16 and the production shape m=16,
    * k=256 measured the kernel 15-25% faster than the unrolled
    * element_at chain on the full scoring scan — SCALE.md round-15 table —
    * with bit-identical values, PqSpec-asserted).
    */
  def adcScoreExpr(lut: Column, codes: Column, cb: Codebook): Column =
    graft.functions.PqExpressions.pq_adc(lut, codes, cb.k)

  /** The unrolled element_at chain — retained as the independent
    * reference form the kernel is spec-checked against (PqSpec), never
    * on the hot path.
    */
  private[graft] def adcScoreExprUnrolled(lut: Column, codes: Column,
                                          cb: Codebook): Column =
    (0 until cb.m).map(s =>
      element_at(lut, lit(s * cb.k + 1) + element_at(codes, s + 1)))
      .reduceLeft(_ + _)

  /** Top-`topK` candidates per query by ADC over a pre-encoded code table:
    * queries carry full vectors (asymmetric — that is the point), the
    * candidate side only `m` codes per row. Self-matches drop; scores
    * round to `scoreDecimals` BEFORE ranking (rank ties then break on
    * candidate id — deterministic and oracle-reproducible); the per-query
    * LUT is a projected column, so the scan over codes stays one
    * whole-stage-codegen pass with a window top-k — no shuffle beyond the
    * rank's own partition-by-query exchange.
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, queryIdCol: String,
              vecCol: String, candIdCol: String, cb: Codebook, topK: Int,
              scoreDecimals: Int = 6): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    // null-vector sentinels are unscoreable: a -1 code would index slot 0
    // of the LUT (an ANSI out-of-bounds error), a null query vector a null
    // LUT — both drop here, mirroring Ivf's null-never-joins posture
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("query_id"),
        lutExpr(col(vecCol), cb).as("__lut"))
    val c = codes.filter(!array_contains(col("codes"), lit(-1)))
      .select(col(candIdCol).cast("long").as("cand_id"),
        col("codes").as("__codes"))
    // stream the CODES side, broadcast the queries+LUTs: written the other
    // way round, Spark builds the right (candidate) side — the 100× probe
    // measured that as a near-serial 67.8 s BNLJ streaming 8 query rows;
    // this orientation scans the code table once, fully parallel (4.3 s
    // shape, matching ivfAdcTopK)
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(adcScoreExpr(col("__lut"), col("__codes"), cb),
          scoreDecimals).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Persist a codebook as a tiny (s, j, codeword) parquet table — the
    * operational form ([[Ivf.saveModel]] posture): encode/search sessions
    * LOAD the codebook instead of re-deriving it, and the table is
    * auditable and diffable like any other store artifact.
    */
  def saveCodebook(spark: org.apache.spark.sql.SparkSession, cb: Codebook,
                   path: String): Unit = {
    import spark.implicits._
    (for (s <- 0 until cb.m; j <- 0 until cb.k)
      yield (s, j, cb.codewords(s)(j).toSeq))
      .toDF("s", "j", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCodebook]] table; codeword order restored by (s, j). */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
                   path: String): Codebook = {
    val rows = spark.read.parquet(path).select("s", "j", "codeword").collect()
    require(rows.nonEmpty, s"empty codebook at $path")
    val byKey = rows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    require(byKey.size == m * k, s"ragged codebook table at $path")
    val sub = byKey((0, 0)).length
    Codebook(sub * m,
      (0 until m).map(s => (0 until k).map(j => byKey((s, j))).toIndexedSeq))
  }

  /** IVF-PQ search — the composed industry ANN shape ([[Ivf]] prunes WHICH
    * candidates each query scores, PQ compresses HOW each candidate is
    * stored and scored): candidates carry (cluster, codes) — at rest this
    * is the entire index, one small int plus m codes per vector — queries
    * explode into their `nprobe` nearest clusters and broadcast with their
    * LUT, and the probed join scores by ADC. Work per query is bounded by
    * probed-cluster volume × m lookups; the original vectors never load.
    * Coarse assignment is spherical (cosine — the [[Ivf]] quantizer), fine
    * scoring is the inner-product ADC, the standard split.
    */
  def ivfAdcTopK(queries: DataFrame, candidates: DataFrame,
                 queryIdCol: String, vecCol: String, candIdCol: String,
                 model: Ivf.Model, cb: Codebook, topK: Int, nprobe: Int = 4,
                 scoreDecimals: Int = 6): DataFrame =
    ivfAdcTopKIndexed(queries,
      buildIvfIndex(candidates, candIdCol, vecCol, model, cb),
      queryIdCol, vecCol, model, cb, topK, nprobe, scoreDecimals)

  /** The IVF-PQ index AT REST: (cand_id, cluster, codes) — one small int
    * plus m byte-scale codes per vector; the original vectors never load
    * at query time. Persist this table once (next to
    * [[saveCodebook]]/[[Ivf.saveModel]]) and serve queries through
    * [[ivfAdcTopKIndexed]] — the deployment shape that amortizes the
    * assign+encode pass across every query (round-16 verdict item 4;
    * 2.5–3.2× warm over the cold shapes, SCALE.md "Round-17: the PQ/IVF
    * saved-model warm path").
    */
  def buildIvfIndex(candidates: DataFrame, candIdCol: String, vecCol: String,
                    model: Ivf.Model, cb: Codebook): DataFrame =
    Ivf.assign(candidates.select(
        col(candIdCol).cast("long").as("cand_id"), col(vecCol).as("__cv")),
        "__cv", model, clusterCol = "cluster")
      .withColumn("codes", encodeExpr(col("__cv"), cb))
      .filter(!array_contains(col("codes"), lit(-1)))
      .select("cand_id", "cluster", "codes")

  /** [[ivfAdcTopK]] over a pre-built [[buildIvfIndex]] table — the warm
    * query path: probe explode + LUT on the broadcast query side, one scan
    * of the codes table, no per-query assign/encode work.
    */
  def ivfAdcTopKIndexed(queries: DataFrame, index: DataFrame,
                        queryIdCol: String, vecCol: String,
                        model: Ivf.Model, cb: Codebook, topK: Int,
                        nprobe: Int = 4, scoreDecimals: Int = 6): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val cand = index.select(col("cand_id"), col("cluster").as("__cluster"),
      col("codes").as("__codes"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe", explode(Ivf.probesExpr(col("__qv"), model, nprobe)))
      .select(col("query_id"), col("__probe").getField("i").as("__cluster"),
        lutExpr(col("__qv"), cb).as("__lut"))
    val scored = cand.join(broadcast(q), Seq("__cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(adcScoreExpr(col("__lut"), col("__codes"), cb),
          scoreDecimals).as("score"))
    Similarity.rankTopK(scored, topK)
  }

  /** ADC-shortlist + exact re-rank — the standard production PQ recipe:
    * the compressed scan picks a `shortlist`-sized candidate set per query
    * (cheap, approximate), then ONLY those rows load their full vectors
    * for exact cosine re-scoring. Work per query: |candidates| × m lookups
    * for the shortlist + `shortlist` exact dots — the full-precision pass
    * touches `shortlist / |candidates|` of the data. Recall converges to
    * brute force as `shortlist` grows (PqSpec locks exact equality at
    * shortlist ≥ |candidates|−1; SCALE.md "PQ recall ladder" records it).
    */
  def adcRerankTopK(queries: DataFrame, candidates: DataFrame,
                    queryIdCol: String, vecCol: String, candIdCol: String,
                    cb: Codebook, topK: Int, shortlist: Int,
                    scoreDecimals: Int = 6): DataFrame =
    adcRerankTopKEncoded(queries, candidates,
      encode(candidates, candIdCol, vecCol, cb),
      queryIdCol, vecCol, candIdCol, cb, topK, shortlist, scoreDecimals)

  /** [[adcRerankTopK]] over a pre-built code table ([[encode]] output,
    * persisted once) — the warm query path: the compressed shortlist scan
    * reads codes at rest, the exact re-score pulls only the shortlisted
    * full vectors (round-16 verdict item 4; SCALE.md "Round-17: the PQ/IVF
    * saved-model warm path").
    */
  def adcRerankTopKEncoded(queries: DataFrame, candidates: DataFrame,
                           codes: DataFrame, queryIdCol: String,
                           vecCol: String, candIdCol: String,
                           cb: Codebook, topK: Int, shortlist: Int,
                           scoreDecimals: Int = 6): DataFrame = {
    require(shortlist >= topK, s"shortlist $shortlist must be >= topK $topK")
    val cand = candidates.select(col(candIdCol).cast("long").as("cand_id"),
      col(vecCol).as("__cv"))
    val short = adcTopK(queries, codes,
      queryIdCol, vecCol, candIdCol, cb, topK = shortlist, scoreDecimals)
      .select("query_id", "cand_id")
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(vecCol).as("__qv"))
    // the shortlist is |queries| × shortlist rows — broadcast it onto the
    // candidate table (equi-join pulls exactly the shortlisted vectors),
    // then broadcast the queries for the exact re-score
    val rescored = cand.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(graft.functions.VectorExpressions.vec_cosine(
          col("__qv"), col("__cv")), scoreDecimals).as("score"))
    Similarity.rankTopK(rescored, topK)
  }

  /** IVF-pruned ADC shortlist + exact cosine re-rank — the full
    * production ANN recipe (FAISS's IVFADC + refine): IVF prunes each
    * query to its `nprobe` clusters, ADC over codes picks a
    * `shortlist`-sized candidate set from the probed volume, and ONLY
    * those rows load full vectors for exact re-scoring. Work per query:
    * probed-volume × m lookups + `shortlist` exact dots — at 100 TB both
    * the scan (pruned) and the full-precision pass (shortlist-bounded)
    * are sub-corpus by construction.
    */
  def ivfAdcRerankTopK(queries: DataFrame, candidates: DataFrame,
                       queryIdCol: String, vecCol: String, candIdCol: String,
                       model: Ivf.Model, cb: Codebook, topK: Int,
                       nprobe: Int = 4, shortlist: Int = 32,
                       scoreDecimals: Int = 6): DataFrame =
    ivfAdcRerankTopKIndexed(queries, candidates,
      buildIvfIndex(candidates, candIdCol, vecCol, model, cb),
      queryIdCol, vecCol, candIdCol, model, cb, topK, nprobe, shortlist,
      scoreDecimals)

  /** [[ivfAdcRerankTopK]] over a pre-built [[buildIvfIndex]] table — the
    * warm form: shortlist from the at-rest index, re-rank pulls only the
    * shortlisted full vectors.
    */
  def ivfAdcRerankTopKIndexed(queries: DataFrame, candidates: DataFrame,
                              index: DataFrame, queryIdCol: String,
                              vecCol: String, candIdCol: String,
                              model: Ivf.Model, cb: Codebook, topK: Int,
                              nprobe: Int, shortlist: Int,
                              scoreDecimals: Int = 6): DataFrame = {
    require(shortlist >= topK, s"shortlist $shortlist must be >= topK $topK")
    val short = ivfAdcTopKIndexed(queries, index, queryIdCol, vecCol, model,
      cb, topK = shortlist, nprobe, scoreDecimals)
      .select("query_id", "cand_id")
    val cand = candidates.select(col(candIdCol).cast("long").as("cand_id"),
      col(vecCol).as("__cv"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("query_id"),
        col(vecCol).as("__qv"))
    val rescored = cand.join(broadcast(short), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(graft.functions.VectorExpressions.vec_cosine(
          col("__qv"), col("__cv")), scoreDecimals).as("score"))
    Similarity.rankTopK(rescored, topK)
  }

  // ------------------------------------------------------ residual (IVFADC)

  private def centroidsLit(model: Ivf.Model): Column =
    array(model.centroids.map(c => array(c.map(lit): _*)): _*)

  /** Residual of a vector against its assigned coarse centroid,
    * `x − centroid(assign(x))` — the quantity true IVFADC encodes: coarse
    * structure lives in the cluster id, PQ spends its codes on what the
    * centroid MISSED, which is why residual codes out-resolve raw codes at
    * the same storage. Null vectors stay null (the assign sentinel −1
    * would index the centroid table out of bounds under ANSI otherwise).
    */
  def residualExpr(vec: Column, model: Ivf.Model): Column =
    when(vec.isNotNull, residualExprUnguarded(vec, model))
      .otherwise(lit(null).cast("array<double>"))

  /** [[residualExpr]] without the null guard — for proven-non-null inputs
    * (see [[encodeExprUnguarded]] for why the guard must not reach a
    * downstream Filter). A null vector would mis-index the centroid table.
    */
  private[ops] def residualExprUnguarded(vec: Column, model: Ivf.Model): Column =
    zip_with(
      Similarity.toDouble(vec),
      element_at(centroidsLit(model), Ivf.assignExpr(vec, model) + 1),
      (a, b) => a - b)

  /** Deterministic fixed RESIDUAL codebook: the residuals of `ids` (in
    * order) against their own assigned centroids, sliced into `m`
    * sub-vectors — reproducible from the raw table by any engine, like
    * [[fixedCodebook]]. The assignment runs through the SAME
    * [[Ivf.assignExpr]] the encode path uses, so codebook and codes share
    * one arithmetic.
    */
  def residualCodebook(df: DataFrame, idCol: String, vecCol: String,
                       ids: Seq[Long], m: Int, model: Ivf.Model): Codebook = {
    val byId = df.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).cast("long"), residualExpr(col(vecCol), model))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    require(ids.forall(byId.contains),
      s"missing codeword ids: ${ids.filterNot(byId.contains)}")
    val dim = byId(ids.head).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Codebook(dim, (0 until m).map(s =>
      ids.toIndexedSeq.map(id => byId(id).slice(s * sub, (s + 1) * sub))))
  }

  /** Residual IVF-PQ search (true IVFADC): candidates store (cluster,
    * residual codes); queries score via the inner-product decomposition
    * `q·x = q·c + q·(x−c) ≈ q·c + Σ_s lut[s·k + code_s]` — the q·c term
    * is one exact dot against the probed centroid per (query, probe), and
    * the LUT is over the RAW query (no residual needed on the query
    * side). Same pruning, same per-candidate cost as [[ivfAdcTopK]];
    * strictly better use of the same m codes (SCALE.md "Residual IVF-PQ"
    * records the measured gap).
    */
  def ivfAdcResidualTopK(queries: DataFrame, candidates: DataFrame,
                         queryIdCol: String, vecCol: String,
                         candIdCol: String, model: Ivf.Model, cb: Codebook,
                         topK: Int, nprobe: Int = 4,
                         scoreDecimals: Int = 6): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    // candidates pre-filter non-null, so the UNGUARDED residual/encode
    // forms apply: no sentinel codes can arise (no -1 filter needed), and
    // no isnotnull-over-derived-vector guard leaks into a Filter
    // the encode runs through the NATIVE kernel unconditionally here (not
    // the UnrollMaxTerms switch): the unrolled form duplicates its child
    // per (subspace × codeword) term, and the child is the whole residual
    // tree — zip_with over an element_at over the k-way unrolled assign —
    // so at m·k = 64 the expression tree reaches ~70k nodes and
    // analysis+codegen dominates the query (measured 5.6 s vs 1.6 s for
    // the raw-vector twin at sf0.1). The kernel is bit-identical to the
    // unrolled form (PqSpec locks it, incl. NaN ordering), evaluates the
    // residual child ONCE, and generates constant-size code.
    val cand = candidates.filter(col(vecCol).isNotNull)
      .select(col(candIdCol).cast("long").as("cand_id"), col(vecCol).as("__cv"))
      .withColumn("__cluster", Ivf.assignExpr(col("__cv"), model))
      .withColumn("__codes", graft.functions.PqExpressions.pq_encode(
        residualExprUnguarded(col("__cv"), model), cb.codewords))
      .select("cand_id", "__cluster", "__codes")
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe", explode(Ivf.probesExpr(col("__qv"), model, nprobe)))
      .select(col("query_id"), col("__probe").getField("i").as("__cluster"),
        lutExpr(col("__qv"), cb).as("__lut"),
        vec_dot(Similarity.toDouble(col("__qv")),
          element_at(centroidsLit(model),
            col("__probe").getField("i") + 1)).as("__qc"))
    val scored = cand.join(broadcast(q), Seq("__cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(col("__qc") + adcScoreExpr(col("__lut"), col("__codes"), cb),
          scoreDecimals).as("score"))
    Similarity.rankTopK(scored, topK)
  }

  /** Train per-subspace codebooks with engine-portable arithmetic (the
    * [[Ivf.trainPortable]] integer-quantized means, applied per subspace):
    * ONE distributed pass per Lloyd iteration covers ALL subspaces —
    * assign codes map-side via [[encodeExpr]], posexplode the vector once,
    * derive the subspace from the element position, and integer-sum per
    * (subspace, code, position). Only the m × k × subDim codeword table
    * collects. Init: the first k vectors by id, sliced — deterministic,
    * no randomness anywhere.
    */
  def trainPortable(df: DataFrame, idCol: String, vecCol: String,
                    m: Int, k: Int, iters: Int = 2,
                    scale: Long = 1L << 20): Codebook = {
    val vecs = df.select(col(idCol), Similarity.toDouble(col(vecCol)).as("__v"))
    val first = vecs.orderBy(col(idCol)).limit(k).select("__v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(first.length == k, s"need at least $k vectors, got ${first.length}")
    val dim = first.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val init = Codebook(dim, (0 until m).map(s =>
      first.toIndexedSeq.map(_.slice(s * sub, (s + 1) * sub))))
    (1 to iters).foldLeft(init) { (cb, _) =>
      val sums = vecs.withColumn("__codes", encodeExpr(col("__v"), cb))
        .select(col("__codes"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .select((col("__pos") / sub).cast("int").as("__s"),
          element_at(col("__codes"), (col("__pos") / sub).cast("int") + 1)
            .as("__code"),
          (col("__pos") % sub).as("__sp"), col("__x"))
        .groupBy("__s", "__code", "__sp")
        .agg(sum(floor(col("__x") * lit(scale.toDouble) + lit(0.5))
          .cast("long")).as("__sq"), count(lit(1)).as("__n"))
        .collect()
      val means: Map[(Int, Int), Array[Double]] =
        sums.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (key, rs) =>
          val arr = new Array[Double](sub)
          rs.foreach(r =>
            arr(r.getInt(2)) = r.getLong(3).toDouble / (scale.toDouble * r.getLong(4)))
          key -> arr
        }
      // empty codes keep their previous codeword
      Codebook(dim, (0 until m).map(s => (0 until k).map(j =>
        means.getOrElse((s, j), cb.codewords(s)(j))).toIndexedSeq))
    }
  }
}

package graft.ops

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** [[Pq]]: codes quantize to the nearest codeword per subspace (ties to the
  * higher id — the Ivf convention), ADC scores reproduce the exact
  * sum-of-sub-dots arithmetic, sentinels drop rather than mis-score, and
  * portable training recovers planted sub-cluster structure
  * deterministically.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // dim 8, m=2 → subDim 4, k=2: codewords chosen so sub-vector nearness
  // is unambiguous (subspace 0: all-0 vs all-1; subspace 1: all-0 vs all-2)
  private val cb = Pq.Codebook(8, IndexedSeq(
    IndexedSeq(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0)),
    IndexedSeq(Array(0.0, 0.0, 0.0, 0.0), Array(2.0, 2.0, 2.0, 2.0))))

  private def vdf(rows: (Long, Seq[Double])*) = rows.toDF("id", "vec")

  "encode" should "pick the L2-nearest codeword per subspace" in {
    val df = vdf(
      1L -> Seq(0.1, 0.0, 0.1, 0.0, 1.9, 2.0, 2.1, 2.0), // → (0, 1)
      2L -> Seq(0.9, 1.1, 1.0, 1.0, 0.2, 0.0, 0.1, 0.0), // → (1, 0)
      3L -> Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)) // → (1, 1)
    val codes = Pq.encode(df, "id", "vec", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes(1L) shouldBe Seq(0, 1)
    codes(2L) shouldBe Seq(1, 0)
    codes(3L) shouldBe Seq(1, 1)
  }

  it should "break exact ties to the higher codeword id and sentinel nulls to -1" in {
    val tied = Pq.Codebook(4, IndexedSeq(
      IndexedSeq(Array(1.0, 1.0), Array(1.0, 1.0)), // identical codewords
      IndexedSeq(Array(0.0, 0.0), Array(3.0, 3.0))))
    val df = spark.sql("SELECT 1L AS id, array(1.0D, 1.0D, 0.0D, 0.0D) AS vec " +
      "UNION ALL SELECT 2L, CAST(NULL AS ARRAY<DOUBLE>)")
    val codes = Pq.encode(df, "id", "vec", tied)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes(1L).head shouldBe 1 // tie → higher id
    codes(2L) shouldBe Seq(-1, -1)
  }

  "adcTopK" should "rank by the exact sum-of-sub-dots LUT arithmetic, excluding self and sentinels" in {
    val cands = vdf(
      10L -> Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0), // codes (1,1)
      20L -> Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0), // codes (1,0)
      30L -> Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)) // codes (0,0)
    val codes = Pq.encode(cands, "id", "vec", cb)
    // query 10 scores itself out; reconstructed dots: against (1,0) codes
    // q·(1,1,1,1)=4 + q·(0,0,0,0)=0 → 4; against (0,0): 0
    val out = Pq.adcTopK(vdf(10L -> Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)),
        codes, "id", "vec", "id", cb, topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    out.map(_._2).toSeq shouldBe Seq(20L, 30L) // rank order
    out.find(_._2 == 20L).get._3 shouldBe 4.0
    out.find(_._2 == 30L).get._3 shouldBe 0.0
    // equal-score tie would break on cand_id asc: scores differ here, so
    // just lock ranks are 1,2
    out.map(_._4).toSeq shouldBe Seq(1, 2)
  }

  it should "drop null queries and -1-coded candidates" in {
    val codes = Pq.encode(vdf(10L -> Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)),
      "id", "vec", cb)
      .union(spark.sql("SELECT 99L AS id, array(-1, -1) AS codes"))
    val q = spark.sql("SELECT 5L AS id, CAST(NULL AS ARRAY<DOUBLE>) AS vec " +
      "UNION ALL SELECT 6L, array(1.0D,1.0D,1.0D,1.0D,0.0D,0.0D,0.0D,0.0D)")
    val out = Pq.adcTopK(q, codes, "id", "vec", "id", cb, topK = 5).collect()
    out.map(_.getLong(0)).distinct.toSeq shouldBe Seq(6L) // null query gone
    out.map(_.getLong(1)).toSeq shouldBe Seq(10L) // sentinel candidate gone
  }

  "ivfAdcTopK" should "only score candidates in probed clusters, by the same ADC arithmetic" in {
    // two orthogonal IVF clusters; nprobe=1 pins each query to its own,
    // so the other cluster's candidates must be invisible even when their
    // ADC score would win
    val model = Ivf.Model(IndexedSeq(
      Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)))
    val cands = vdf(
      10L -> Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0), // cluster 0
      20L -> Seq(0.9, 1.1, 1.0, 1.0, 0.1, 0.0, 0.0, 0.0), // cluster 0
      30L -> Seq(0.0, 0.0, 0.0, 0.0, 2.0, 2.0, 2.0, 2.0)) // cluster 1
    val q = vdf(10L -> Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0))
    val out = Pq.ivfAdcTopK(q, cands, "id", "vec", "id", model, cb,
        topK = 5, nprobe = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    out.map(_._1).toSeq shouldBe Seq(20L) // self excluded, cluster 1 pruned
    // candidate 20 codes to (1, 0); ADC = q·(1,1,1,1) + q·(0,0,0,0) = 4
    out.head._2 shouldBe 4.0
  }

  "fixedCodebook" should "slice the chosen vectors into per-subspace codewords" in {
    val df = vdf(
      0L -> Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      7L -> Seq(9.0, 9.0, 9.0, 9.0, 8.0, 8.0, 8.0, 8.0))
    val fixed = Pq.fixedCodebook(df, "id", "vec", Seq(0L, 7L), m = 2)
    fixed.m shouldBe 2
    fixed.k shouldBe 2
    fixed.codewords(0)(0).toSeq shouldBe Seq(1.0, 2.0, 3.0, 4.0)
    fixed.codewords(1)(0).toSeq shouldBe Seq(5.0, 6.0, 7.0, 8.0)
    fixed.codewords(0)(1).toSeq shouldBe Seq(9.0, 9.0, 9.0, 9.0)
    an[IllegalArgumentException] should be thrownBy
      Pq.fixedCodebook(df, "id", "vec", Seq(0L, 42L), m = 2)
  }

  "ivfAdcResidualTopK" should "score near-exactly when candidate residuals are codewords" in {
    // candidates ARE the residual-codebook source ids, so each candidate's
    // residual quantizes to itself and the ADC decomposition
    // q·c + Σ q_s·r_s equals the exact inner product up to FP association
    val model = Ivf.Model(IndexedSeq(
      Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)))
    val rnd = new scala.util.Random(17)
    val rows = (0L until 8L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0)
                 else Seq(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)
      i -> base.map(_ + rnd.nextDouble() * 0.2)
    }
    val df = vdf(rows: _*)
    val rcb = Pq.residualCodebook(df, "id", "vec", rows.map(_._1), m = 2, model)
    val out = Pq.ivfAdcResidualTopK(vdf(rows.head), df, "id", "vec", "id",
        model, rcb, topK = 7, nprobe = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val qv = rows.head._2
    rows.tail.foreach { case (id, xv) =>
      val exact = qv.zip(xv).map { case (a, b) => a * b }.sum
      withClue(s"cand $id: ") { out(id) shouldBe exact +- 2e-6 }
    }
  }

  it should "null residuals for null vectors instead of mis-indexing the centroid table" in {
    val model = Ivf.Model(IndexedSeq(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS vec " +
      "UNION ALL SELECT array(3.0D, 1.0D)")
    val out = df.select(Pq.residualExpr(col("vec"), model).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Double](0)))
    out.count(_.isEmpty) shouldBe 1
    out.flatten.head.toSeq shouldBe Seq(2.0, 1.0) // 3-1, 1-0
  }

  "the native kernels" should "match the unrolled encode/LUT bit-for-bit" in {
    // the spec codebook is small → Pq uses the UNROLLED forms; calling the
    // native kernels directly on the same codebook locks value equality,
    // including null elements, a short vector (slice min-length), and ties
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map(i => i -> Seq.fill(8)(rnd.nextDouble() * 4 - 2))
    val df = vdf(rows: _*)
      .union(spark.sql(
        "SELECT 97L, array(1.0D, CAST(NULL AS DOUBLE), 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D) " +
        "UNION ALL SELECT 98L, array(1.0D, 2.0D, 3.0D)")) // short vector
    import graft.functions.PqExpressions
    val both = df.select(
        Pq.encodeExpr(org.apache.spark.sql.functions.col("vec"), cb).as("u_codes"),
        PqExpressions.pq_encode(org.apache.spark.sql.functions.col("vec"),
          cb.codewords).as("n_codes"),
        Pq.lutExpr(org.apache.spark.sql.functions.col("vec"), cb).as("u_lut"),
        PqExpressions.pq_lut(org.apache.spark.sql.functions.col("vec"),
          cb.codewords).as("n_lut"))
      .collect()
    both.foreach { r =>
      r.getSeq[Int](0) shouldBe r.getSeq[Int](1)
      r.getSeq[Double](2) shouldBe r.getSeq[Double](3)
    }
  }

  it should "match the unrolled encode on NaN-carrying vectors (NaN-greatest)" in {
    // NaN scores propagate to every codeword's sub-dot; the unrolled
    // struct array_max orders NaN greatest and ties to the highest j.
    // The native kernel must agree — a plain `sc >= best` would never
    // select a NaN score and could even return -1.
    import graft.functions.PqExpressions
    val df = spark.sql(
      "SELECT 1L AS id, array(CAST('NaN' AS DOUBLE), 1.0D, 2.0D, 3.0D, 4.0D, 5.0D, 6.0D, 7.0D) AS vec " +
      "UNION ALL SELECT 2L, array(CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), " +
      "CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE))")
    val both = df.select(
        Pq.encodeExpr(org.apache.spark.sql.functions.col("vec"), cb).as("u_codes"),
        PqExpressions.pq_encode(org.apache.spark.sql.functions.col("vec"),
          cb.codewords).as("n_codes"))
      .collect()
    both.foreach { r =>
      r.getSeq[Int](1) shouldBe r.getSeq[Int](0)
      all(r.getSeq[Int](1)) should be >= 0
    }
  }

  it should "carry a k=256 codebook that the unrolled form could not compile" in {
    val rnd = new scala.util.Random(13)
    val big = Pq.Codebook(8, IndexedSeq.tabulate(4)(_ =>
      IndexedSeq.fill(256)(Array.fill(2)(rnd.nextDouble()))))
    val vecs = (0L until 20L).map(i => i -> Seq.fill(8)(rnd.nextDouble()))
    val codes = Pq.encode(vdf(vecs: _*), "id", "vec", big)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // Scala reference argmax (ties to higher j) over the same arithmetic
    def ref(v: Seq[Double]): Seq[Int] = (0 until 4).map { s =>
      val sub = v.slice(s * 2, s * 2 + 2)
      var best = Double.NegativeInfinity; var bj = -1
      for (j <- 0 until 256) {
        val cw = big.codewords(s)(j)
        val sc = sub.zip(cw).map { case (a, b) => a * b }.sum -
          cw.map(x => x * x).sum / 2
        if (sc >= best) { best = sc; bj = j }
      }
      bj
    }
    vecs.foreach { case (id, v) => codes(id) shouldBe ref(v) }
  }

  "adcRerankTopK" should "equal brute force when the shortlist covers all candidates" in {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 30L).map(i => i -> Seq.fill(8)(rnd.nextDouble()))
    val all = vdf(rows: _*)
    val q = vdf(rows.take(3): _*)
    val exact = Similarity.bruteForceTopK(q, all, "id", "vec", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val rerank = Pq.adcRerankTopK(q, all, "id", "vec", "id", cb,
        topK = 5, shortlist = 29)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    rerank shouldBe exact
  }

  "saveCodebook/loadCodebook" should "round-trip bit-exactly" in {
    val dir = java.nio.file.Files.createTempDirectory("pq_cb").toString + "/cb"
    Pq.saveCodebook(spark, cb, dir)
    val back = Pq.loadCodebook(spark, dir)
    back.dim shouldBe cb.dim
    back.codewords.map(_.map(_.toSeq)) shouldBe cb.codewords.map(_.map(_.toSeq))
  }

  "trainPortable" should "recover planted per-subspace clusters, deterministically" in {
    // two clean sub-clusters per subspace; ids interleave so the first-k
    // init sees one of each
    val rows = (0L until 40L).map { i =>
      val a = if (i % 2 == 0) 0.0 else 10.0
      val b = if ((i / 2) % 2 == 0) -5.0 else 5.0
      i -> Seq(a, a, a, a, b, b, b, b)
    }
    val df = vdf(rows: _*)
    val t1 = Pq.trainPortable(df, "id", "vec", m = 2, k = 2, iters = 2)
    val t2 = Pq.trainPortable(df, "id", "vec", m = 2, k = 2, iters = 2)
    // determinism: bit-identical codebooks across runs
    t1.codewords.flatten.map(_.toSeq) shouldBe t2.codewords.flatten.map(_.toSeq)
    // each subspace's codewords land on the planted values (quantized
    // means carry ~1/scale error)
    val s0 = t1.codewords(0).map(_.head).sorted
    s0(0) shouldBe 0.0 +- 1e-5
    s0(1) shouldBe 10.0 +- 1e-5
    val s1 = t1.codewords(1).map(_.head).sorted
    s1(0) shouldBe -5.0 +- 1e-5
    s1(1) shouldBe 5.0 +- 1e-5
    // a trained codebook encodes its own corpus consistently: every code
    // in range, no sentinel
    val codes = Pq.encode(df, "id", "vec", t1).collect()
    codes.foreach(_.getSeq[Int](1).foreach(c => c should (be >= 0 and be < 2)))
  }
  "the native pq_adc kernel" should "be BIT-identical to the unrolled element_at chain" in {
    // the hot path routes through the kernel (round 15 — an A/B measured
    // it 15-25% faster at both bench and production shapes, SCALE.md
    // round-15 table, q_ext_pq_adc row);
    // this identity is what keeps the DuckDB ADC oracles valid for it.
    // Deterministic pseudo-random vectors, both a small (m=2, k=2) and a
    // production-shaped (m=16, k=256) codebook.
    import org.apache.spark.sql.functions.col
    val dim = 64
    val vecs = (0L until 40L).map(i =>
      i -> Seq.tabulate(dim)(d => ((i * 31 + d * 7) % 19 - 9) / 4.0)).toDF("id", "vec")
    for ((m, k) <- Seq((2, 2), (16, 256))) {
      val cbx = Pq.Codebook(dim, (0 until m).map(sIdx =>
        (0 until k).map(j =>
          Array.tabulate(dim / m)(d => ((sIdx * 13 + j * 5 + d * 3) % 17 - 8) / 8.0))))
      val withLut = Pq.encode(vecs, "id", "vec", cbx)
        .join(vecs.select(col("id"), Pq.lutExpr(col("vec"), cbx).as("lut")), "id")
      val pairs = withLut.select(
          Pq.adcScoreExpr(col("lut"), col("codes"), cbx).as("kernel"),
          Pq.adcScoreExprUnrolled(col("lut"), col("codes"), cbx).as("unrolled"))
        .collect()
      pairs.length should be > 0
      pairs.foreach { r =>
        withClue(s"m=$m k=$k: ") {
          java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
            java.lang.Double.doubleToRawLongBits(r.getDouble(1))
        }
      }
    }
  }

  "the UnrollMaxTerms switch" should "route the bench codebook shape (m=4, k=16) through the native kernels" in {
    // round-19 optimization: at m·k = 64 the unrolled literal form measured
    // 3-5x slower end-to-end than the kernels (OPTIMIZATION_r19.md, "PQ
    // family" — the
    // 64-term tree is duplicated under the codes guard filter and its
    // generated Java blows past JIT-friendly method sizes), so the switch
    // must keep 64 terms on the kernel path; tiny codebooks stay unrolled.
    import org.apache.spark.sql.functions.col
    val benchCb = Pq.Codebook(64, IndexedSeq.tabulate(4)(sIdx =>
      IndexedSeq.tabulate(16)(j =>
        Array.tabulate(16)(d => ((sIdx * 13 + j * 5 + d * 3) % 17 - 8) / 8.0))))
    val vecs = (0L until 4L).map(i =>
      i -> Seq.tabulate(64)(d => ((i * 31 + d * 7) % 19 - 9) / 4.0)).toDF("id", "vec")
    // the Column wraps a lazy ColumnNode in Spark 4 — inspect the
    // ANALYZED plan's expression classes instead
    def exprNames(c: org.apache.spark.sql.Column): String =
      vecs.select(c).queryExecution.analyzed.expressions
        .flatMap(_.collect { case e => e.getClass.getSimpleName })
        .mkString(",")
    // m·k = 64 → native kernels
    exprNames(Pq.encodeExpr(col("vec"), benchCb)) should include("PqEncode")
    exprNames(Pq.lutExpr(col("vec"), benchCb)) should include("PqLut")
    // m·k = 4 (the spec fixture) → still the fully-inlined unrolled form
    exprNames(Pq.encodeExpr(col("vec"), cb)) should not include "PqEncode"
    exprNames(Pq.lutExpr(col("vec"), cb)) should not include "PqLut"
    // and the two forms stay value-identical at the bench shape
    val both = vecs.select(
        Pq.encodeExpr(col("vec"), benchCb).as("n_codes"),
        Pq.encodeExprUnrolledForSpec(col("vec"), benchCb).as("u_codes"))
      .collect()
    both.foreach(r => r.getSeq[Int](0) shouldBe r.getSeq[Int](1))
  }

  // explicit subject: the preceding UnrollMaxTerms case would otherwise
  // re-bind this kernel-totality test's reported name (round-19 advice)
  "the native pq_adc kernel" should "fail loudly on malformed codes instead of AIOOBE or silent 0.0" in {
    // round-16 ADVICE: the kernel must be at least as total as the
    // unrolled ANSI element_at chain it replaced
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)
    val k = 4
    val lut = arr(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0) // m=2, k=4
    // happy path: seeded first-term sum
    graft.functions.PqExpressions.adc(lut, arr(1, 2), k) shouldBe 2.0 + 7.0
    val cases = Seq(
      ("empty codes", arr(), lut),
      ("negative sentinel", arr(-1, 2), lut),
      ("code >= k", arr(1, 4), lut),
      ("null code slot", arr(null, 2), lut),
      ("lut size mismatch", arr(1, 2), arr(1.0, 2.0, 3.0)),
      ("null lut entry", arr(1, 2), arr(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, null, 8.0)))
    cases.foreach { case (label, codes, theLut) =>
      withClue(label + ": ") {
        val e = the[IllegalArgumentException] thrownBy
          graft.functions.PqExpressions.adc(theLut, codes, k)
        e.getMessage should include("pq_adc")
      }
    }
  }

  "the warm (at-rest index) paths" should "reproduce the cold forms bit-exactly (r17)" in {
    // the deployment split (round-16 verdict item 4): codebook/model saved
    // and reloaded, codes/index persisted once — results must equal the
    // in-query forms row-for-row, or the amortization trades correctness
    val n = 64
    val rows = (0L until n).map { i =>
      i -> Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11).toDouble)
    }
    val e = vdf(rows: _*)
    val cbT = Pq.fixedCodebook(e, "id", "vec", Seq(0L, 5L, 9L, 13L), m = 2)
    val model = Ivf.fixedModel(e, "id", "vec", Seq(0L, 5L, 9L, 13L))
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_warm_spec")
    Pq.saveCodebook(spark, cbT, s"$dir/cb")
    Ivf.saveModel(spark, model, s"$dir/ivf")
    Pq.encode(e, "id", "vec", cbT)
      .write.mode("overwrite").parquet(s"$dir/codes")
    Pq.buildIvfIndex(e, "id", "vec", model, cbT)
      .write.mode("overwrite").parquet(s"$dir/index")
    val cbW = Pq.loadCodebook(spark, s"$dir/cb")
    val modelW = Ivf.loadModel(spark, s"$dir/ivf")
    val codesW = spark.read.parquet(s"$dir/codes")
    val indexW = spark.read.parquet(s"$dir/index")
    val q = e.filter(col("id") < 4)

    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

    rowsOf(Pq.ivfAdcTopKIndexed(q, indexW, "id", "vec", modelW, cbW,
        topK = 3, nprobe = 2)) shouldBe
      rowsOf(Pq.ivfAdcTopK(q, e, "id", "vec", "id", model, cbT,
        topK = 3, nprobe = 2))
    rowsOf(Pq.adcRerankTopKEncoded(q, e, codesW, "id", "vec", "id", cbW,
        topK = 3, shortlist = 8)) shouldBe
      rowsOf(Pq.adcRerankTopK(q, e, "id", "vec", "id", cbT,
        topK = 3, shortlist = 8))
    rowsOf(Pq.adcTopK(q, codesW, "id", "vec", "id", cbW, topK = 3)) shouldBe
      rowsOf(Pq.adcTopK(q, Pq.encode(e, "id", "vec", cbT), "id", "vec", "id",
        cbT, topK = 3))
    // the composed IVF+rerank (r17): warm == cold, and every result row
    // is drawn from the query's probed clusters
    val composedCold = Pq.ivfAdcRerankTopK(q, e, "id", "vec", "id", model,
      cbT, topK = 3, nprobe = 2, shortlist = 8)
    rowsOf(Pq.ivfAdcRerankTopKIndexed(q, e, indexW, "id", "vec", "id",
      modelW, cbW, topK = 3, nprobe = 2, shortlist = 8)) shouldBe
      rowsOf(composedCold)
  }

  "ivfAdcRerankTopK" should "rescore exactly the IVF-pruned ADC shortlist (r17)" in {
    // compose-by-hand oracle: the shortlist IS ivfAdcTopK(topK=shortlist);
    // rerank replaces ADC scores with exact cosine over just those pairs
    val n = 48
    val rows = (0L until n).map { i =>
      i -> Seq.tabulate(8)(d => ((i * 5 + d * 7) % 13).toDouble)
    }
    val e = vdf(rows: _*)
    val cbT = Pq.fixedCodebook(e, "id", "vec", Seq(0L, 3L, 11L, 17L), m = 2)
    val model = Ivf.fixedModel(e, "id", "vec", Seq(0L, 3L, 11L, 17L))
    val q = e.filter(col("id") < 3)
    val composed = Pq.ivfAdcRerankTopK(q, e, "id", "vec", "id", model, cbT,
        topK = 4, nprobe = 2, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val short = Pq.ivfAdcTopK(q, e, "id", "vec", "id", model, cbT,
        topK = 10, nprobe = 2)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every composed row comes from the shortlist...
    composed.foreach { case (qid, cid, _) =>
      short should contain((qid, cid))
    }
    // ...and its score is the exact cosine, not the ADC approximation
    val byId = rows.toMap
    composed.foreach { case (qid, cid, score) =>
      val (a, b) = (byId(qid), byId(cid))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      score shouldBe (BigDecimal(cos).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) +- 1e-9
    }
    composed.length shouldBe 3 * 4 // topK per query
  }
}

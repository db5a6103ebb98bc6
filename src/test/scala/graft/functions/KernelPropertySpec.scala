package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec
import graft.ops.Profiler

/** Property-based checks over the native Catalyst kernels and the
  * distributed exact-quantile pipeline, complementing the edge-shape
  * tables in the per-expression specs:
  *
  *  - `VectorDot` / `VectorCosine` / `LshSign` carry HAND-WRITTEN Java in
  *    `doGenCode` that is distinct from the Scala `eval` path — the classic
  *    custom-expression bug class is the two silently diverging, so random
  *    inputs run under forced codegen (`factoryMode=CODEGEN_ONLY`) and
  *    forced interpretation (`wholeStage=false` + `factoryMode=NO_CODEGEN`)
  *    and must agree bit-for-bit, and both must equal an independent Scala
  *    model (same documented arithmetic order, so equality is exact).
  *  - `jaccard_sim` must equal the set model |A∩B|/|A∪B| with null as an
  *    ordinary distinguished element and 0.0 on an empty union.
  *  - `minhash_signature` is checked structurally: k accumulators,
  *    invariance under permutation+duplication (a min doesn't care), and
  *    element-wise monotone non-increase under superset — properties any
  *    correct min-hash must satisfy regardless of the hash family.
  *  - `simhash_bits` votes commute and double without changing sign, so
  *    permutation and self-concatenation leave the fingerprint unchanged.
  *  - `Profiler.quantiles(exact = true)` (range-partition + rank-select
  *    across partitions) must reproduce the 5-line in-memory model: sort,
  *    r = p·(n−1), interpolate — on random columns with duplicates, nulls,
  *    and an all-null column.
  *
  * Generators are sampled directly like [[graft.ops.PropertySpec]] (no
  * scalatestplus bridge in the offline cache).
  */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private def interpreted[T](body: => T): T =
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  private def codegenOnly[T](body: => T): T =
    withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  private val trials = 3

  // ---- vector kernels -----------------------------------------------------

  private val vecGen: Gen[Seq[Option[Float]]] = for {
    n <- Gen.choose(0, 9)
    xs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(-10.0, 10.0).map(d => Some(d.toFloat)),
      1 -> Gen.const(Some(0.0f)),
      1 -> Gen.const(None: Option[Float])))
  } yield xs

  private def mDot(a: Seq[Option[Float]], b: Seq[Option[Float]]): Double = {
    val n = math.min(a.size, b.size)
    var s = 0.0; var i = 0
    while (i < n) {
      (a(i), b(i)) match {
        case (Some(x), Some(y)) => s += x.toDouble * y.toDouble
        case _                  =>
      }
      i += 1
    }
    s
  }

  private def mCos(a: Seq[Option[Float]], b: Seq[Option[Float]]): Double = {
    val n = math.min(a.size, b.size)
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      (a(i), b(i)) match {
        case (Some(x), Some(y)) =>
          val xd = x.toDouble; val yd = y.toDouble
          ab += xd * yd; aa += xd * xd; bb += yd * yd
        case _ =>
      }
      i += 1
    }
    val denom = math.sqrt(aa) * math.sqrt(bb)
    if (denom == 0.0) 0.0 else ab / denom
  }

  "vec_dot and vec_cosine" should
      "agree across codegen, interpreted eval, and the Scala model" in {
    (1 to trials).foreach { _ =>
      val rows = sample(Gen.zip(vecGen, vecGen), 40).zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
      val df = rows.toDF("id", "a", "b")
      def run(): Seq[(Int, Double, Double)] = df.select(col("id"),
          VectorExpressions.vec_dot(col("a"), col("b")).as("d"),
          VectorExpressions.vec_cosine(col("a"), col("b")).as("c"))
        .orderBy("id").as[(Int, Double, Double)].collect().toSeq
      val gen = codegenOnly(run())
      val interp = interpreted(run())
      gen shouldBe interp
      gen.zip(rows).foreach { case ((_, d, c), (_, a, b)) =>
        withClue(s"a=$a b=$b: ") {
          d shouldBe mDot(a, b)
          c shouldBe mCos(a, b)
        }
      }
    }
  }

  "lsh_sign" should "agree across codegen, interpreted eval, and the plane model" in {
    val planeRng = new scala.util.Random(42)
    val planes = Seq.fill(12)(Array.fill(8)(planeRng.nextGaussian()))
    def mSig(v: Seq[Option[Float]]): Long = {
      var sig = 0L
      planes.zipWithIndex.foreach { case (plane, p) =>
        val n = math.min(v.size, plane.length)
        var s = 0.0; var i = 0
        while (i < n) {
          v(i).foreach(x => s += x.toDouble * plane(i))
          i += 1
        }
        if (s > 0) sig |= (1L << p)
      }
      sig
    }
    (1 to trials).foreach { _ =>
      val rows = sample(vecGen, 40).zipWithIndex.map(_.swap)
      // null VECTOR (not just null element) must yield bucket 0L
      val withNull = rows :+ ((rows.size, null: Seq[Option[Float]]))
      val df = withNull.toDF("id", "v")
      def run(): Seq[(Int, Long)] = df.select(col("id"),
          VectorExpressions.lsh_sign(col("v"), planes).as("s"))
        .orderBy("id").as[(Int, Long)].collect().toSeq
      val gen = codegenOnly(run())
      val interp = interpreted(run())
      gen shouldBe interp
      gen.zip(withNull).foreach { case ((_, s), (_, v)) =>
        withClue(s"v=$v: ") {
          s shouldBe (if (v == null) 0L else mSig(v))
        }
      }
    }
  }

  // ---- text kernels -------------------------------------------------------

  private val tokGen: Gen[Option[String]] = Gen.frequency(
    8 -> Gen.oneOf("a", "b", "c", "d", "e", "aa", "").map(Option(_)),
    1 -> Gen.const(None: Option[String]))

  private val tokArrGen: Gen[Seq[Option[String]]] =
    Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, tokGen))

  "jaccard_sim" should "match the set model on random multisets with nulls" in {
    (1 to trials).foreach { _ =>
      val rows = sample(Gen.zip(tokArrGen, tokArrGen), 50).zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
      val df = rows.toDF("id", "a", "b")
      def run(): Seq[(Int, Double)] = df.select(col("id"),
          JaccardExpression.jaccard_sim(col("a"), col("b")).as("j"))
        .orderBy("id").as[(Int, Double)].collect().toSeq
      val gen = codegenOnly(run())
      gen shouldBe interpreted(run())
      gen.zip(rows).foreach { case ((_, j), (_, a, b)) =>
        val sa = a.toSet; val sb = b.toSet
        val union = (sa | sb).size
        val expect = if (union == 0) 0.0 else (sa & sb).size.toDouble / union
        withClue(s"a=$a b=$b: ") { j shouldBe expect }
      }
    }
  }

  "minhash_signature" should
      "be k-wide, permutation/duplication-invariant, and superset-monotone" in {
    val k = 32
    (1 to trials).foreach { _ =>
      val rng = new scala.util.Random()
      val rows = sample(Gen.zip(tokArrGen, tokArrGen), 30).zipWithIndex.map {
        case ((xs, extra), i) =>
          val shuffledDup = rng.shuffle(xs) ++ xs.take(xs.size / 2)
          (i, xs, shuffledDup, xs ++ extra)
      }
      val df = rows.toDF("id", "orig", "shufdup", "sup")
      val got = df.select(col("id"),
          MinhashExpressions.minhash_signature(col("orig"), k).as("so"),
          MinhashExpressions.minhash_signature(col("shufdup"), k).as("ss"),
          MinhashExpressions.minhash_signature(col("sup"), k).as("sp"))
        .orderBy("id").as[(Int, Seq[Long], Seq[Long], Seq[Long])].collect()
      got.zip(rows).foreach { case ((_, so, ss, sp), (_, xs, _, _)) =>
        withClue(s"xs=$xs: ") {
          so should have size k.toLong
          ss shouldBe so                       // min ignores order and copies
          sp.zip(so).foreach { case (supAcc, origAcc) =>
            supAcc should be <= origAcc        // more elements, smaller mins
          }
          if (xs.isEmpty) so.foreach(_ shouldBe Long.MaxValue)
        }
      }
    }
  }

  "simhash_bits" should "be permutation- and self-concatenation-invariant" in {
    val hashGen: Gen[Seq[Option[Long]]] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Some(_)),
        1 -> Gen.const(None: Option[Long]))))
    def model(hs: Seq[Option[Long]], bits: Int): Long = {
      val votes = new Array[Int](bits)
      hs.foreach { h =>
        val v = h.getOrElse(0L)
        (0 until bits).foreach(j =>
          if (((v >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1)
      }
      (0 until bits).foldLeft(0L)((fp, j) =>
        if (votes(j) > 0) fp | (1L << j) else fp)
    }
    (1 to trials).foreach { _ =>
      val rng = new scala.util.Random()
      val rows = sample(hashGen, 30).zipWithIndex.map { case (hs, i) =>
        (i, hs, rng.shuffle(hs), hs ++ hs)
      }
      val df = rows.toDF("id", "orig", "shuf", "doubled")
      val got = df.select(col("id"),
          SimhashExpression.simhash_bits(col("orig"), 64).as("o"),
          SimhashExpression.simhash_bits(col("shuf"), 64).as("s"),
          SimhashExpression.simhash_bits(col("doubled"), 64).as("d"))
        .orderBy("id").as[(Int, Long, Long, Long)].collect()
      got.zip(rows).foreach { case ((_, o, s, d), (_, hs, _, _)) =>
        withClue(s"hs=$hs: ") {
          o shouldBe model(hs, 64)
          s shouldBe o
          d shouldBe o
          if (hs.isEmpty) o shouldBe 0L
        }
      }
    }
  }

  // ---- distributed exact quantiles ---------------------------------------

  "Profiler.quantiles(exact)" should
      "reproduce the in-memory sort-and-interpolate model" in {
    val probs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val cellGen: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.choose(-1000.0, 1000.0).map(Some(_)),
      3 -> Gen.choose(-5, 5).map(i => Some(i.toDouble)), // forced duplicates
      2 -> Gen.const(None: Option[Double]))
    def model(vals: Seq[Double], p: Double): Any =
      if (vals.isEmpty) null
      else {
        val s = vals.sorted
        val r = p * (s.size - 1)
        val lo = s(math.floor(r).toInt); val hi = s(math.ceil(r).toInt)
        val frac = r - math.floor(r)
        lo * (1.0 - frac) + hi * frac
      }
    (1 to trials).foreach { _ =>
      val n = sample(Gen.choose(1, 60), 1).head
      val rows = sample(Gen.zip(cellGen, cellGen), n)
        .map { case (a, b) => (a, b, None: Option[Double]) } // c3 all-null
      val df = rows.toDF("c1", "c2", "c3").repartition(3)
      val out = Profiler.quantiles(df, Seq("c1", "c2", "c3"), probs,
        exact = true).collect()
      out.map(_.getString(0)) shouldBe Array("c1", "c2", "c3")
      val byCol = Seq(rows.flatMap(_._1), rows.flatMap(_._2), rows.flatMap(_._3))
      out.zip(byCol).foreach { case (row, vals) =>
        probs.zipWithIndex.foreach { case (p, i) =>
          withClue(s"col=${row.getString(0)} p=$p n=${vals.size}: ") {
            row.get(i + 1) shouldBe model(vals, p)
          }
        }
      }
    }
  }

  // ---- PQ kernels -----------------------------------------------------

  /** Scala model of PqEncode/PqLut: VectorDot semantics over the slice
    * window (min-length, null elements skipped), half-norms in index
    * order, argmax ties to the higher codeword id.
    */
  private def mSubDot(v: Seq[Option[Float]], base: Int, cw: Array[Double]): Double = {
    val lim = math.min(cw.length, v.size - base)
    var s = 0.0; var i = 0
    while (i < lim) {
      v(base + i).foreach(x => s += x.toDouble * cw(i))
      i += 1
    }
    s
  }

  "pq_encode and pq_lut" should
      "agree across codegen, interpreted eval, and the Scala model" in {
    val cbRng = new scala.util.Random(7)
    (1 to trials).foreach { t =>
      val m = 1 + t % 3
      val k = 2 + t
      val sub = 1 + t % 4
      val cws: Seq[Seq[Array[Double]]] = Seq.tabulate(m)(_ =>
        Seq.fill(k)(Array.fill(sub)(cbRng.nextDouble() * 4 - 2)))
      val rows = sample(vecGen, 40).zipWithIndex.map { case (v, i) => (i, v) }
      val df = rows.toDF("id", "v")
      def run(): Seq[(Int, Seq[Int], Seq[Double])] = df.select(col("id"),
          graft.functions.PqExpressions.pq_encode(col("v"), cws).as("codes"),
          graft.functions.PqExpressions.pq_lut(col("v"), cws).as("lut"))
        .orderBy("id").as[(Int, Seq[Int], Seq[Double])].collect().toSeq
      val gen = codegenOnly(run())
      val interp = interpreted(run())
      gen shouldBe interp
      gen.zip(rows).foreach { case ((_, codes, lut), (_, v)) =>
        withClue(s"m=$m k=$k sub=$sub v=$v: ") {
          val mLut = for (s <- 0 until m; j <- 0 until k)
            yield mSubDot(v, s * sub, cws(s)(j))
          lut shouldBe mLut
          val mCodes = (0 until m).map { s =>
            var best = Double.NegativeInfinity; var bj = -1
            (0 until k).foreach { j =>
              val sc = mSubDot(v, s * sub, cws(s)(j)) -
                cws(s)(j).map(x => x * x).sum / 2
              if (sc >= best) { best = sc; bj = j }
            }
            bj
          }
          codes shouldBe mCodes
        }
      }
    }
  }
}

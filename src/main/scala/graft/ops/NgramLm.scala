package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based bigram language model — train on the corpus, score each
  * document by average log-likelihood under add-one smoothing (Jurafsky &
  * Martin ch. 3; the KenLM-style data-quality signal: fluent text scores
  * high, boilerplate/garbage scores low, and the score is a standard
  * curation filter alongside [[TextStats]] heuristics).
  *
  * Scale shape: training is two groupBy-counts over the exploded bigram
  * stream (map-side partial aggregation collapses the token skew);
  * scoring joins the doc-bigram stream to the count tables on the
  * token keys — co-keyed shuffle joins, no broadcast assumption (a
  * 100 TB corpus's bigram table is itself huge). The vocabulary size is
  * a single in-plan broadcast scalar.
  *
  * Engine-portable scoring: each bigram term ln((c(w1,w2)+1)/(c(w1)+V))
  * is computed as `floor(1e9·(ln(cb+1) − ln(cu+V)) + 0.5)` — an integer
  * "nano-nats" value. Per-doc totals are then BIGINT sums: exact,
  * associative, partition-order-independent, and identical in the SQL
  * oracle (a raw double sum would be partial-agg-order dependent — the
  * skill-documented FP-aggregate hazard). The only FP steps (ln of an
  * integer, one multiply, one floor) are deterministic per-value in any
  * IEEE engine.
  */
object NgramLm {

  /** Nano-nat scale for integer log-likelihood terms. */
  val LnScale: Double = 1e9

  /** (idCol, keep..., w1, w2): the document bigram stream (normalized
    * tokens, adjacent pairs in order; documents with <2 tokens emit
    * nothing). `keep` columns ride along untouched (e.g. an event-time
    * column for the streaming scorer).
    */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String,
                 keep: Seq[String] = Nil): DataFrame = {
    val ts = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val pairs = zip_with(
      slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // spread BEFORE the tokenize+explode: a small single-split input
    // otherwise runs the whole per-row-expensive stream on one task
    // (round-19 finding — every sf table is one parquet row group, so the
    // scan stage is serial); no-op on already-split inputs and on
    // streaming frames (no file leaves)
    // .distinct: keep may name textCol (a caller scoring the text column
    // it also carries) — a duplicated column would make the later
    // col(textCol) reference ambiguous (round-19 advice)
    Partitioning.spread(
        docs.select((idCol +: keep :+ textCol).distinct.map(col): _*))
      .select(col(idCol) +: keep.map(col) :+ explode(pairs).as("p"): _*)
      .select(col(idCol) +: keep.map(col) :+ col("p.w1").as("w1")
        :+ col("p.w2").as("w2"): _*)
  }

  /** [[docBigrams]] with an END-OF-DOCUMENT SENTINEL: each document with
    * n >= 1 tokens emits n rows — the n-1 adjacent pairs plus (lastToken,
    * null) — so EVERY token occurrence appears as `w1` exactly once.
    * That makes `groupBy(w1, w2).count` a SINGLE corpus pass from which
    * both the token frequencies (sum of counts per w1 — exact, the
    * sentinel restores the last occurrence the pair stream drops) and
    * the adjacency set (rows with w2 non-null) derive — the one-pass
    * shape [[TextRank]] builds on.
    */
  def docBigramsWithEnd(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val ts = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val shifted = concat(
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      array(lit(null).cast("string")))
    val pairs = zip_with(ts, shifted, (a, b) => struct(a.as("w1"), b.as("w2")))
    // zero-token docs must emit NOTHING: zip_with pads the shorter side
    // with null, so an empty ts against [null] would fabricate a
    // (null, null) row — explode(null) drops the doc instead
    Partitioning.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(when(size(ts) > lit(0), pairs)).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** A trained bigram model: the three static frames scoring joins
    * against. `vocab` is a single-row (v: BIGINT) frame — kept in-plan
    * (broadcast), never a driver scalar.
    */
  final case class Model(bigrams: DataFrame, contexts: DataFrame,
                         vocab: DataFrame)

  /** Train on a corpus: bigram counts, context counts, |vocab|. */
  def train(docs: DataFrame, textCol: String): Model = {
    val ts = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val pairs = zip_with(
      slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val spreadDocs = Partitioning.spread(docs.select(col(textCol)))
    val big = spreadDocs.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // contexts derive from the bigram table (sum-of-counts identity, same
    // as [[collocations]]' marginals): one corpus pass + AQE exchange
    // reuse instead of two independent tokenize+explode passes (round-20)
    val bigrams = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    Model(
      bigrams = bigrams,
      contexts = bigrams.groupBy("w1").agg(sum("cb").as("cu")),
      vocab = spreadDocs.select(explode(ts).as("w"))
        .agg(count_distinct(col("w")).as("v")))
  }

  /** Pointwise mutual information over adjacent pairs (Church & Hanks
    * 1990): PMI(a,b) = ln( P(a,b) / (P1(a)·P2(b)) ) with the left/right
    * positional marginals, in integer nano-nats — the collocation miner
    * (multi-word expressions, named entities, tokenizer-merge candidates
    * beyond raw frequency). `minCount` drops the unstable low-frequency
    * tail BEFORE ranking (rare pairs otherwise own the top by pure
    * sparsity); the filter is on aggregated attributes, no recompute.
    *
    * Returns (w1, w2, n_pair, pmi_scaled) — top `topN` by PMI desc with
    * lexicographic tie-break. Two groupBy-counts plus two co-keyed joins;
    * TakeOrdered bounds the output.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
                   topN: Int = 100): DataFrame = {
    val ts = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val pairs = zip_with(
      slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // NOT spread (round-19 floor-farm A/B: the four aggregate subtrees
    // each re-pay the repartition exchange, floor 0.885 -> 1.097 s —
    // the parallel-redundant original is the measured optimum here)
    val big = docs.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    // marginals deliberately RE-SCAN the pair stream instead of deriving
    // from cb (sum-of-counts identity, tried round-20): the four corpus
    // passes are INDEPENDENT AQE stages submitted in one concurrent wave,
    // while deriving serializes cl/cr/n behind cb's materialization —
    // measured 0.66 -> 0.93 s, jobs 9 -> 12 (same-window A/B,
    // OPTIMIZATION_r20.md "NgramLm marginal derivation"). The
    // parallel-redundant form stays the local optimum here, the same
    // wave-vs-work verdict as the round-19 spread rejection above.
    // (avgLogProb keeps the derived form: its wall was flat and it drops
    // a corpus-scale tokenize pass — the 100 TB-side of the trade.)
    val cl = big.groupBy("w1").agg(count(lit(1)).as("n_left"))
    val cr = big.groupBy("w2").agg(count(lit(1)).as("n_right"))
    val n = big.agg(count(lit(1)).as("n_total"))
    cb.filter(col("n_pair") >= minCount)
      .join(cl, Seq("w1")).join(cr, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pair"),
        floor(lit(LnScale) *
          (log(col("n_pair")) + log(col("n_total"))
            - log(col("n_left")) - log(col("n_right"))) + 0.5)
          .cast("long").as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
  }

  /** Attach the integer nano-nat term to a (w1, w2, ...) bigram frame
    * under `model`, OOV-safe: unseen bigrams/contexts count 0, so a fully
    * unseen pair scores ln(1/V) — the add-one floor. Left stream-static
    * joins keep this usable from Structured Streaming.
    */
  def withTermScaled(big: DataFrame, model: Model): DataFrame =
    big.join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.contexts, Seq("w1"), "left")
      .withColumn("__one", lit(1))
      .join(broadcast(model.vocab.withColumn("__one", lit(1))), "__one")
      .withColumn("t", termScaled(coalesce(col("cb"), lit(0L)),
        coalesce(col("cu"), lit(0L)), col("v")))
      .drop("__one", "cb", "cu", "v")

  /** Integer nano-nat term for one bigram occurrence. */
  private def termScaled(cb: Column, cu: Column, vocab: Column): Column =
    floor(lit(LnScale) * (log(cb + 1) - log(cu + vocab)) + 0.5).cast("long")

  /** Per-document add-one-smoothed bigram log-likelihood, self-trained on
    * the same corpus: (idCol, n_bigrams, ll_scaled, avg_ll) where
    * ll_scaled is the exact BIGINT nano-nat sum and avg_ll =
    * round(ll_scaled / n / 1e9, 6) nats per bigram. Documents with <2
    * tokens are absent (no bigrams to score).
    */
  def avgLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val big = docBigrams(docs, idCol, textCol)
    val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // cu derives from cb (sum-of-counts identity): the scoring stream is
    // the only other corpus-scale pass left — 3 tokenize+explode passes
    // drop to 2, with cb's exchange AQE-reused by the cu subtree (round-20)
    val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
    // |vocab| over the full token stream (w1 ∪ final tokens): one
    // single-row broadcast, not a driver scalar
    val ts = filter(TextDedup.tokens(col(textCol)), t => t =!= "")
    val vocab = Partitioning.spread(docs.select(col(textCol)))
      .select(explode(ts).as("w")).agg(
      count_distinct(col("w")).as("v"))
    big.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        termScaled(col("cb"), col("cu"), col("v")).as("t"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("t").as("ll_scaled"))
      .withColumn("avg_ll",
        round(col("ll_scaled").cast("double") / col("n_bigrams") / LnScale, 6))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.ops._




/** The Dedup tier of the extension-query registry —
  * split from the monolithic Qext.scala (round-17 verdict item 7, pure
  * mechanical move: bodies unchanged). [[Qext]] composes the tiers; see
  * its scaladoc for the registry/oracle policy.
  */
private[queries] trait QextDedupTier { this: QextBase =>


  // ------------------------------------------------------------ dedup

  /** Exact content-hash dedup: keep smallest doc_id per normalized-text md5. */
  def qExtDedupExact(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedupAsc(t(spark, dir, "documents"), "text", Seq("doc_id"))
      .select(col("doc_id"), col("__content_hash").as("content_hash"))
      .orderBy("doc_id")


  private def minhashStore(spark: SparkSession, dir: String): DataFrame = {
    sigStoreCleanup // register the hook once, before the first store exists
    val path = sigStores.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-sigstore-")
      TextDedup.minhashPrepare(t(spark, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 64)
        .write.mode("overwrite").parquet(p.toString)
      p.toString
    })
    // memoized resolution (round-20): the store is write-once per (JVM,
    // dir) by the computeIfAbsent above — re-resolving cost ~90 ms of
    // driver time per query build (OPTIMIZATION_r20.md, "Table resolution
    // memo")
    graft.io.Sources.pathTable(spark, path)
  }


  /** MinHash+LSH near-dup pairs over the stored signature table (the warm
    * ingest-then-query path; [[minhashStore]]). Oracle = exact all-pairs
    * Jaccard: valid because LSH candidates are verified with exact Jaccard
    * (no false positives) and recall on this corpus is effectively 1 —
    * every qualifying pair measures J >= 0.9, so the 16x4 banding miss
    * probability is (1 - 0.9^4)^16 < 4e-8 per pair. That data-dependent
    * property is ASSERTED (not assumed) by OracleAssumptionsSpec against
    * the sf0.01 corpus via the deterministic-complete prefix-filter
    * operator — a regenerated corpus with pairs in the LSH-unreliable
    * (0.5, 0.9) band fails there with the reason, not here with a hash.
    */
  def qExtDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairsFromPrepared(minhashStore(spark, dir), "doc_id",
        bands = 16, rowsPerBand = 4, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")


  /** SimHash near-dup pairs under the portable md5 hash family: quarter
    * blocking is deterministic-complete for Hamming <= 3 (pigeonhole), and
    * md5 fingerprints are bit-identical in DuckDB — exact all-pairs oracle.
    */
  def qExtDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashNearDups(t(spark, dir, "documents"), "doc_id", "text",
        maxHamming = 3, portable = true)
      .orderBy("id_a", "id_b")


  /** Exact n-gram Jaccard pairs via prefix filtering — deterministic
    * complete recall, so the exact all-pairs SQL is a true oracle.
    */
  def qExtDedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.ngramJaccardPairs(
        t(spark, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")


  /** Exact embedding-cosine near-dup pairs on a bounded probe set — the
    * oracle-checkable baseline for [[Similarity.cosineNearDups]].
    */
  def qExtDedupEmbedCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val a = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("id_a"), col("embedding").as("__va"))
    // single-file input → spread candidates across cores for the scoring pass
    val b = Partitioning.spread(e)
      .select(col("vec_id").as("id_b"), col("embedding").as("__vb"))
    b.crossJoin(broadcast(a))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("score") >= 0.4)
      .select("id_a", "id_b", "score")
      .orderBy("id_a", "id_b")
  }


  /** Duplicate-group resolution ([[DedupGroups.resolveFromPairs]]):
    * MinHash-LSH near-dup pairs from the stored signature table
    * ([[minhashStore]] — same store q_ext_dedup_minhash queries) →
    * connected components (alternating large-star/small-star, Kiveris et
    * al. SoCC'14) → canonical keeper per group.
    * Oracle = recursive CTE over the EXACT all-pairs SQL — valid because
    * LSH recall is 1 on this corpus (no qualifying pair below J=0.9,
    * asserted by OracleAssumptionsSpec), so LSH and exact pairs induce the
    * same components.
    */
  def qExtDedupGroups(spark: SparkSession, dir: String): DataFrame =
    DedupGroups.resolveFromPairs(t(spark, dir, "documents"), "doc_id",
        TextDedup.minhashPairsFromPrepared(minhashStore(spark, dir), "doc_id",
          bands = 16, rowsPerBand = 4, threshold = 0.5))
      .orderBy("doc_id")


  /** Benchmark decontamination ([[Decontaminate.tag]]): the deterministic
    * test split ([[Sampling.trainValTestSplit]]) acts as the benchmark;
    * train documents sharing any trigram shingle with it are flagged. The
    * end-to-end shape of eval-leak scrubbing in a training pipeline.
    */
  def qExtDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val split = Sampling.trainValTestSplit(
      t(spark, dir, "documents"), "doc_id",
      testPct = 10, valPct = 10, salt = "corpus_v1")
    val bench = split.filter(col("split") === "test")
    val train = split.filter(col("split") === "train")
    Decontaminate.tag(train, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id", "n_contaminated", "contaminated")
      .orderBy("doc_id")
  }


  /** [[qExtDecontaminate]] through the Bloom semi-join reducer
    * ([[Decontaminate.tagBloom]] / [[graft.ops.Bloom]]) — the scale path
    * for benchmark sets beyond broadcast: sketch prefilter scan-side, exact
    * shuffle-hash confirm of the sliver. Same split, same output columns,
    * same oracle as the broadcast form — the result is EXACT by
    * construction (false positives die in the confirm join), which is
    * precisely what the shared oracle checks.
    */
  def qExtBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val split = Sampling.trainValTestSplit(
      t(spark, dir, "documents"), "doc_id",
      testPct = 10, valPct = 10, salt = "corpus_v1")
    val bench = split.filter(col("split") === "test")
    val train = split.filter(col("split") === "train")
    Decontaminate.tagBloom(train, "doc_id", "text", bench, "text", n = 3)
      .select("doc_id", "n_contaminated", "contaminated")
      .orderBy("doc_id")
  }


  /** Overlapping token-window chunking ([[Chunker.chunk]]): 32-token
    * windows every 24 tokens (8-token overlap) over the documents table —
    * the RAG/training context-window preparation step. (doc_id, chunk_idx)
    * is unique, so the full output order is deterministic.
    */
  def qExtChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Chunker.chunk(t(spark, dir, "documents"), "doc_id", "text",
        width = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")


  /** End-to-end corpus preparation ([[graft.pipelines.CorpusPrep.stages]]):
    * dedup → quality → decontaminate → token-budget → chunk as ONE checked
    * query, over the same deterministic corpus_v1 split as
    * [[qExtDecontaminate]] (b < 10 = benchmark, b >= 20 = train). Every
    * stage already has its own oracle-checked query; this one pins the
    * COMPOSITION — stage order, column plumbing, and the config the stages
    * see — against a CTE-chained oracle of the same five stages.
    * (doc_id, chunk_idx) is unique, so the output order is total.
    *
    * shingleN = 5 (not the decontaminate query's adversarial 3): the
    * synthetic corpus is ~97% 3-gram-contaminated against its own split,
    * which would shrink the surviving pipeline to a handful of docs; at
    * 5-grams contamination is real but rare (7/389 docs at sf0.01), so
    * every later stage still processes a meaningful corpus.
    */
  def qExtCorpusPrep(spark: SparkSession, dir: String): DataFrame = {
    val split = Sampling.trainValTestSplit(
      t(spark, dir, "documents"), "doc_id",
      testPct = 10, valPct = 10, salt = "corpus_v1")
    val bench = split.filter(col("split") === "test")
    val train = split.filter(col("split") === "train")
    graft.pipelines.CorpusPrep.stages(train, bench,
        graft.pipelines.CorpusPrep.Config(shingleN = 5,
          budgetByGroup = Map("src1" -> 5000L), defaultBudget = 2000L))
      .chunks
      .orderBy("doc_id", "chunk_idx")
  }


  /** C4-style line-level dedup ([[LineDedup.dedupLines]]): drop lines shared
    * by >= 2 documents, rebuild the text, report per-doc line counts. The
    * synthetic corpus carries no newlines, so the query first builds
    * line-structured text deterministically — 4-token non-overlapping chunks
    * ([[graft.functions.ShingleExpressions.chunk_windows]], native: the HOF
    * form re-tokenizes per chunk) joined by '\n' — which the oracle mirrors
    * with list slicing. ~11% of chunk-lines repeat across documents at
    * sf0.01, so the drop path is exercised for real.
    */
  def qExtLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      array_join(
        graft.functions.ShingleExpressions.chunk_windows(
          TextDedup.tokens(col("text")), 4),
        "\n").as("text_lines"))
    LineDedup.dedupLines(docs, "doc_id", "text_lines", minDocs = 2)
      .orderBy("doc_id")
  }


  /** Duplicate-span (exact-substring) removal: cut every repeated 8-token
    * window except its corpus-wide first occurrence ([[SpanDedup]] — the
    * distributed re-expression of Lee et al.'s suffix-array dedup).
    */
  def qExtDedupSpans(spark: SparkSession, dir: String): DataFrame =
    SpanDedup.dedupSpans(t(spark, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id")


  /** Semantic dedup ([[SemDedup.dedup]], SemDeDup-style cluster-then-prune):
    * the fixed-centroid model blocks pairs by nearest-centroid cluster; a
    * row is dropped when a smaller-id same-cluster neighbor has cosine
    * >= 0.4 (the corpus's planted near-dup threshold). Deterministic
    * model + rounded scores → exact SQL oracle for assign→pair→prune.
    */
  def qExtSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val model = ivfFixedModels.computeIfAbsent(dir,
      _ => Ivf.fixedModel(e, "vec_id", "embedding", (0 until 16).map(_ * 31L)))
    SemDedup.dedup(e, "vec_id", "embedding", model, tau = 0.4)
      .orderBy("vec_id")
  }


  /** Generic connected components ([[DedupGroups.resolveFromPairs]] on a
    * non-dedup graph): stride-4 chains segmented per 100-id block, so
    * every component is a 25-node PATH — genuine multi-hop label
    * propagation (the near-clique dedup components converge in 1-2
    * rounds and never exercise it) — and the min-id label is PROVABLY
    * `doc_id div 100 · 100 + doc_id mod 4`: an arithmetic ground truth
    * fully independent of the union-find machinery, like the scd2_asof
    * oracle. (The unsegmented N/4-length rings were measured at 6.1 s —
    * the log-diameter round count is real; 25-hop paths keep the
    * demonstration and the cost proportionate.)
    */
  def qExtComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = docs.filter(col("doc_id") % 100 < 96)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 4).as("id_b"))
    DedupGroups.resolveFromPairs(docs.select("doc_id"), "doc_id", pairs)
      .select(col("doc_id"), col("group_id"))
      .orderBy("doc_id")
  }


  /** Per-source duplication rate: docs, distinct content hashes, and the
    * duplicate fraction per source — the first number a curation
    * dashboard shows per feed (which sources are mostly boilerplate?).
    * Same manufactured shared-boilerplate fixture as
    * [[qExtSourceOverlap]]; one groupBy with a distinct-count, one IEEE
    * division per source.
    */
  def qExtDupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val text2 = when(col("doc_id") % 5 === 0,
      concat(lit("shared boilerplate "), (col("doc_id") % 3).cast("string")))
      .otherwise(col("text"))
    docs.withColumn("text", text2)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(TextDedup.contentHash(col("text"))).as("n_distinct"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }


  /** Exact all-pairs trigram-shingle Jaccard in DuckDB SQL — mirrors
    * TextDedup.shingles/jaccard exactly (distinct word trigrams of the
    * normalized text; whole-text shingle for short docs; double division
    * rounded to 6). The least/greatest size prefilter only discards pairs
    * that provably fail `J >= t` (|intersect| <= min size, |union| >= max).
    */
  private def ngramPairsCtes(docFilter: String, threshold: String): String =
    s"""docs AS (
       |  SELECT doc_id, $normSql AS norm FROM documents $docFilter
       |), tok AS (
       |  SELECT doc_id, string_split(norm, ' ') AS toks, norm FROM docs
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(0, len(toks) - 2),
       |           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
       |      ELSE [norm] END) AS s
       |  FROM tok
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
       |         ELSE len(list_intersect(a.s, b.s))::DOUBLE /
       |              len(list_distinct(list_concat(a.s, b.s)))::DOUBLE END AS j
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND least(len(a.s), len(b.s)) >= $threshold * greatest(len(a.s), len(b.s))
       |)""".stripMargin


  private def ngramJaccardOracleSql(docFilter: String, threshold: String): String =
    s"""WITH ${ngramPairsCtes(docFilter, threshold)}
       |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= $threshold
       |ORDER BY id_a, id_b""".stripMargin


  /** Sub-quadratic exact-pairs CTEs: PPJoin prefix filtering in SQL —
    * under the lexicographic total order, two sets with J >= t share an
    * element within each other's first |S| - ceil(t|S|) + 1 shingles, so
    * the prefix join has complete recall and verification touches
    * candidates only. Independent of the engine's LSH path (different
    * blocking), and unlike the all-pairs form it stays tractable at
    * sf0.1 (the quadratic CTE ran >50 min on 5000 docs; this runs in
    * seconds). Yields the same `pairs` contract as [[ngramPairsCtes]].
    */
  private def ngramPairsPrefixCtes(threshold: String): String =
    s"""docs AS (
       |  SELECT doc_id, $normSql AS norm FROM documents
       |), tok AS (
       |  SELECT doc_id, string_split(norm, ' ') AS toks, norm FROM docs
       |), sh AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(0, len(toks) - 2),
       |           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
       |      ELSE [norm] END)) AS s
       |  FROM tok
       |), pref AS (
       |  SELECT doc_id,
       |    unnest(s[1 : CAST(len(s) - ceil($threshold * len(s)) + 1 AS BIGINT)]) AS p
       |  FROM sh
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pref a JOIN pref b USING (p) WHERE a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    CASE WHEN len(list_distinct(list_concat(x.s, y.s))) = 0 THEN 0.0
       |         ELSE len(list_intersect(x.s, y.s))::DOUBLE /
       |              len(list_distinct(list_concat(x.s, y.s)))::DOUBLE END AS j
       |  FROM cand JOIN sh x ON x.doc_id = cand.id_a
       |            JOIN sh y ON y.doc_id = cand.id_b
       |)""".stripMargin


  /** Connected components of the exact near-dup pairs as a recursive CTE:
    * every doc's label set = ids reachable over qualifying edges; min per
    * doc = the component's smallest id (mirrors DedupGroups min-label
    * propagation at fixpoint).
    */
  private def dedupGroupsOracleSql: String =
    s"""WITH RECURSIVE ${ngramPairsPrefixCtes("0.5")},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs WHERE j >= 0.5
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs WHERE j >= 0.5
       |), reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
       |)
       |SELECT id AS doc_id, min(lbl) AS group_id,
       |       id = min(lbl) AS keep
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin


  /** Decontamination oracle: md5-bucket split (Sampling formula), distinct
    * trigram shingles of the test docs as the benchmark set, train docs
    * counted by distinct shared shingles.
    */
  private def decontaminateOracleSql: String =
    s"""WITH split AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5('corpus_v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, b,
       |    list_distinct(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(0, len(toks) - 2),
       |           i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
       |      ELSE [norm] END) AS s
       |  FROM (SELECT doc_id, b, $normSql AS norm,
       |               string_split($normSql, ' ') AS toks FROM split)
       |), bench AS (
       |  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE b < 10
       |), train_sh AS (
       |  SELECT doc_id, unnest(s) AS shingle FROM sh WHERE b >= 20
       |), m AS (
       |  SELECT doc_id, count(*) AS n FROM train_sh
       |  JOIN bench USING (shingle) GROUP BY doc_id
       |)
       |SELECT t.doc_id, coalesce(m.n, 0)::BIGINT AS n_contaminated,
       |       coalesce(m.n, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM split WHERE b >= 20) t
       |LEFT JOIN m USING (doc_id) ORDER BY t.doc_id""".stripMargin

  private[queries] lazy val dedupTierQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ext_dedup_exact" -> (qExtDedupExact _),
    "q_ext_dedup_minhash" -> (qExtDedupMinhash _),
    "q_ext_dedup_simhash" -> (qExtDedupSimhash _),
    "q_ext_dedup_ngram_jaccard" -> (qExtDedupNgramJaccard _),
    "q_ext_dedup_embed_cosine" -> (qExtDedupEmbedCosine _),
    "q_ext_semdedup" -> (qExtSemdedup _),
    "q_ext_dedup_groups" -> (qExtDedupGroups _),
    "q_ext_decontaminate" -> (qExtDecontaminate _),
    "q_ext_bloom_decontaminate" -> (qExtBloomDecontaminate _),
    "q_ext_chunk_overlap" -> (qExtChunkOverlap _),
    "q_ext_corpus_prep" -> (qExtCorpusPrep _),
    "q_ext_line_dedup" -> (qExtLineDedup _),
    "q_ext_dedup_spans" -> (qExtDedupSpans _),
    "q_ext_components" -> (qExtComponents _),
    "q_ext_dup_rate_by_source" -> (qExtDupRateBySource _),
  )

  private[queries] lazy val dedupTierOracles: Map[String, String] = Map(
    "q_ext_dedup_groups" -> dedupGroupsOracleSql,
    "q_ext_decontaminate" -> decontaminateOracleSql,

    // Bloom path is exact by construction — identical contract, same oracle
    "q_ext_bloom_decontaminate" -> decontaminateOracleSql,

    // keep iff tokens consumed BEFORE the row < its source's budget
    // (boundary doc included; src1 overridden to 5000)
    "q_ext_chunk_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents
         |), sized AS (
         |  SELECT doc_id, t,
         |    CASE WHEN len(t) <= 32 THEN 1
         |         ELSE 1 + ((len(t) - 32 + 23) // 24) END AS nw
         |  FROM toks
         |), c AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, nw), i -> {'i': i,
         |      'txt': array_to_string(t[i*24 + 1 : i*24 + 32], ' ')})) AS u
         |  FROM sized
         |)
         |SELECT doc_id, u.i AS chunk_idx, u.i * 24 AS start_tok,
         |       len(string_split(u.txt, ' ')) AS n_tokens,
         |       u.txt AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Composition oracle for qExtCorpusPrep: the five stage CTEs are the
    // per-stage oracles chained — corpus_v1 split + 3-gram bench shingles
    // (decontaminateOracleSql), keep-first md5 dedup (q_ext_dedup_exact),
    // the quality CASE (q_ext_quality_filter), token-budget window
    // (q_ext_budget_per_source, on token counts with src1=5000/2000), and
    // the 32/24 strided windows (q_ext_chunk_overlap).
    "q_ext_corpus_prep" ->
      s"""WITH split AS (
         |  SELECT doc_id, source, text,
         |    ('0x' || substr(md5('corpus_v1' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
         |  FROM documents
         |), train AS (
         |  SELECT doc_id, source, text, $normSql AS norm FROM split WHERE b >= 20
         |), benchsh AS (
         |  SELECT DISTINCT unnest(s) AS shingle FROM (
         |    SELECT list_distinct(CASE WHEN len(toks) >= 5
         |      THEN list_transform(range(0, len(toks) - 4),
         |           i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))
         |      ELSE [norm] END) AS s
         |    FROM (SELECT $normSql AS norm, string_split($normSql, ' ') AS toks
         |          FROM split WHERE b < 10))
         |), deduped AS (
         |  SELECT doc_id, source, text, norm FROM (
         |    SELECT doc_id, source, text, norm,
         |           row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
         |    FROM train)
         |  WHERE rn = 1
         |), quality AS (
         |  SELECT doc_id, source, norm FROM deduped
         |  WHERE (CASE WHEN len(str_split(norm, ' ')) < 5 THEN 'r'
         |         WHEN len(str_split(norm, ' ')) > 100000 THEN 'r'
         |         WHEN length(regexp_replace(norm, ' ', '', 'g'))::DOUBLE
         |              / len(str_split(norm, ' ')) < 2.0 THEN 'r'
         |         WHEN length(regexp_replace(norm, ' ', '', 'g'))::DOUBLE
         |              / len(str_split(norm, ' ')) > 12.0 THEN 'r'
         |         WHEN len(regexp_extract_all(text, '[.,;:!?''"()]'))::DOUBLE
         |              / length(text) > 0.25 THEN 'r'
         |         WHEN len(regexp_extract_all(lower(text),
         |           '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
         |              / len(str_split(norm, ' ')) < 0.01 THEN 'r'
         |         ELSE NULL END) IS NULL
         |), contaminated AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
         |      THEN list_transform(range(0, len(toks) - 4),
         |           i -> array_to_string(list_slice(toks, i + 1, i + 5), ' '))
         |      ELSE [norm] END)) AS shingle
         |    FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks
         |          FROM quality)) q
         |  JOIN benchsh USING (shingle)
         |), cum AS (
         |  SELECT doc_id, norm, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source
         |                          ORDER BY n_tok DESC, doc_id ASC
         |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |    CASE WHEN source = 'src1' THEN 5000 ELSE 2000 END AS budget
         |  FROM (
         |    SELECT q.doc_id, q.source, q.norm,
         |           len(str_split(q.norm, ' ')) AS n_tok
         |    FROM quality q
         |    WHERE NOT EXISTS (SELECT 1 FROM contaminated c
         |                      WHERE c.doc_id = q.doc_id))
         |), toks AS (
         |  SELECT doc_id, string_split(norm, ' ') AS t FROM cum
         |  WHERE cum_tokens - n_tok < budget
         |), sized AS (
         |  SELECT doc_id, t,
         |    CASE WHEN len(t) <= 32 THEN 1
         |         ELSE 1 + ((len(t) - 32 + 23) // 24) END AS nw
         |  FROM toks
         |), chunks AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, nw), i -> {'i': i,
         |      'txt': array_to_string(t[i*24 + 1 : i*24 + 32], ' ')})) AS u
         |  FROM sized
         |)
         |SELECT doc_id, u.i AS chunk_idx, u.i * 24 AS start_tok,
         |       len(string_split(u.txt, ' ')) AS n_tokens,
         |       u.txt AS chunk_text
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    // Mirrors qExtLineDedup: 4-token chunk "lines" (list slicing = the
    // native chunk_windows), boilerplate = non-blank lines in >= 2 distinct
    // docs, rebuild in position order. string_agg skips the dropped-line
    // NULLs; coalesce covers an all-lines-dropped doc (Spark emits '').
    "q_ext_line_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents
         |), chunked AS (
         |  SELECT doc_id,
         |         list_transform(range(0, CAST(ceil(len(t) / 4.0) AS BIGINT)),
         |           i -> {'pos': i, 'line': array_to_string(t[i*4+1 : i*4+4], ' ')}) AS c
         |  FROM toks
         |), lines AS (
         |  SELECT doc_id, u.pos AS pos, u.line AS line
         |  FROM (SELECT doc_id, unnest(c) AS u FROM chunked)
         |), boiler AS (
         |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines WHERE line <> '')
         |  GROUP BY line HAVING count(*) >= 2
         |), flagged AS (
         |  SELECT l.doc_id, l.pos, l.line, (b.line IS NOT NULL) AS dropped
         |  FROM lines l LEFT JOIN boiler b ON l.line = b.line
         |)
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
         |                      chr(10) ORDER BY pos), '') AS text_clean,
         |  count(*) AS n_lines,
         |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors qExtDedupSpans: strict 8-token windows, a window repeated
    // >= 2 times corpus-wide is a duplicate span, every occurrence except
    // the (doc_id, gpos)-minimum is cut (position-union over overlaps).
    // The oracle matches on the raw gram STRING where the engine matches
    // on its md5 — identical output short of an md5 collision. Parallel
    // select-list unnests zip in DuckDB (tok with its position).
    "q_ext_dedup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS t FROM documents
         |), pos AS (
         |  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 7, 0))) AS i FROM toks
         |), occ AS (
         |  SELECT doc_id, i AS gpos, array_to_string(t[i+1 : i+8], ' ') AS g FROM pos
         |), st AS (
         |  SELECT doc_id, gpos,
         |         count(*) OVER (PARTITION BY g) AS n,
         |         row_number() OVER (PARTITION BY g ORDER BY doc_id, gpos) AS rn
         |  FROM occ
         |), covered AS (
         |  SELECT DISTINCT doc_id, gpos + d AS tp
         |  FROM st, range(8) o(d) WHERE n >= 2 AND rn > 1
         |), tokrows AS (
         |  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS tp FROM toks
         |), flagged AS (
         |  SELECT r.doc_id, r.tp, r.tok, (c.tp IS NOT NULL) AS cut
         |  FROM tokrows r LEFT JOIN covered c ON r.doc_id = c.doc_id AND r.tp = c.tp
         |)
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN NOT cut THEN tok END, ' ' ORDER BY tp), '') AS text_spandedup,
         |  count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ext_dedup_exact" ->
      s"""WITH hashed AS (
         |  SELECT doc_id, md5($normSql) AS content_hash FROM documents
         |), ranked AS (
         |  SELECT doc_id, content_hash,
         |         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
         |  FROM hashed
         |)
         |SELECT doc_id, content_hash FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // A third, from-scratch implementation of the NORMATIVE greedy LZ77
    // (LzExpressions scaladoc, every constant part of the definition):
    // a recursive CTE advancing each doc's parse position one step per
    // iteration. The candidate set at position i is the nearest 128
    // positions j < i in a 32768-char window whose 4-char prefix matches
    // (range ascending -> slice keeps the LAST 128 = nearest); the match
    // length is 4 + chars-before-first-mismatch via a list lambda
    // (nullif guards DuckDB's 0-for-absent list_position). Only bestLen
    // is observable in the cost model (24-bit match / 9-bit literal), so
    // the engine's tie-to-nearest rule needs no SQL counterpart. Chars
    // stand in for the normative UTF-8 bytes — valid because the corpus
    // is ASCII (OracleAssumptionsSpec asserts it). The final division is
    // a single IEEE op on exact integers, identical in both engines.
    "q_ext_dedup_minhash" ->
      s"""WITH ${ngramPairsPrefixCtes("0.5")}
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q_ext_dedup_ngram_jaccard" ->
      ngramJaccardOracleSql(docFilter = "WHERE doc_id < 500", threshold = "0.5"),

    // Same 60-bit md5 simhash as TextDedup.simhash60: per-bit +-1 votes over
    // the token multiset, sign -> bit. Candidates via 15-bit quarter
    // blocking (pigeonhole-complete for Hamming <= 3, the engine's own
    // argument applied SQL-side) instead of all-pairs — identical output,
    // tractable at sf0.1 where the quadratic form was not.
    "q_ext_dedup_simhash" ->
      s"""WITH docs AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
         |), th AS (
         |  SELECT doc_id,
         |         unnest(list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
         |  FROM docs
         |), votes AS (
         |  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, range(60) bt(bit)
         |  GROUP BY doc_id, bit
         |), fp AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sim
         |  FROM votes GROUP BY doc_id
         |), quart AS (
         |  SELECT doc_id, sim, q, (sim >> (q * 15)) & 32767 AS qv
         |  FROM fp, range(4) t(q)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sim AS sa, b.sim AS sb
         |  FROM quart a JOIN quart b ON a.q = b.q AND a.qv = b.qv
         |  WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_ext_dedup_embed_cosine" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(CASE WHEN sqrt(list_dot_product(a.emb, a.emb))
        |                         * sqrt(list_dot_product(b.emb, b.emb)) = 0 THEN 0
        |               ELSE list_dot_product(a.emb, b.emb)
        |                    / (sqrt(list_dot_product(a.emb, a.emb))
        |                       * sqrt(list_dot_product(b.emb, b.emb))) END, 6) AS score
        |  FROM v a, v b WHERE a.vec_id < 100 AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, score FROM pairs WHERE score >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ext_semdedup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |cents AS (
        |  SELECT (vec_id // 31)::INT AS cid, emb FROM v
        |  WHERE vec_id % 31 = 0 AND vec_id < 496
        |), vc AS (
        |  SELECT v.vec_id, c.cid,
        |         CASE WHEN sqrt(list_dot_product(v.emb, v.emb))
        |                   * sqrt(list_dot_product(c.emb, c.emb)) = 0 THEN 0
        |         ELSE list_dot_product(v.emb, c.emb)
        |              / (sqrt(list_dot_product(v.emb, v.emb))
        |                 * sqrt(list_dot_product(c.emb, c.emb))) END AS s
        |  FROM v, cents c
        |), assigned AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
        |    FROM vc) WHERE rn = 1
        |), dup AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE round(CASE WHEN sqrt(list_dot_product(va.emb, va.emb))
        |                        * sqrt(list_dot_product(vb.emb, vb.emb)) = 0 THEN 0
        |              ELSE list_dot_product(va.emb, vb.emb)
        |                   / (sqrt(list_dot_product(va.emb, va.emb))
        |                      * sqrt(list_dot_product(vb.emb, vb.emb))) END, 6) >= 0.4
        |)
        |SELECT a.vec_id, a.cluster FROM assigned a
        |WHERE a.vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY a.vec_id""".stripMargin,

    "q_ext_dup_rate_by_source" ->
      s"""WITH d AS (
         |  SELECT source,
         |         CASE WHEN doc_id % 5 = 0
         |              THEN 'shared boilerplate ' || (doc_id % 3)
         |              ELSE text END AS text
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       count(DISTINCT md5($normSql))::BIGINT AS n_distinct,
         |       (count(*) - count(DISTINCT md5($normSql)))::BIGINT AS n_dup_docs,
         |       round((count(*) - count(DISTINCT md5($normSql)))::DOUBLE
         |             / count(*), 6) AS dup_rate
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // Arithmetic ground truth, independent of the union-find machinery:
    // each block-segmented stride-4 path's minimum id is its block base
    // plus the residue.
    "q_ext_components" ->
      """SELECT doc_id, (doc_id // 100) * 100 + doc_id % 4 AS group_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // lead() over the same unique (ts_us, event_id) per-user order;
    // probability is one IEEE division of exact integers per row.
  )
}

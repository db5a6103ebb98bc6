package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines (SURVEY §7.8): exact
  * content-hash dedup, MinHash+LSH near-dup, SimHash near-dup, and n-gram
  * Jaccard — all as Spark-native column expressions + relational plans; no
  * driver-side loops, no O(n²) full cross product.
  *
  * Scale posture: exact dedup is one hash-partition shuffle on the content
  * hash. MinHash-LSH is the scale path for near-dup: signatures are computed
  * map-side per document, the bucket join explodes each doc into `bands` rows
  * (a constant factor), and only same-bucket pairs are compared — candidate
  * count is driven by collision rate, not n². Verification Jaccard runs on
  * the candidate pairs only.
  *
  * Cache lifecycle: the near-dup operators persist their signature tables
  * (load-bearing — see minhashNearDups) and hand back a lazy frame, so they
  * cannot unpersist for you. Long-lived sessions issuing many near-dup jobs
  * should call `spark.catalog.clearCache()` (or unpersist via
  * `spark.sharedState.cacheManager`) between jobs; MEMORY_AND_DISK makes a
  * forgotten cache spill rather than OOM.
  */
object TextDedup {

  /** Canonical text form: lowercase, whitespace collapsed, trimmed. */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /** Deterministic content hash of the normalized text (md5 hex — matches
    * DuckDB's md5() for oracle checks).
    */
  def contentHash(c: Column): Column = md5(normalizeText(c))

  /** Exact dedup: keep the first document per content hash under the explicit
    * tie-break order (one shuffle on the hash).
    */
  def exactDedup(df: DataFrame, textCol: String, tieBreak: Seq[Column]): DataFrame =
    Dedup.keepFirst(
      df.withColumn("__content_hash", contentHash(col(textCol))),
      keys = Seq("__content_hash"), order = tieBreak)

  /** Cross-source duplicate-overlap matrix: for every unordered source
    * pair (a < b), how many distinct content hashes occur in BOTH — the
    * corpus-mixing diagnostic (how much of source B is already in source
    * A decides whether adding B buys new mass or re-weights old mass).
    *
    * Join-free: one shuffle groups hashes, `collect_set(source)` is
    * bounded by the source-catalog cardinality (tens, not corpus-scale —
    * for per-DOMAIN overlap at web scale, cap or bucket the set
    * upstream), and the sorted set explodes into its unordered pairs
    * in-plan. A hash self-join would shuffle the corpus twice and melt
    * on duplicate-heavy hashes.
    */
  def sourceOverlap(docs: DataFrame, sourceCol: String,
                    hashOf: Column): DataFrame = {
    val sets = docs.select(hashOf.as("__h"), col(sourceCol).as("__src"))
      .distinct()
      .groupBy("__h").agg(array_sort(collect_set(col("__src"))).as("__ss"))
      .filter(size(col("__ss")) > 1)
    sets.select(explode(flatten(transform(col("__ss"), (a, i) =>
        transform(
          slice(col("__ss"), i + 2,
            greatest(size(col("__ss")) - (i + 1), lit(0))),
          b => struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[exactDedup]] for ALL-ASCENDING tie-breaks ([[Dedup.keepFirstAsc]]):
    * `min(struct)` partial-aggregates map-side, so the hash exchange
    * carries one candidate per (hash, input partition) instead of every
    * row, and nothing is sorted — the right shape whenever the keep-first
    * order is a plain ascending id (measured 1.6 → 1.0 s on 500k docs at
    * 100×; the win grows with duplicate density).
    */
  def exactDedupAsc(df: DataFrame, textCol: String,
                    tieBreakAsc: Seq[String]): DataFrame =
    Dedup.keepFirstAsc(
      df.withColumn("__content_hash", contentHash(col(textCol))),
      keys = Seq("__content_hash"), orderCols = tieBreakAsc)

  /** Word n-gram shingles. Documents shorter than `n` tokens collapse to a
    * single whole-text shingle so they still participate.
    *
    * Native windowing ([[graft.functions.ShingleExpressions]]): the token
    * array is a regular child evaluated once per row. The HOF form below
    * re-tokenized the document once per SHINGLE (the lambda body embeds the
    * tokens expression) — ~|tokens|× redundant regex work, interpreted.
    * Null text still yields `[null]` (the old else-branch's value).
    */
  def shingles(c: Column, n: Int): Column =
    when(c.isNull, array(lit(null).cast("string")))
      .otherwise(graft.functions.ShingleExpressions.shingle_windows(tokens(c), n))

  /** The pre-round-7 higher-order-function form — value-identical to
    * [[shingles]] (ShingleExpressionsSpec asserts it on every edge case)
    * and kept as the no-custom-expression reference implementation.
    */
  private[graft] def shinglesHof(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array(normalizeText(c)))
  }

  /** Mersenne prime 2^31-1: the universal-hash modulus (single source:
    * [[graft.functions.MinhashExpressions.MersenneP]]).
    */
  private val MersenneP = graft.functions.MinhashExpressions.MersenneP

  /** MinHash signature: k independent hash functions as linear transforms
    * `a_i * h + b_i` of ONE xxhash64 per shingle (the classic
    * one-hash-then-permute family) — the native Catalyst expression
    * ([[graft.functions.MinhashExpressions.MinhashSignature]]): family
    * constants live in runtime arrays and the generated code is one
    * static call, so the per-JVM Janino compile cost of the unrolled
    * higher-order-function form (~14s monolithic, ~4.5s chunked —
    * SCALE.md) drops to nil, and the warm path is a JIT'd primitive loop.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.MinhashExpressions.minhash_signature(shinglesCol, numHashes)

  /** The pre-round-3 composition of built-in higher-order functions —
    * value-identical to [[minhashSignature]] (MinhashExpressionsSpec
    * asserts it) and kept as the no-custom-expression reference
    * implementation. The k-wide lambda unrolls into generated code, so
    * first use pays seconds of Janino compilation; `chunkSize` bounds the
    * method size (8 measured optimal).
    */
  def minhashSignatureHof(shinglesCol: Column, numHashes: Int,
                          chunkSize: Int = 8): Column = {
    val hashed = transform(shinglesCol, x => pmod(xxhash64(x), lit(MersenneP)))
    val chunks = graft.functions.MinhashExpressions.hashFamily(numHashes)
      .grouped(chunkSize).toSeq.map { group =>
      aggregate(
        hashed,
        array(group.map(_ => lit(Long.MaxValue)): _*),
        (acc, h) => zip_with(acc,
          array(group.map { case (a, b) =>
            pmod(h * lit(a) + lit(b), lit(MersenneP)) }: _*),
          (m, v) => least(m, v)))
    }
    if (chunks.size == 1) chunks.head else concat(chunks: _*)
  }

  /** Exact Jaccard similarity of two string arrays (used to verify LSH
    * candidates; also the direct n-gram Jaccard operator). Native counting
    * expression ([[graft.functions.JaccardExpression]]) — the built-in
    * composition materializes the intersection AND union arrays just to
    * take their sizes; candidate verification is a dominant near-dup cost
    * at scale, so the kernel counts in one hash-set pass instead.
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.JaccardExpression.jaccard_sim(a, b)

  /** The built-in-function composition — value-identical to [[jaccard]]
    * (JaccardExpressionSpec asserts it) and kept as the reference
    * implementation.
    */
  private[graft] def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** The per-band bucket hashes of a signature as one array column (index =
    * band): the map-side, stateless form of LSH banding — what
    * [[lshBuckets]] explodes, and what the streaming tagger
    * ([[graft.streaming.LshStream]]) carries whole for its per-pair
    * first-colliding-band dedup.
    */
  def bucketArray(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    // Unrolled (bands is a small constant), NOT transform(sequence(...), b =>
    // ...): a lambda body referencing sigCol exactly once invites
    // CollapseProject to inline the signature expression INTO the lambda,
    // where it is re-evaluated per band — measured 12× on the streaming
    // tagger's stream side, whose signature can never be persisted away the
    // way the batch path's prepared table is. The unrolled form references
    // sigCol `bands` times, which blocks the inline (multi-reference,
    // non-cheap), and the values are bit-identical: each element is the same
    // xxhash64(slice(sig, band*rpb+1, rpb)) the lambda computed.
    array((0 until bands).map(b =>
      xxhash64(slice(sigCol, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** [[minhashSignature]] tracking each hash function's second-smallest
    * distinct value too — output length 2k, first half bit-identical to
    * the signature ([[graft.functions.MinhashExpressions.MinhashSignature2]]).
    * The runner-ups are [[probeBucketMatrix]]'s substitution values.
    */
  def minhashSignature2(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.MinhashExpressions.minhash_signature2(shinglesCol, numHashes)

  /** Multi-probe LSH banding over a [[minhashSignature2]] column: element
    * [band] = array of `1 + rowsPerBand` bucket hashes — the EXACT band
    * bucket first (bit-identical to [[bucketArray]] on the signature
    * half, so a probe matrix joins a plain-banded index unchanged), then
    * one bucket per band slot with that slot substituted by its hash
    * function's second-smallest value. Rationale: a near-dup that misses
    * a band usually disagrees on ONE slot, and when the corpus doc lacks
    * exactly the query's winning shingle for that slot, its own minimum
    * over the shared shingles is most often the query's runner-up — so
    * the single-slot substitutions recover the dominant banding-miss
    * mode at `1 + rowsPerBand`× query-side fan-out, corpus side
    * untouched (the [[graft.ops.Similarity.annTopKMultiProbe]] posture).
    * Unrolled like [[bucketArray]], same CollapseProject reasoning.
    */
  def probeBucketMatrix(sig2Col: Column, bands: Int, rowsPerBand: Int): Column = {
    val k = bands * rowsPerBand
    array((0 until bands).map { b =>
      val exact = xxhash64(slice(sig2Col, b * rowsPerBand + 1, rowsPerBand))
      val subs = (0 until rowsPerBand).map { j =>
        xxhash64(array((0 until rowsPerBand).map { i =>
          val slot = b * rowsPerBand + i + 1
          element_at(sig2Col, if (i == j) k + slot else slot)
        }: _*))
      }
      array(exact +: subs: _*)
    }: _*)
  }

  /** LSH banding: one row per (doc, band) with a bucket hash of the band's
    * signature slice. Self-joining on (band, bucket) yields candidate pairs.
    */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: String,
                 bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol),
        posexplode(bucketArray(col(sigCol), bands, rowsPerBand))
          .as(Seq("band", "bucket")))

  /** MinHash-LSH near-duplicate pairs, verified with exact shingle Jaccard.
    *
    * numHashes = bands * rowsPerBand. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.6,
                      maxBucket: Int = Blocking.Auto): DataFrame =
    minhashNearDupsManaged(df, idCol, textCol, shingleN, bands, rowsPerBand,
      threshold, maxBucket).df

  /** [[minhashNearDups]] with a [[Managed]] handle over the persisted
    * signature table, for callers that need cache lifecycle control.
    */
  /** The (id, __shingles, __sig) table for a corpus slice — the state the
    * LSH dedup runs over, and the unit of incremental processing: write it
    * to the corpus store, and dedupe later batches against it with
    * [[minhashIncrement]] instead of re-signing the whole corpus.
    */
  def minhashPrepare(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 64): DataFrame =
    Partitioning.spread(df.select(col(idCol), col(textCol)))
      .withColumn("__shingles", shingles(col(textCol), shingleN))
      .withColumn("__sig", minhashSignature(col("__shingles"), numHashes))
      .select(col(idCol), col("__shingles"), col("__sig"))

  /** The bucket-join + exact-verify stages over an EXISTING prepared
    * signature table ([[minhashPrepare]] output — in-memory or re-read
    * from a parquet corpus store). The store-backed query path: signatures
    * are computed once at ingest, every later dedup run starts here.
    *
    * `maxBucket` enables the hot-bucket guard ([[Blocking]]): buckets
    * larger than the cap — the boilerplate-pile-up shape that would
    * otherwise go quadratic — collapse identical-signature members onto a
    * representative before the pairwise comparison. Candidates stay
    * O(size + distinct²) per bucket, components are preserved, and every
    * emitted pair is still exact-Jaccard-verified. Default is
    * [[Blocking.Auto]] (round 8): the cap self-derives from the bucket-size
    * distribution, a measured no-op on well-behaved corpora (every bucket
    * below the auto floor ⇒ pair set identical to uncapped — BlockingSpec)
    * while bounding degenerate pile-ups with no tuning. Pass 0 for the
    * strictly uncapped join, or a positive cap to pin it.
    */
  def minhashPairsFromPrepared(prepared: DataFrame, idCol: String,
                               bands: Int = 16, rowsPerBand: Int = 4,
                               threshold: Double = 0.6,
                               maxBucket: Int = Blocking.Auto): DataFrame = {
    val candidates = minhashCandidates(prepared, idCol, bands, rowsPerBand,
      maxBucket)
    val sa = prepared.select(col(idCol).as("id_a"), col("__shingles").as("__sh_a"))
    val sb = prepared.select(col(idCol).as("id_b"), col("__shingles").as("__sh_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The pre-verification candidate pairs of [[minhashPairsFromPrepared]] —
    * exposed so the hot-bucket guard's fan-out bound is measurable
    * (BlockingSpec asserts capped candidate counts directly).
    */
  def minhashCandidates(prepared: DataFrame, idCol: String,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        maxBucket: Int = Blocking.Auto): DataFrame = {
    // auto resolves BEFORE choosing a plan shape (one preflight agg over
    // the light bucket frame — [[Blocking.resolveAutoCap]]), so a healthy
    // corpus runs the exact uncapped plan: light frames, no size join
    val eff =
      if (maxBucket < 0)
        Blocking.resolveAutoCap(
          lshBuckets(prepared, idCol, "__sig", bands, rowsPerBand),
          Seq("band", "bucket"))
      else maxBucket
    if (eff == 0) {
      val buckets = lshBuckets(prepared, idCol, "__sig", bands, rowsPerBand)
      val a = buckets.select(col(idCol).as("id_a"), col("band"), col("bucket"))
      val b = buckets.select(col(idCol).as("id_b"), col("band"), col("bucket"))
      a.join(b, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      val blocks = prepared.select(col(idCol), col("__sig"),
        posexplode(bucketArray(col("__sig"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      Blocking.cappedCandidates(blocks, Seq("band", "bucket"), idCol, "__sig",
        eff)
    }
  }

  def minhashNearDupsManaged(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 3, bands: Int = 16,
                             rowsPerBand: Int = 4,
                             threshold: Double = 0.6,
                             maxBucket: Int = Blocking.Auto): Managed = {
    val numHashes = bands * rowsPerBand
    // PERSIST is load-bearing: without it Catalyst collapses the projection
    // and re-inlines the O(shingles × numHashes) signature expression into
    // the bucket explode AND both sides of the candidate join (measured 37×
    // slowdown at sf0.1). This is the standard LSH "materialize the
    // signature table" step; MEMORY_AND_DISK spills instead of OOMing at
    // scale. An earlier unmanaged call over the same input left its pin:
    // alias it (Managed.ensurePersisted).
    val prepared = minhashPrepare(df, idCol, textCol, shingleN, numHashes)
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = minhashPairsFromPrepared(prepared, idCol, bands, rowsPerBand,
      threshold, maxBucket)
    new Managed(pairs, Seq(prepared))
  }

  /** Result of [[minhashIncrement]]: `pairs` = verified near-dup pairs that
    * involve at least one new document (new↔corpus and new↔new); `delta` =
    * the new batch's prepared rows, persisted — append them to the corpus
    * store, then `release()`; `deltaBuckets` = the batch's (id, band,
    * bucket) rows (lazy, derived from `delta`) — append them to the
    * corpus bucket store so the NEXT increment never re-explodes the
    * corpus (materialize before `release()`).
    */
  final case class MinhashIncrement(pairs: DataFrame, delta: DataFrame,
                                    deltaBuckets: DataFrame) {
    def release(): Unit = delta.unpersist(false)
  }

  /** Incremental MinHash near-dup: dedupe a NEW batch against an existing
    * prepared corpus table ([[minhashPrepare]] output re-read from the
    * corpus store) plus within the batch itself, WITHOUT re-signing the
    * corpus — the arriving-data shape of a training-data pipeline. Pairs
    * wholly inside the corpus are excluded (they were reported when those
    * rows arrived).
    *
    * `corpusBuckets`: the corpus's maintained (idCol, band, bucket) table
    * (prior increments' `deltaBuckets`, appended). When given, the corpus
    * is never bucket-exploded here — the per-batch cost drops from
    * O(|corpus|×bands) explode rows to a scan of the stored bucket table;
    * when absent, buckets are derived from `corpus` (one-shot callers).
    * The candidate set is identical either way: new↔corpus collisions via
    * the delta⋈corpus bucket join, new↔new via the delta self-join.
    *
    * INVARIANT (trusted, not recomputed): `corpusBuckets` must cover
    * exactly the docs in `corpus` and be built with THESE `bands` /
    * `rowsPerBand` — a stale table (missing recent appends) or one built
    * under a different banding silently drops new↔corpus candidate pairs.
    * `validateBuckets = true` runs a cheap two-aggregate guard before use
    * (max band == bands-1, distinct-id parity with `corpus`) — one extra
    * pass over the two tables; enable it in tests and on store-format
    * migrations, not per production batch.
    *
    * HOT-BUCKET GUARD (`maxBucket`, default [[Blocking.Auto]] like the
    * batch path): both quadratic legs are defended. The new↔new self-join
    * runs through [[minhashCandidates]] (delta-side pile batches collapse
    * to stars + reps). For new↔corpus, an OVERSIZED corpus bucket (over
    * the auto cap resolved from the corpus bucket-size distribution)
    * contributes one representative per DISTINCT signature instead of
    * every member — an arriving boilerplate copy meets a million-copy
    * stored pile as one rep pair, not 10⁶ pairs. Same-signature members
    * verify identically (same shingle multiset up to hash collision), and
    * the pile's own members were pairwise connected when THEY were
    * ingested, so one new↔rep pair preserves the resolved GROUPS — the
    * consumer contract ([[graft.pipelines.CorpusPipeline]]'s label fold).
    * Callers needing the exhaustive new↔corpus pair multiset against a
    * degenerate corpus pass `maxBucket = 0`. Healthy corpora resolve to
    * the uncapped plan (preflight + memo, see [[Blocking.resolveAutoCap]]).
    *
    * ids must be globally unique across corpus and batch; `bands *
    * rowsPerBand` must equal the corpus table's numHashes. Pair orientation
    * is id_a < id_b regardless of which side is new.
    */
  def minhashIncrement(newDocs: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                       threshold: Double = 0.6,
                       corpusBuckets: Option[DataFrame] = None,
                       validateBuckets: Boolean = false,
                       maxBucket: Int = Blocking.Auto): MinhashIncrement = {
    if (validateBuckets) corpusBuckets.foreach { cb =>
      val r = cb.agg(max(col("band")).cast("long").as("mx"),
        countDistinct(col(idCol)).as("n")).collect()(0)
      val bucketIds = r.getAs[Long]("n")
      val corpusIds = corpus.agg(countDistinct(col(idCol))).collect()(0).getLong(0)
      require(bucketIds == corpusIds,
        s"corpusBuckets covers $bucketIds distinct ids but corpus has " +
          s"$corpusIds: stale or mismatched bucket table")
      // An empty (but id-consistent) pair of tables is valid — there is no
      // banding evidence to check, and max(band) is null, which must not be
      // misread as "different banding".
      if (bucketIds > 0) {
        val maxBand = r.getAs[Long]("mx")
        require(maxBand == bands - 1,
          s"corpusBuckets max band $maxBand != bands-1 (${bands - 1}): " +
            "table built under a different banding")
      }
    }
    val delta = minhashPrepare(newDocs, idCol, textCol, shingleN, bands * rowsPerBand)
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val db = lshBuckets(delta, idCol, "__sig", bands, rowsPerBand)
    val cb = corpusBuckets.getOrElse(
      lshBuckets(corpus.select(col(idCol), col("__sig")), idCol, "__sig",
        bands, rowsPerBand))
    // Corpus side of the new↔corpus leg: whole bucket table when healthy;
    // under the guard, oversized buckets contribute one rep per distinct
    // signature (scaladoc above). The sig fetch joins ONLY the oversized
    // buckets' members back to the corpus — bounded by the pile, and only
    // on the degenerate path.
    val effCorpus =
      if (maxBucket < 0) Blocking.resolveAutoCap(cb, Seq("band", "bucket"))
      else maxBucket
    val ncCorpus =
      if (effCorpus == 0) cb.select(col(idCol), col("band"), col("bucket"))
      else {
        // One-exchange sizing (round 9, same shape as the engaged
        // [[Blocking.cappedCandidates]] plan): bucket sizes come from a
        // window over a single (band, bucket) repartition instead of a
        // count aggregation joined back to the members — the pile's
        // bucket rows cross the wire once. The rep leg keeps its
        // sig-fetch join + groupBy: the stored bucket table deliberately
        // does not carry the signature column, and the join re-clusters
        // by id anyway, so a window there would cost the same exchange.
        val annotated = cb.repartition(col("band"), col("bucket"))
          .withColumn("__bsz", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("bucket"))))
        val small = annotated.filter(col("__bsz") <= effCorpus)
          .select(col(idCol), col("band"), col("bucket"))
        val reps = annotated.filter(col("__bsz") > effCorpus)
          .join(corpus.select(col(idCol), col("__sig")), idCol)
          .groupBy(col("band"), col("bucket"), col("__sig"))
          .agg(min(col(idCol)).as(idCol))
          .select(col(idCol), col("band"), col("bucket"))
        small.unionByName(reps)
      }
    // new↔corpus: ids are disjoint across the sides, so orientation is
    // least/greatest; new↔new: the batch-path candidate generator (carries
    // the same guard for pile batches). The union is duplicate-free across
    // legs (a pair has either one or two new members, never both shapes);
    // distinct() collapses multi-band collisions within each leg.
    val nc = db.select(col(idCol).as("__id_n"), col("band"), col("bucket"))
      .join(ncCorpus.select(col(idCol).as("__id_c"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(least(col("__id_n"), col("__id_c")).as("id_a"),
        greatest(col("__id_n"), col("__id_c")).as("id_b"))
    val nn = minhashCandidates(delta, idCol, bands, rowsPerBand, maxBucket)
    val candidates = nc.unionByName(nn).distinct()
    val all = corpus.select(col(idCol), col("__shingles"))
      .unionByName(delta.select(col(idCol), col("__shingles")))
    val sa = all.select(col(idCol).as("id_a"), col("__shingles").as("__sh_a"))
    val sb = all.select(col(idCol).as("id_b"), col("__shingles").as("__sh_b"))
    val pairs = candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    MinhashIncrement(pairs, delta, db)
  }

  /** Exact n-gram Jaccard pairs via prefix filtering (PPJoin-style, cf. Xiao
    * et al., "Efficient Similarity Joins for Near Duplicate Detection"):
    * under any global total order on shingles, two sets with Jaccard >= t
    * must share an element within each other's first `|S| - ceil(t*|S|) + 1`
    * shingles — so joining on exploded prefixes has COMPLETE recall (unlike
    * the previous min-shingle block, which missed a qualifying pair with
    * probability 1-J). Candidates are then verified with exact Jaccard.
    *
    * Scale: explode factor is the prefix length (~(1-t)*|S|+1). We order
    * lexicographically; a production tuning for hot shingles is to order by
    * ascending global shingle frequency (one extra counting pass) so prefixes
    * hold the rarest shingles. LSH above remains the sub-quadratic path.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        freqOrdered: Boolean = false,
                        collapseExact: Boolean = true,
                        collapseMinGroup: Long = CollapseMinGroup): DataFrame =
    ngramJaccardPairsManaged(df, idCol, textCol, shingleN, threshold,
      freqOrdered, collapseExact, collapseMinGroup).df

  /** [[ngramJaccardPairs]] with a [[Managed]] handle over the persisted
    * shingle table.
    *
    * `collapseExact` (default on): when some identical-shingle-set group
    * reaches `collapseMinGroup` (memoized preflight — the largest group is
    * the quadratic driver, so dup RATIO would be the wrong test), documents
    * with IDENTICAL shingle sets are collapsed to one representative for
    * the prefix join, and the verified rep pairs are expanded back to
    * members afterwards. Output-IDENTICAL to the uncapped join — J(x,z) =
    * J(y,z) whenever x and y share a shingle set, and within-group pairs
    * score via the same kernel on the shared set — but the quadratic
    * candidate stage runs over R distinct sets, not n docs (a boilerplate
    * pile contributes ONE prefix-join row). This is the exact operator's
    * counterpart of the LSH hot-bucket guard: same defense, zero output
    * change, so it composes with the DuckDB oracle. The expansion's own
    * cost is the output size, which is inherent to the exact contract.
    */
  def ngramJaccardPairsManaged(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 3,
                               threshold: Double = 0.5,
                               freqOrdered: Boolean = false,
                               collapseExact: Boolean = true,
                               collapseMinGroup: Long = CollapseMinGroup): Managed = {
    val base = Partitioning.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        array_distinct(shingles(col(textCol), shingleN)).as("__sh"))
    if (!collapseExact || !dupHeavy(base, collapseMinGroup)) {
      val (pairs, prepared) = ppjoin(base, idCol, threshold, freqOrdered)
      new Managed(pairs, Seq(prepared))
    } else {
      val basep = Managed.ensurePersisted(base,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one rep per distinct shingle set (group key = the set itself; the
      // membership table joins back on it — array<string> keys hash fine)
      val reps = basep.groupBy(col("__sh")).agg(min(col(idCol)).as(idCol))
      val m = basep
        .join(reps.select(col("__sh"), col(idCol).as("__rep")), Seq("__sh"))
        .select(col(idCol), col("__rep"), col("__sh"))
      val (repPairs, repPrepared) =
        ppjoin(reps.select(col(idCol), col("__sh")), idCol, threshold, freqOrdered)
      // cross-group pairs: every member pair inherits its reps' verified
      // jaccard (identical sets ⇒ identical score, bit-for-bit)
      val rp = repPairs.select(col("id_a").as("__ra"), col("id_b").as("__rb"),
        col("jaccard"))
      val cross = rp
        .join(m.select(col("__rep").as("__ra"), col(idCol).as("__xa")), Seq("__ra"))
        .join(m.select(col("__rep").as("__rb"), col(idCol).as("__xb")), Seq("__rb"))
        .select(least(col("__xa"), col("__xb")).as("id_a"),
          greatest(col("__xa"), col("__xb")).as("id_b"), col("jaccard"))
      // within-group pairs: the shared set scored by the SAME kernel (not a
      // lit(1.0)), and only for groups holding at least one NON-NULL
      // shingle — the uncollapsed prefix join never matches a null join
      // key, so null-text docs (shingle set [null]) pair with nothing
      // there, and parity requires the same here
      val within = m.select(col("__rep"), col(idCol).as("id_a"), col("__sh"))
        .filter(exists(col("__sh"), x => x.isNotNull))
        .join(m.select(col("__rep"), col(idCol).as("id_b")), Seq("__rep"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jaccard", jaccard(col("__sh"), col("__sh")))
        .select("id_a", "id_b", "jaccard")
      new Managed(cross.unionByName(within), Seq(basep, repPrepared))
    }
  }

  /** The PPJoin core over a (idCol, __sh) shingle-set table: order, build
    * prefixes, explode-join, verify. Returns (pairs, the persisted prefix
    * table whose lifecycle the caller owns).
    */
  private def ppjoin(shingleTable: DataFrame, idCol: String, threshold: Double,
                     freqOrdered: Boolean): (DataFrame, DataFrame) = {
    // Canonical global order for the prefix: lexicographic by default
    // (zero-pass); freqOrdered sorts each doc's shingles by ascending
    // GLOBAL document frequency (one counting pass + a re-collect), so
    // prefixes hold the rarest shingles — candidate fan-out drops on
    // corpora with hot shingles. Any total order preserves completeness.
    val ordered =
      if (!freqOrdered) shingleTable.withColumn("__sh", array_sort(col("__sh")))
      else {
        val freqs = shingleTable.select(explode(col("__sh")).as("__s"))
          .groupBy("__s").agg(count(lit(1)).as("__df"))
        shingleTable.select(col(idCol), explode(col("__sh")).as("__s"))
          .join(freqs, "__s")
          .groupBy(idCol)
          .agg(array_sort(collect_list(struct(col("__df"), col("__s"))))
            .as("__ranked"))
          .select(col(idCol),
            transform(col("__ranked"), r => r.getField("__s")).as("__sh"))
      }
    val prepared = ordered
      .withColumn("__prefix", slice(col("__sh"), lit(1),
        (size(col("__sh")) - ceil(lit(threshold) * size(col("__sh"))) + 1).cast("int")))
      .transform(Managed.ensurePersisted(_,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = prepared.select(col(idCol).as("id_a"), explode(col("__prefix")).as("__p"))
    val b = prepared.select(col(idCol).as("id_b"), explode(col("__prefix")).as("__p"))
    val pairs = a.join(b, "__p").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(prepared.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(prepared.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (pairs, prepared)
  }

  /** Collapse pays off when the LARGEST identical-set group crosses this
    * size — the group is the quadratic driver (savings scale with the
    * square of the pile; overhead is a few fixed joins), so overall dup
    * RATIO is the wrong predicate: a 10k-copy pile inside a 10M-doc
    * corpus is 0.1% dups and still a 10⁸-candidate prefix join. Measured
    * crossover (ngram pile bench, 5000-doc base, SCALE.md "Exact-operator
    * pile safety"): collapse ~2× slower at a
    * 2k pile, break-even ~4-8k, 10× faster at 16k and growing
    * quadratically — 4096 sits below every size where the win matters
    * and above the sizes where the overhead shows.
    */
  private[graft] val CollapseMinGroup: Long = 4096L

  /** Memoized preflight for [[ngramJaccardPairsManaged]]'s collapse
    * decision: does any identical-shingle-set group reach
    * [[CollapseMinGroup]]? One bounded aggregation (group sizes over the
    * hashed set → max), memoized per semantic plan like
    * [[Blocking.resolveAutoCap]] — repeated queries over a stored corpus
    * pay it once. A borderline corpus merely picks the plain path, which
    * is always correct.
    */
  private def dupHeavy(base: DataFrame, minGroup: Long): Boolean = {
    // Bucket-keyed on the 32-bit plan hash, but a hit requires structural
    // equality of the stored canonicalized plan (plus the threshold) —
    // two distinct plans whose hashes collide can never share a decision
    // (the loser just re-runs the bounded preflight). The job runs
    // outside the map so concurrent decisions never serialize on a bin
    // lock; a cold-plan race at worst duplicates the aggregation.
    // Same append-staleness contract as [[Blocking.resolveAutoCap]]:
    // [[graft.pipelines.CorpusStore]]'s mutators clear this memo too.
    val plan = base.queryExecution.logical.canonicalized
    val key = Integer.valueOf(plan.hashCode() * 31 + minGroup.hashCode())
    val cached = dupHeavyMemo.get(key)
    if (cached != null && cached._1 == plan && cached._2 == minGroup) cached._3
    else {
      if (dupHeavyMemo.size > 1024) dupHeavyMemo.clear()
      val r = base.groupBy(xxhash64(col("__sh")).as("__h"))
        .agg(count(lit(1)).as("__gsz"))
        .agg(max(col("__gsz")).as("mx")).collect()(0)
      val heavy = !r.isNullAt(0) && r.getLong(0) >= minGroup
      dupHeavyMemo.putIfAbsent(key, (plan, minGroup, heavy))
      heavy
    }
  }

  private[graft] def clearDupHeavyMemo(): Unit = dupHeavyMemo.clear()

  private val dupHeavyMemo = new java.util.concurrent.ConcurrentHashMap[
    Integer,
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Boolean)]()

  /** Portable 60-bit token hash: the first 15 hex chars of md5, parsed as an
    * integer — computable bit-identically in any engine with md5 (DuckDB:
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`), unlike xxhash64. 60 bits
    * keeps the value inside a signed long with no ANSI overflow.
    */
  def md5Hash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash of the token multiset: per bit position, tokens vote +1/-1 by
    * their hash bit; the sign becomes the fingerprint bit. The hash family
    * stays an ordinary Spark expression (xxhash64 or the md5-portable one,
    * one string hash per token — oracle parity untouched); the vote fold is
    * the native kernel ([[graft.functions.SimhashExpression]]) — the HOF
    * form below unrolls a `bits`-wide vote array per token (the same
    * codegen-size shape that pushed MinHash native in round 3) and
    * evaluates it interpreted.
    */
  def simhashBits(tokensCol: Column, tokenHash: Column => Column, bits: Int): Column =
    graft.functions.SimhashExpression.simhash_bits(
      transform(tokensCol, tokenHash), bits)

  /** The pre-round-7 nested-higher-order-function form — value-identical to
    * [[simhashBits]] (SimhashExpressionSpec asserts it) and kept as the
    * no-custom-expression reference implementation.
    */
  private[graft] def simhashBitsHof(tokensCol: Column, tokenHash: Column => Column,
                                    bits: Int): Column = {
    // Bit positions are unrolled in Scala (shift amounts must be literals in
    // the DSL). Aggregating over the pre-hashed token array binds the hash as
    // the lambda variable: one string hash per token, then `bits` bit tests
    // on the long — not `bits` string hashes.
    val votes = aggregate(
      transform(tokensCol, tokenHash),
      array((0 until bits).map(_ => lit(0)): _*),
      (acc, h) => zip_with(acc,
        array((0 until bits).map(j =>
          when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1))
            .otherwise(lit(-1))): _*),
        (x, y) => x + y))
    val weights = array((0 until bits).map(j => lit(1L << j)): _*)
    aggregate(zip_with(votes, weights,
        (v, w) => when(v > 0, w).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit SimHash under xxhash64 (fastest; not oracle-portable). */
  def simhash64(tokensCol: Column): Column =
    simhashBits(tokensCol, xxhash64(_), 64)

  /** 60-bit SimHash under the portable md5 family ([[md5Hash60]]) — same
    * fingerprint is computable in DuckDB SQL, enabling an exact oracle.
    */
  def simhash60(tokensCol: Column): Column =
    simhashBits(tokensCol, md5Hash60, 60)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on quarters of the fingerprint (any pair
    * within Hamming distance <= 3 shares at least one exact quarter —
    * pigeonhole), then verify the full distance. Quarter blocking is
    * deterministic-complete, so the result equals the all-pairs computation.
    *
    * `portable = true` switches to the 60-bit md5 family ([[simhash60]]) so
    * the fingerprints — and therefore the output — are reproducible in
    * DuckDB SQL for the oracle check; default stays the faster xxhash64.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, portable: Boolean = false,
                      maxBlock: Int = Blocking.Auto): DataFrame =
    simhashNearDupsManaged(df, idCol, textCol, maxHamming, portable,
      maxBlock).df

  /** [[simhashNearDups]] with a [[Managed]] handle over the persisted
    * fingerprint table. `maxBlock` enables the hot-block guard
    * ([[Blocking]], keyed on the full fingerprint): identical-fingerprint
    * members of an oversized quarter block collapse onto a representative,
    * bounding the within-block candidates; the full Hamming distance is
    * still verified on every emitted pair. Default [[Blocking.Auto]]
    * (no-op below the auto floor; see [[minhashPairsFromPrepared]]);
    * 0 = strictly uncapped.
    */
  def simhashNearDupsManaged(df: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 3,
                             portable: Boolean = false,
                             maxBlock: Int = Blocking.Auto): Managed = {
    // pigeonhole over 4 quarters only guarantees a shared quarter for
    // distance <= 3; a larger budget would silently lose qualifying pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashNearDups supports maxHamming in [0, 3] (quarter blocking), got $maxHamming")
    val (bits, sim) =
      if (portable) (60, simhash60(tokens(col(textCol))))
      else (64, simhash64(tokens(col(textCol))))
    val qBits = bits / 4
    val withSim = Managed.ensurePersisted(
      Partitioning.spread(df.select(col(idCol), col(textCol)))
        .select(col(idCol), sim.as("__simhash")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val quarters = withSim.select(col(idCol), col("__simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("__simhash"), q * qBits)
          .bitwiseAND(lit((1L << qBits) - 1))): _*))
        .as(Seq("q", "qval")))
    // auto resolves via one preflight agg (Blocking.resolveAutoCap); a
    // healthy corpus runs the exact uncapped plan
    val eff =
      if (maxBlock < 0) Blocking.resolveAutoCap(quarters, Seq("q", "qval"))
      else maxBlock
    val withSims =
      if (eff == 0) {
        val a = quarters.select(col(idCol).as("id_a"), col("__simhash").as("__sim_a"),
          col("q"), col("qval"))
        val b = quarters.select(col(idCol).as("id_b"), col("__simhash").as("__sim_b"),
          col("q"), col("qval"))
        a.join(b, Seq("q", "qval")).filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b", "__sim_a", "__sim_b").distinct()
      } else
        Blocking.cappedCandidates(quarters, Seq("q", "qval"), idCol,
            "__simhash", eff)
          .join(withSim.select(col(idCol).as("id_a"), col("__simhash").as("__sim_a")), "id_a")
          .join(withSim.select(col(idCol).as("id_b"), col("__simhash").as("__sim_b")), "id_b")
    val pairs = withSims
      .withColumn("hamming", hamming(col("__sim_a"), col("__sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    new Managed(pairs, Seq(withSim))
  }
}

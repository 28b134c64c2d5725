package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-document text-analysis expressions for training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting,
  * repetition, PII redaction and reproducible train/eval splits.
  *
  * Everything here is a pure `Column` expression — fully codegen'd, narrow,
  * and composable into any projection; there is no shuffle and no UDF. The
  * oracle-checked `x_lang_id` / `x_quality` / `x_token_count` /
  * `x_fingerprint` / `x_rep_ratio` / `x_redact` / `x_train_split` queries
  * pin these expressions against DuckDB. */
object TextStats {

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on")

  private def words(c: Column): Column = split(c, " ")

  /** A trained BPE tokenizer: the initial character alphabet (ids
    * 0..A−1 in binary string order) plus `merges` — the ordered merge
    * list ((left, right, weighted pair count) at rank 1..K, vocabulary
    * ids A..A+K−1). Both halves are O(alphabet + K) driver state — the
    * centroid/codebook convention: small enough to embed as plan
    * literals, never corpus-sized.
    *
    * `vocab` collapses duplicate surface forms to the SMALLEST id: two
    * merge paths can mint the same string (rank i merges (a,bc), rank j
    * merges (ab,c) — both "abc"), and an encoder keyed by surface form
    * must not fan out on the join. */
  final case class BpeModel(alphabet: Seq[String],
                            merges: Seq[(String, String, Long)]) {
    /** (symbol, id): alphabet first, then merged symbols in rank order,
      * duplicate surface forms collapsed to the smallest id. */
    def vocab: Seq[(String, Long)] = {
      val all = alphabet.zipWithIndex.map { case (s, i) => (s, i.toLong) } ++
        merges.zipWithIndex.map { case ((l, r, _), i) =>
          (l + r, (alphabet.size + i).toLong) }
      all.groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq
    }
  }

  /** Stopword-hit ratio — the n-gram language-ID heuristic's core signal. */
  def stopwordRatio(text: Column,
                    stopwords: Seq[String] = DefaultStopwords): Column = {
    val w = words(text)
    round(size(filter(w, t => t.isInCollection(stopwords))).cast("double") /
      size(w), 4)
  }

  /** Threshold language call from the stopword ratio. */
  def langId(text: Column, lang: String = "en", threshold: Double = 0.05,
             stopwords: Seq[String] = DefaultStopwords): Column = {
    val w = words(text)
    val hits = size(filter(w, t => t.isInCollection(stopwords)))
    when(hits.cast("double") / size(w) > threshold, lang).otherwise("other")
  }

  /** Whitespace token count. Counted by the native single-pass
    * [[graft.functions.CharScan]] — value-identical to
    * `size(split(trim(text), "\\s+"))` (pinned by TextScanSpec) without
    * materialising the token array. */
  def wsTokens(text: Column): Column =
    graft.functions.TextScan.wsRuns(trim(text)) + lit(1)

  /** BPE-ish token count: letter runs, digit runs, single punctuation.
    * Native one-pass DFA — value-identical to the regex alternation
    * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` (pinned by TextScanSpec). */
  def bpeIshTokens(text: Column): Column =
    graft.functions.TextScan.bpeTokens(text)

  /** Space-split token count: `size(split(text, " "))` without the
    * array — Java split keeps leading/trailing empties (limit -1), so
    * the piece count is always spaces + 1. */
  def spaceTokens(text: Column): Column =
    graft.functions.TextScan.spaces(text) + lit(1)

  /** Length/punctuation quality score in [0,1] (longer is better up to
    * `fullTokens`; punctuation-dense is worse). Counts via the native
    * scan; the arithmetic is unchanged, so scores are bit-identical to
    * the regex rendering. */
  def quality(text: Column, fullTokens: Int = 50): Column = {
    val nTok = spaceTokens(text)
    val nPunct = graft.functions.TextScan.punct(text)
    round(least(nTok.cast("double") / lit(fullTokens.toDouble), lit(1.0)) *
      (lit(1.0) - nPunct.cast("double") / length(text)), 4)
  }

  /** Learned quality-filter inference
    * ([[graft.functions.HashedNgramScore]] — the fastText-style
    * hashed-ngram linear classifier): per doc, the feature count and the
    * sigmoid class probability, rounded to 4 dp. One native row-local
    * pass with the weight table as a plan literal — no token explode, no
    * weight join, zero shuffle; the heuristic [[quality]]'s learned
    * sibling for corpora where a trained model exists. */
  def learnedQuality(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, weights: Seq[Double], bias: Double,
                     bigrams: Boolean = true): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("_s", graft.functions.HashedNgramScore
        .hashedNgramScore(col(textCol), weights, bias, bigrams))
      .select(col(idCol), col("_s.n_features").as("n_features"),
        round(lit(1.0) / (lit(1.0) + exp(-col("_s.logit"))), 4).as("q_learned"))

  /** Hashing-trick dense document embedding
    * ([[graft.functions.HashedEmbedding]]): raw text → L2-normalised
    * `dim`-vector in one native row pass, no vocabulary, no model, no
    * shuffle — the bridge that makes the WHOLE vector stack
    * ([[Ann]] brute/LSH/IVF/PQ search, `semDedup`) applicable to a
    * text corpus without external embeddings. Token-less docs return
    * the zero vector; filter them on the INPUT side before ANN. */
  def textEmbedding(text: Column, dim: Int = 64): Column =
    graft.functions.HashedEmbedding.hashedEmbedding(text, dim)

  /** Normalised content fingerprint: md5 of the lowercased,
    * whitespace-collapsed text. Equal ⇒ same content modulo spacing/case. */
  def contentFingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Order-independent bag-of-words fingerprint. */
  def bagFingerprint(text: Column): Column =
    md5(array_join(array_sort(split(text, " ")), " "))

  /** Duplicated-word fraction (Gopher-style repetition rule). */
  def repetitionRatio(text: Column): Column = {
    val toks = split(trim(text), " +")
    round(lit(1.0) - size(array_distinct(toks)).cast("double") /
      size(toks).cast("double"), 4)
  }

  /** Redact substrings matching each (pattern → replacement), in order.
    * Defaults scrub email addresses and UK-style phone numbers. */
  def redact(text: Column,
             rules: Seq[(String, String)] = Seq(
               "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+" -> "<EMAIL>",
               "\\b0[0-9]{3}[ -]?[0-9]{3}[ -]?[0-9]{4}\\b" -> "<PHONE>")): Column =
    rules.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Reproducible train/eval split: md5-mod on the key — no RNG, so
    * re-runs and backfills land every row in the same split. */
  def trainSplit(key: Column, trainPct: Int = 90): Column =
    when(conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
           .cast("bigint") % 100 < trainPct, lit("train"))
      .otherwise(lit("eval"))

  /** Corpus profiling: per-stratum row counts, mean and interpolated
    * quantiles of a numeric column — the pre-training health check (is one
    * shard full of near-empty docs?). `exact = true` (the default) uses
    * `percentile` (one shuffle, partial-aggregating, oracle-stable across
    * engines); `exact = false` switches to `approx_percentile` — at 100 TB
    * the exact aggregate's per-group value buffer is the bottleneck and
    * the t-digest sketch (bounded state, `approxAccuracy` trades error for
    * memory) is the production path, at the cost of run-to-run and
    * cross-engine reproducibility of the quantile digits. */
  def profile(df: org.apache.spark.sql.DataFrame, strataCol: String,
              valueCol: String,
              quantiles: Seq[Double] = Seq(0.5, 0.95),
              exact: Boolean = true,
              approxAccuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0, 1], got: ${quantiles.mkString(", ")}")
    require(approxAccuracy > 0, s"approxAccuracy must be positive, got $approxAccuracy")
    // ONE array-percentile aggregate: all quantiles share a single
    // per-group state (value buffer / digest) and sort, instead of one
    // independent state per quantile. The column name is backtick-quoted
    // with embedded backticks doubled — names with spaces/dashes/backticks
    // are identifiers, never arithmetic or injected expressions.
    val quoted = "`" + valueCol.replace("`", "``") + "`"
    val qList = quantiles.mkString(", ")
    val qArray =
      if (exact) expr(s"percentile($quoted, array($qList))")
      else expr(s"approx_percentile($quoted, array($qList), $approxAccuracy)")
    val aggd = df.groupBy(strataCol).agg(
      count(lit(1)).as("n"),
      round(avg(col(valueCol)), 4).as("mean"),
      qArray.as("_qs"))
    // math.round, not toInt: 0.57 * 100 is 56.999… under doubles. The cast
    // keeps the schema stable across the two paths (approx_percentile
    // returns the input column's type, percentile returns double).
    val qCols = quantiles.zipWithIndex.map { case (q, i) =>
      round(element_at(col("_qs"), i + 1).cast("double"), 4).as(s"p${math.round(q * 100)}")
    }
    aggd.select(col(strataCol) +: col("n") +: col("mean") +: qCols: _*)
  }

  /** Token-budget sequence packing: lay each group's docs out in a
    * deterministic order and cut a new training sequence every `budget`
    * tokens — `seq_id` = group "#" floor(start-offset / budget), with
    * `seq_offset` the doc's token offset inside its sequence. Docs may
    * straddle a boundary (offset packing, the streaming-friendly variant);
    * exact first-fit bin packing needs a sequential pass and does not
    * distribute.
    *
    * Scale shape: windows partitioned by the group column. With the
    * default `shards = 1` each group funnels through ONE task — fine when
    * the group column already shards the corpus evenly (source/language/
    * date), a serialisation bottleneck when one group dominates (one
    * language at 90% of a 100 TB corpus packs on a single core). Pass
    * `shards > 1` to split every group into `shards` deterministic
    * hash-shards of the order column: each shard computes its running
    * offsets in its own window task, then a tiny per-(group, shard)
    * total-token aggregate stitches the shard offsets back into one
    * consistent per-group layout (shard 0's docs first, then shard 1's,
    * order-column order within each shard). The layout differs from the
    * unsharded one but satisfies the same contract — a deterministic
    * order with exact running offsets — and the widest window partition
    * shrinks by `shards`×. */
  def packSequences(df: org.apache.spark.sql.DataFrame, groupCol: String,
                    orderCol: String, tokens: Column,
                    budget: Long, shards: Int = 1): org.apache.spark.sql.DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val W = org.apache.spark.sql.expressions.Window
    if (shards == 1) {
      // explicit ROWS frame: the default RANGE frame sums ALL order-column
      // ties into every tied row's running total, overlapping their offsets
      val w = W.partitionBy(groupCol).orderBy(orderCol)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val start = sum(tokens).over(w) - tokens
      // concat, not concat_ws: a NULL group must yield a NULL seq_id (SQL
      // || semantics), never a bare number colliding with other groups
      df.withColumn("seq_id",
          concat(col(groupCol), lit("#"), floor(start / budget).cast("string")))
        .withColumn("seq_offset", pmod(start, lit(budget)))
    } else {
      // deterministic shard of the order column (md5-derived, the repo's
      // cross-engine h32) — no RNG, so re-runs land docs identically. A
      // NULL order value hashes to NULL; coalesce it into shard 0 so the
      // row keeps a non-null join key and survives the stitch (the
      // unsharded path keeps NULL-order rows too — the paths must agree
      // on row count).
      val d = df
        .withColumn("_shard", pmod(coalesce(
          conv(substring(md5(col(orderCol).cast("string")), 1, 8), 16, 10)
            .cast("bigint"), lit(0L)), lit(shards.toLong)))
        .withColumn("_tok", tokens)
      val wLocal = W.partitionBy(groupCol, "_shard").orderBy(orderCol)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val local = d.withColumn("_local_start",
        sum(col("_tok")).over(wLocal) - col("_tok"))
      // per-(group, shard) totals → each shard's cumulative start offset.
      // groups × shards rows: tiny next to the corpus, and the window over
      // it partitions per group over `shards` rows.
      val wOff = W.partitionBy("_og").orderBy("_oshard")
        .rowsBetween(W.unboundedPreceding, -1)
      val offsets = d.groupBy(col(groupCol).as("_og"), col("_shard").as("_oshard"))
        .agg(sum(col("_tok")).as("_tot"))
        .withColumn("_shard_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
      // null-safe join: a NULL group is its own window partition on both
      // sides; a name-equality join would silently drop its rows. The
      // offsets side is groups × shards rows — broadcast by construction,
      // not by estimate (the static planner sizes the aggregate from its
      // corpus-sized child; without the hint a non-AQE session would sort
      // the whole corpus into a merge join).
      val joined = local.join(broadcast(offsets),
        col(groupCol) <=> col("_og") && col("_shard") === col("_oshard"))
      val start = col("_local_start") + col("_shard_off")
      joined
        .withColumn("seq_id",
          concat(col(groupCol), lit("#"), floor(start / budget).cast("string")))
        .withColumn("seq_offset", pmod(start, lit(budget)))
        .drop("_shard", "_tok", "_local_start", "_og", "_oshard", "_tot", "_shard_off")
    }
  }

  /** Mean unigram log10-probability of each doc's words under the
    * corpus's own add-one-smoothed unigram distribution — the cheap
    * language-model quality signal (gibberish and boilerplate sit far
    * from the corpus distribution; near-empty docs of rare tokens score
    * low). Scale shape: one explode, one word-keyed shuffle-hash join
    * against the corpus vocabulary (vocab can reach billions of rows at
    * 100 TB — never broadcast it), one per-doc aggregation. Stopword-
    * frequency skew on the join's probe side is AQE skew-join territory;
    * the build side (distinct vocabulary) is uniform. The corpus is
    * scanned twice (vocab build, then scoring) — a narrow re-read is
    * cheaper than spilling the corpus×tokens explode; pipelines that
    * already tokenised (token counting, packing) should pass their words
    * frame to [[unigramLogProbOfWords]] instead, which tokenises nothing.
    * Docs with NULL text contribute no rows
    * (explode of a NULL split) and are absent from the output — coalesce
    * upstream if they must appear with a score. */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame =
    unigramLogProbOfWords(
      docs.select(col(idCol), explode(split(col(textCol), " ")).as("_w")),
      idCol, "_w")

  /** Pre-tokenised form of [[unigramLogProb]]: scores a words frame (one
    * row per (id, word)) directly, so a pipeline that tokenised once can
    * fan the same frame into several operators without re-tokenising the
    * corpus. Zero-length and NULL words are ignored — consecutive or
    * leading separators would otherwise put "" tokens in the vocabulary
    * and inflate both N and V, skewing the distribution on
    * whitespace-noisy corpora. */
  def unigramLogProbOfWords(wordRows: org.apache.spark.sql.DataFrame,
                            idCol: String, wordCol: String): org.apache.spark.sql.DataFrame = {
    val words = wordRows
      .filter(length(col(wordCol)) > 0)
      .select(col(idCol), col(wordCol).as("_w"))
    val vocab = words.groupBy(col("_w").as("_vw")).agg(count(lit(1)).as("_c"))
    val totals = vocab.agg(sum(col("_c")).as("_n"), count(lit(1)).as("_v"))
    words.join(vocab.hint("shuffle_hash"), col("_w") === col("_vw"))
      .crossJoin(broadcast(totals))
      .withColumn("_lp",
        log10((col("_c") + 1).cast("double") / (col("_n") + col("_v"))))
      .groupBy(idCol)
      .agg(round(avg(col("_lp")), 4).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Bigram LM quality scoring — the KenLM-shaped upgrade of
    * [[unigramLogProb]]: each document is scored by the mean add-one-
    * smoothed conditional log-probability of its word bigrams,
    * `log10((c(w1,w2) + 1) / (c(w1) + V))`, against counts from the whole
    * corpus. A unigram score cannot see word ORDER — "the cat sat" and
    * "sat the cat" score identically — while shuffled or
    * machine-mangled text drops sharply under a bigram model, which is
    * why perplexity-style filters are standard in pretraining pipelines.
    *
    * Scale shape: tokens are filtered ("" from consecutive separators
    * would pollute both numerator and denominator) and paired INSIDE the
    * row by the native [[graft.functions.PairCounts]] map — no
    * (id, pos)⋈(id, pos+1) self-join, no per-document window shuffle,
    * and no interpreted `transform` HOF on the hot path (the pairing
    * lambda was the dominant per-row cost AND was re-planned per
    * reference — the first cut evaluated it over the corpus twice:
    * once under the bigram-count aggregate and once under the scoring
    * join). The corpus-wide bigram count is a window over the
    * pre-aggregated pair frame (one (w1,w2)-keyed exchange of ~one row
    * per distinct in-doc pair — never a count table joined back, which
    * would re-plan the whole pair pipeline); the unigram table comes
    * from one [[graft.functions.TermCounts]] pass and hash-joins
    * co-partitioned on w1. Per-doc means are the exact tf-weighted
    * form `Σ c·lp / Σ c` — identical values to the per-instance mean,
    * one row per distinct pair instead of one per occurrence.
    * Measured at sf10: 21.9 s → 7.8 s (min-of-2; the residual cost is
    * the (w1, w2) exchange+sort itself — bigrams rarely repeat within a
    * document, so the in-row pre-aggregation shrinks rows little and
    * the win comes from deleting the HOF and the duplicated pipeline).
    * Documents with fewer than two
    * tokens have no bigrams and are absent from the output, mirroring
    * [[unigramLogProb]]'s NULL-text contract. */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = docs
      .select(col(idCol),
        explode(graft.functions.PairCounts.pairCounts(col(textCol)))
          .as(Seq("_bg", "_c")))
      .select(col(idCol),
        substring_index(col("_bg"), " ", 1).as("_w1"),
        substring_index(col("_bg"), " ", -1).as("_w2"),
        col("_c").cast("long").as("_c"))
    val withC12 = pre.withColumn("_c12",
      sum(col("_c")).over(Window.partitionBy(col("_w1"), col("_w2")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    val uni = docs
      .select(explode(graft.functions.TermCounts.termCounts(col(textCol)))
        .as(Seq("_uw", "_utf")))
      .groupBy(col("_uw")).agg(sum(col("_utf")).as("_c1"))
    val v = uni.agg(count(lit(1)).as("_v"))
    withC12.join(uni.hint("shuffle_hash"), col("_w1") === col("_uw"))
      .crossJoin(broadcast(v))
      .withColumn("_lp",
        log10((col("_c12") + 1).cast("double") / (col("_c1") + col("_v"))))
      .groupBy(idCol)
      .agg(round(sum(col("_c") * col("_lp")) / sum(col("_c")), 4).as("avg_logprob"),
        sum(col("_c")).as("n_bigrams"))
  }

  /** Hashed-bucket rendering of [[bigramLogProb]] — the O(B) exchange
    * variant (the hashed/Bloom-LM trick: Talbot & Osborne 2007): bigram
    * counts are kept per h32(w1·w2) mod `buckets` BUCKET instead of per
    * (w1, w2) pair, so the model table is bounded by `buckets` (or by
    * the corpus's bigram-type count, whichever is smaller) and
    * BROADCASTS to the scoring pass. Collisions only INFLATE a count —
    * with B=2M and ~50k bigram types the expected inflated-type
    * fraction is types/2B ≈ 1%%, far below tier-boundary resolution
    * (A/B'd; see SCALING.md).
    *
    * Why this is the 100 TB shape: [[bigramLogProb]]'s exact form
    * exchanges the corpus's per-doc pair rows on (w1, w2) — a
    * vocabulary²-keyed, corpus-sized shuffle. Here NOTHING corpus-sized
    * is ever exchanged: the bucket table is one pass with map-side
    * combine (≤ B rows out per partition), the unigram table is
    * vocabulary-sized, both broadcast into the scoring scan, and the
    * only remaining exchange is the per-doc mean's O(docs) combine.
    * Same add-one smoothing, same exact-unigram denominator, same
    * published 4-dp rounding. */
  def bigramLogProbHashed(docs: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String,
                          buckets: Int = 1 << 21): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val bkt = docs
      .select(explode(graft.functions.PairCounts.pairCounts(col(textCol)))
        .as(Seq("_bg", "_c")))
      .groupBy((graft.operators.TextDedup.h32(col("_bg")) % buckets).as("_b"))
      .agg(sum(col("_c").cast("long")).as("_c12"))
    val uni = docs
      .select(explode(graft.functions.TermCounts.termCounts(col(textCol)))
        .as(Seq("_uw", "_utf")))
      .groupBy(col("_uw")).agg(sum(col("_utf")).as("_c1"))
    val v = uni.agg(count(lit(1)).as("_v"))
    docs
      .select(col(idCol),
        explode(graft.functions.PairCounts.pairCounts(col(textCol)))
          .as(Seq("_bg", "_c")))
      .withColumn("_b", graft.operators.TextDedup.h32(col("_bg")) % buckets)
      .withColumn("_w1", substring_index(col("_bg"), " ", 1))
      .withColumn("_c", col("_c").cast("long"))
      .join(broadcast(bkt), Seq("_b"))
      .join(broadcast(uni), col("_w1") === col("_uw"))
      .crossJoin(broadcast(v))
      .withColumn("_lp",
        log10((col("_c12") + 1).cast("double") / (col("_c1") + col("_v"))))
      .groupBy(idCol)
      .agg(round(sum(col("_c") * col("_lp")) / sum(col("_c")), 4).as("avg_logprob"),
        sum(col("_c")).as("n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * split each language's documents into `nBuckets` equal-population
    * perplexity tiers — bucket 1 = "head" (most fluent under the LM),
    * the last = "tail". CCNet scores with a KenLM 5-gram; here the LM is
    * the in-repo [[bigramLogProb]] (higher mean logprob = lower
    * perplexity), ranked on its PUBLISHED 4-dp rounding with id
    * tie-break so the tier assignment is reproducible from the scored
    * table alone. Per-language, not global — a global cut would just
    * re-discover language frequency (CCNet's stated reason).
    *
    * Scale shape: the LM pass is [[bigramLogProb]]'s (pre-aggregated
    * in-row pairs, one (w1,w2) exchange); attaching the stratum is one
    * id-keyed shuffle-hash join (corpus-sized on both sides — never
    * broadcast); the `ntile` window shuffles (id, stratum, score) —
    * three narrow columns, not documents — and partitions by language,
    * so no global sort. Sub-two-token docs have no bigrams and no tier
    * ([[bigramLogProb]]'s absence contract); route them to a quality
    * gate instead of a perplexity tier. */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, strataCol: String,
                        nBuckets: Int = 3,
                        hashedLmBuckets: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be at least 2, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val lm = hashedLmBuckets match {
      case Some(b) => bigramLogProbHashed(docs, idCol, textCol, b)
      case None    => bigramLogProb(docs, idCol, textCol)
    }
    val scored = lm
      .hint("shuffle_hash")
      .join(docs.select(col(idCol), col(strataCol)), Seq(idCol))
    scored
      .withColumn("bucket", ntile(nBuckets).over(Window.partitionBy(strataCol)
        .orderBy(col("avg_logprob").desc, col(idCol))))
      .select(col(idCol), col(strataCol), col("avg_logprob"), col("n_bigrams"),
        col("bucket"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === nBuckets, lit("tail"))
          .otherwise(lit("middle")).as("tier"))
  }

  /** Temperature-based corpus mixing (the multilingual-pretraining
    * resampler): per-stratum target shares ∝ share^alpha, alpha in (0, 1]
    * — alpha = 1 keeps the natural mix, smaller alpha flattens it toward
    * the tail. Returns one row per stratum (a null stratum included) with
    * its count `n`, observed share, target share and a downsample-only
    * `rate` normalised so the most upweighted stratum keeps everything —
    * feed the rates straight into [[stratifiedSample]]. All three are
    * rounded to 4 places.
    *
    * Runs its one aggregation when called: the corpus is grouped and
    * counted by stratum in one job, the O(strata) counts are collected,
    * and share, target and rate are derived on the driver. The result is
    * a local frame that reads no file. */
  def temperatureRates(df: org.apache.spark.sql.DataFrame, strataCol: String,
                       alpha: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val (stratumField, rates) = temperatureRateTable(df, strataCol, alpha)
    val schema = StructType(Seq(stratumField,
      StructField("n", LongType, nullable = false),
      StructField("share", DoubleType), StructField("target_share", DoubleType),
      StructField("rate", DoubleType)))
    df.sparkSession.createDataFrame(rates.map(r =>
      Row(r.stratum, r.n, r.share, r.targetShare, r.rate)).asJava, schema)
  }

  /** One row of the temperature rate table; `key` is the stratum cast to
    * string, the key [[stratifiedSample]] looks its fraction up by. */
  private final case class TemperatureRate(stratum: Any, key: String, n: Long,
                                           share: Double, targetShare: Double,
                                           rate: Double)

  /** The rate table behind [[temperatureRates]] and [[applyTemperature]]:
    * one `(stratum, n)` aggregation, collected, then the rate algebra on
    * the driver in Spark's own arithmetic, so the values equal those of
    * the same algebra written as column expressions. The total is a long
    * sum and the share `n.toDouble / total` (what `/` does on two longs);
    * the power is `StrictMath.pow` (what `pow` calls); the normaliser is a
    * left-to-right double sum in the collected row order; rounding is
    * `BigDecimal(x).setScale(4, HALF_UP)` (what `round` does on a double).
    * Also returns the stratum column's field, for the result schema. */
  private def temperatureRateTable(df: org.apache.spark.sql.DataFrame,
                                   strataCol: String, alpha: Double)
      : (org.apache.spark.sql.types.StructField, Seq[TemperatureRate]) = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
    val rows = counts
      .select(col(strataCol), col(strataCol).cast("string"), col("n"))
      .collect().toSeq
    val total = rows.map(_.getLong(2)).sum.toDouble
    val shares = rows.map(_.getLong(2) / total)
    val pw = shares.map(StrictMath.pow(_, alpha))
    val z = pw.foldLeft(0.0)(_ + _)
    val targets = pw.map(_ / z)
    val rates = targets.lazyZip(shares).map(_ / _)
    // rates are positive, so folding from 0.0 is their max (and an empty
    // table never reads it)
    val rmax = rates.foldLeft(0.0)(math.max)
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (counts.schema.fields(0), rows.indices.map { i =>
      TemperatureRate(rows(i).get(0), rows(i).getString(1), rows(i).getLong(2),
        round4(shares(i)), round4(targets(i)), round4(rates(i) / rmax))
    })
  }

  /** Temperature mixing APPLIED — the composition users actually run:
    * [[temperatureRates]]' share^alpha flattening rates feed
    * [[stratifiedSample]]'s deterministic hash-mod filter, returning the
    * resampled corpus itself rather than a rate table. Building the
    * frame runs one job: the `(stratum, n)` aggregation, whose O(strata)
    * rows are collected (the repo's legitimate-collect class — header
    * rows, centroid ids, never corpus-sized) and turned into rates on the
    * driver. The input's plan runs once for the rates and again when
    * the sample is read. The corpus pass stays
    * [[stratifiedSample]]'s narrow pushdown-friendly filter, zero
    * shuffle. Rates are used at their published 4-decimal rounding, so
    * the sample is bit-reproducible from the rate table alone — an
    * auditor can re-derive membership from the published rates without
    * re-running the aggregate. A NULL stratum counts in the totals, but
    * a null key cannot enter the fraction map, so its rows fall to
    * `defaultFraction` 1.0 and survive whole. Non-string strata are keyed
    * by their string cast. */
  def applyTemperature(df: org.apache.spark.sql.DataFrame, strataCol: String,
                       keyCol: String, alpha: Double): org.apache.spark.sql.DataFrame = {
    val fractions = temperatureRateTable(df, strataCol, alpha)._2
      .flatMap(r => Option(r.key).map(_ -> r.rate))
      .toMap
    stratifiedSample(df, strataCol, keyCol, fractions, defaultFraction = 1.0)
  }

  /** Deterministic stratified sampling: keep a row iff
    * md5(stratum ":" key) mod 10000 falls under its stratum's rate —
    * per-stratum rates rebalance a skewed corpus (downsample the dominant
    * language, keep the tail) with no RNG, so re-runs, backfills and
    * joins against a previous sample all agree row-for-row. A narrow
    * filter: no shuffle, no per-stratum pass, pushdown-friendly. */
  /** Deterministic weighted sampling without replacement — the
    * Efraimidis–Spirakis A-ES shape: every row gets the key
    * `ln(u) / w` (u a hash-derived uniform in (0, 1], w the row's
    * positive weight — e.g. a quality score) and the global top-k keys
    * are the sample. `ln(u)/w` is a strictly monotone transform of the
    * textbook `u^(1/w)`, so it selects the SAME rows while staying in
    * one libm call; heavier rows get keys closer to 0 and win more
    * often, and the whole draw is reproducible — no RNG, identical
    * sample on every run/backfill (the same contract as [[trainSplit]]
    * and [[stratifiedSample]]).
    *
    * Scale shape: the key is a narrow per-row expression; the top-k is
    * `orderBy(...).limit(k)`, which Spark executes as TakeOrdered —
    * per-partition heaps of size k merged on the driver, O(k) driver
    * state, never a global sort shuffle. Selection compares UNROUNDED
    * keys (two engines' libm `ln` may differ in the last ulp — a
    * decision flip needs two keys within ~1e-16, vanishing at any
    * corpus size); the emitted key is rounded for the oracle hash.
    *
    * Weights must be POSITIVE, and that is enforced by a filter, not
    * just assumed: with the descending-key sort a negative weight makes
    * `ln(u)/w` positive — beating every legitimate key (all ≤ 0) — and
    * w = 0 with u = 1 yields NaN, which Spark's descending sort places
    * FIRST; either way corrupt rows would silently dominate the sample.
    * Rows with `weight ≤ 0` (or null) are dropped from the draw — the
    * same treatment a zero-probability row gets in the A-ES paper. */
  def weightedSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                     weight: Column, k: Int): org.apache.spark.sql.DataFrame = {
    // u in (0, 1]: (h + 1) / 2^32 over the house md5-prefix hash
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    // + 0.0 canonicalises IEEE −0.0 (round of a tiny negative key) to
    // +0.0 — engines disagree on the sign rendering, not the value
    df.filter(weight > 0)
      .withColumn("_wkey", log(u) / weight)
      .orderBy(col("_wkey").desc, col(keyCol))
      .limit(k)
      .withColumn("sample_key", round(col("_wkey"), 4) + 0.0)
      .drop("_wkey")
  }

  def stratifiedSample(df: org.apache.spark.sql.DataFrame, strataCol: String,
                       keyCol: String, fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): org.apache.spark.sql.DataFrame = {
    // a stratum is keyed by its string cast, the fractions' key type (a
    // no-op on a string column; without it a non-string stratum fails
    // analysis in the map lookup)
    val stratum = col(strataCol).cast("string")
    // round, not truncate: (0.043 * 10000).toLong is 429; hundreds of
    // exact four-decimal fractions mis-truncate by one basis point
    val bps = coalesce(
      element_at(typedLit(fractions.view.mapValues(f => math.round(f * 10000)).toMap),
        stratum),
      lit(math.round(defaultFraction * 10000)))
    // a NULL stratum is its own stratum under defaultFraction — the hash
    // input coalesces so the comparison never goes NULL (which would
    // silently drop every null-stratum row)
    df.filter(
      conv(substring(md5(concat(coalesce(stratum, lit("")), lit(":"),
        col(keyCol).cast("string"))), 1, 8), 16, 10).cast("bigint") % 10000 < bps)
  }

  /** Per-document Gopher/RefinedWeb repetition-rule signals
    * ([[graft.functions.GopherScan]]): duplicate-line fraction (count
    * and character weighted), ellipsis-line fraction and the
    * most-frequent-word-2-gram character fraction — the standard
    * pretraining quality gates that [[quality]]'s length/punctuation
    * score cannot see (a long, punctuation-clean page of repeated
    * navigation chrome scores well there and is exactly what these
    * flags kill). One native row-local scan, zero shuffle; fractions
    * rounded to 4 places for cross-engine comparability. Callers
    * threshold downstream (the Gopher paper's cuts: dup_line_frac
    * > 0.30, dup_line_char_frac > 0.20, top_2gram_char_frac > 0.20,
    * ellipsis_line_frac > 0.30). */
  def gopherStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, sep: String = "\n"): org.apache.spark.sql.DataFrame =
    df.withColumn("_g",
        graft.functions.GopherScan.gopherScan(col(textCol), sep))
      .select(col(idCol),
        col("_g.n_lines").as("n_lines"),
        round(col("_g.dup_line_frac"), 4).as("dup_line_frac"),
        round(col("_g.dup_line_char_frac"), 4).as("dup_line_char_frac"),
        round(col("_g.ellipsis_line_frac"), 4).as("ellipsis_line_frac"),
        round(col("_g.top_2gram_char_frac"), 4).as("top_2gram_char_frac"))

  /** Blocklist hit scoring ([[graft.functions.LexiconScan]]): per-doc
    * token count, total lexicon occurrences, distinct terms hit and the
    * hit fraction (0.0 for empty docs) — the C4 bad-words gate in
    * thresholdable form. Case-insensitive, word-boundary, single native
    * row-local pass with the lexicon as a plan literal; zero shuffle. */
  def lexiconHits(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, terms: Seq[String]): org.apache.spark.sql.DataFrame =
    df.withColumn("_l",
        graft.functions.LexiconScan.lexiconScan(col(textCol), terms))
      .select(col(idCol),
        col("_l.n_tokens").as("n_tokens"),
        col("_l.n_hits").as("n_hits"),
        col("_l.n_terms_hit").as("n_terms_hit"),
        when(col("_l.n_tokens") === 0, lit(0.0))
          .otherwise(round(col("_l.n_hits").cast("double") / col("_l.n_tokens"), 4))
          .as("hit_frac"))

  /** Seeded deterministic corpus shuffle + fixed shard layout — the
    * training-order step: every row gets a `shard` in [0, `shards`) and
    * a 1-based `pos` within its shard, both pure functions of
    * (`seed`, key), so the epoch-0 data order is bit-reproducible
    * across runs, backfills and engines — `rand()` is none of those,
    * and changing `seed` is a fresh permutation with no reshuffle of
    * the underlying files. The 48-bit md5-prefix hash orders rows
    * within a shard (key as tiebreak, so even colliding hashes place
    * deterministically).
    *
    * Scale shape: one hash-keyed exchange into shard partitions plus a
    * per-shard streaming `row_number` (O(1) window state — rank never
    * buffers). Each shard funnels through ONE window task, so `shards`
    * is the parallelism floor: pick shards ≫ executor count (the file
    * count a dataloader wants anyway), NOT a handful. */
  def shuffleShards(df: org.apache.spark.sql.DataFrame, keyCol: String,
                    shards: Int, seed: String = "0"): org.apache.spark.sql.DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat_ws(":", lit(seed),
      col(keyCol).cast("string"))), 1, 12), 16, 10).cast("bigint")
    df.withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(shards.toLong)).cast("int"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("_h"), col(keyCol)))
        .cast("long"))
      .drop("_h")
  }

  /** Deterministic vocabulary build — the tokenizer-adjacent step: the
    * top `maxSize` words by (count desc, word asc) with count ≥
    * `minCount`, assigned dense ids 0..V−1 in exactly that order, so two
    * engines (or two runs over the same corpus) mint identical ids.
    * Returns (word, id, count).
    *
    * Scale shape: one word-keyed count shuffle (the corpus's only wide
    * pass), then `orderBy(…).limit(maxSize)` — Spark's TakeOrdered:
    * per-partition top-V heaps merged on the driver, O(V) driver state,
    * never a global sort. The id-assignment window runs UNPARTITIONED
    * by design: its input is already the V-row cut (V-bounded, a plan
    * literal in spirit), not the corpus. */
  def buildVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 maxSize: Int, minCount: Long): org.apache.spark.sql.DataFrame = {
    require(maxSize > 0 && minCount >= 1, "need maxSize > 0 and minCount >= 1")
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("count"))
      .filter(col("count") >= minCount)
      .orderBy(col("count").desc, col("word"))
      .limit(maxSize)
      .withColumn("id",
        row_number().over(Window.orderBy(col("count").desc, col("word"))) - 1)
      .select(col("word"), col("id").cast("long").as("id"), col("count"))
  }

  /** Token-id encoding against a [[buildVocab]] vocabulary: per doc, the
    * token count, the out-of-vocabulary count, and an ORDER-SENSITIVE
    * fingerprint of the id sequence (md5 of the comma-joined ids in
    * token order, OOV as −1) — the contract a downstream trainer checks
    * to know two pipelines tokenised identically. Docs with no tokens
    * produce no row (they have no id sequence to fingerprint).
    *
    * Scale shape: the vocab side is `maxSize`-bounded by construction,
    * so the token→id lookup is a broadcast-hash join on the narrow
    * exploded stream; the only wide pass is the doc-keyed re-aggregation
    * (collect in (pos, id) struct order — `sort_array` gives the
    * deterministic sequence regardless of partition arrival order). */
  def encodeTokens(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String,
                   vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    toks.join(broadcast(vocab.select(col("word").as("w"), col("id").as("_vid"))),
        Seq("w"), "left")
      .withColumn("tid", coalesce(col("_vid"), lit(-1L)))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === -1L, 1L).otherwise(0L)).as("n_oov"),
        md5(array_join(
          sort_array(collect_list(struct(col("pos").as("pos"), col("tid").as("tid"))))
            .getField("tid").cast("array<string>"), ",")).as("ids_fp"))
  }

  /** Sliding token-window chunking — the context-windowing step between
    * a document corpus and a RAG index or fixed-window trainer: each doc
    * becomes ⌈(n − overlap) / (size − overlap)⌉ chunks of `size` tokens
    * stepping by `size − overlap`, the last chunk clamped to the doc's
    * end (never empty, never past-end; a doc at or under `size` tokens
    * is exactly one whole-doc chunk). Emits
    * (…row, chunk_id, start_tok, n_tok, chunk) — `start_tok` 0-based,
    * `chunk` the space-joined token window. A NULL text has no token
    * array, so the generator DROPS the row (the [[encodeTokens]]
    * token-less contract; an empty string still yields one "" chunk) —
    * pinned by the null-contract test.
    *
    * Scale shape: narrow start to finish — `split` once per row,
    * `posexplode(sequence(…))` fans out chunk ordinals IN-ROW, `slice` +
    * `array_join` build each window natively (no higher-order function
    * anywhere, so the whole chain stays codegen'd). Output rows ≈
    * input tokens · size/(size−overlap) / size — the fan-out is the
    * overlap factor, not a join. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                  size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    // materialise the split and its length ONCE and reference the aliases
    // (multi-referenced aliases survive CollapseProject) — re-citing the
    // split expression per consumer is the repo's documented
    // re-evaluation trap
    val n = col("_n")
    val nChunks = when(n <= size, lit(1))
      .otherwise(ceil((n - lit(overlap)).cast("double") / stride).cast("int"))
    df.withColumn("_toks", split(col(textCol), " "))
      .withColumn("_n", size_(col("_toks")))
      .select(col("*"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_id", "_ord")))
      .withColumn("start_tok", col("_ord") * stride)
      .withColumn("n_tok", least(lit(size), col("_n") - col("start_tok")))
      .withColumn("chunk",
        array_join(slice(col("_toks"), col("start_tok") + 1, col("n_tok")), " "))
      .drop("_toks", "_n", "_ord")
  }

  // functions.size clashes with the `size` parameter name above
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Corpus-relative quality gate: keep rows whose (pre-rounded) quality
    * score clears the corpus MEAN — the self-calibrating filter a
    * pipeline runs when no absolute threshold is known for the corpus.
    * The threshold is one O(1)-row aggregate broadcast back over the
    * corpus (the [[temperatureRates]] shape), then a narrow filter: two
    * scans, no wide shuffle, no driver state. The mean — not a
    * percentile — is deliberate: Spark's exact `percentile` buffers
    * every value per aggregation state, which is driver-hostile at
    * 100 TB, while a mean is a constant-size accumulator. Both the
    * per-row score and the threshold must already be rounded (4 dp
    * house convention) so the boundary comparison is engine-portable.
    * Emits the threshold as `q_threshold` for auditability. */
  def qualityFilter(df: org.apache.spark.sql.DataFrame,
                    quality: Column): org.apache.spark.sql.DataFrame =
    df.withColumn("_q", quality)
      .crossJoin(broadcast(
        df.agg(round(avg(quality), 4).as("q_threshold"))))
      .filter(col("_q") >= col("q_threshold"))
      .drop("_q")

  /** Per-stratum score calibration: each row's `percent_rank` of
    * `score` WITHIN its stratum — the step that makes one global
    * quality threshold meaningful across languages (absolute scores are
    * not comparable between strata: a length/punctuation score's scale
    * depends on the language's orthography, so a global cut silently
    * starves whole languages; rank-within-stratum is the standard
    * calibration). Ties are broken by `tieCol` (unique) for a total
    * order, so ranks are bit-deterministic and engine-portable; rounded
    * to 4 places. Keep the top X% per stratum with
    * `filter(col(out) >= 1 - x)`.
    *
    * Scale shape: one stratum-keyed exchange + sort; percent_rank
    * streams with O(1) state, but each stratum funnels through ONE
    * window task (the [[packSequences]] shards=1 caveat) — fine when
    * strata are languages/sources (dozens to thousands), wrong for
    * high-cardinality strata. */
  def calibrateByStratum(df: org.apache.spark.sql.DataFrame, strataCol: String,
                         score: Column, tieCol: String,
                         out: String = "q_rank"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(out, round(percent_rank().over(
      Window.partitionBy(col(strataCol)).orderBy(score, col(tieCol))), 4))
  }

  /** Per-group document cap: keep at most `cap` rows per group in
    * `order` (ties MUST be broken by a unique column for a deterministic
    * kept-set). The classic crawl-pipeline guard against a single
    * domain/source flooding the corpus.
    *
    * Scale shape: the rank-filter pair compiles to Spark's
    * `WindowGroupLimit` physical node (pinned by PlanQualitySpec) — each
    * map task keeps a per-group top-`cap` heap BEFORE the exchange, so
    * the shuffle carries O(groups · cap) rows, not the corpus. A flooded
    * source at 100 TB is exactly the skew case this matters for: the
    * window partition never materialises the flood, only its first
    * `cap` survivors per input partition. */
  def capPerGroup(df: org.apache.spark.sql.DataFrame, groupCol: String,
                  order: Seq[Column], cap: Int,
                  out: String = "rk"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(out,
        row_number().over(Window.partitionBy(groupCol).orderBy(order: _*)))
      .filter(col(out) <= cap)
  }

  /** Greedy token-budget selection: per group, take rows in `order`
    * (best first; ties MUST be broken unique) until their cumulative
    * `tokens` reaches `fraction` of the group's total — "the best 30% of
    * tokens per language", the data-mixing selection step between
    * scoring and packing. The group total rides the SAME window
    * partition as the running sum (an unbounded frame over an already
    * shuffled+sorted partition), so the whole operator is ONE exchange.
    * A row is kept iff the budget still has room BEFORE it is added
    * (`cum − tokens < fraction·total`), so selection always admits at
    * least one row per group and never stalls on an oversized head.
    * Token counts are integral: the running sum is exact long
    * arithmetic, and the only FP is the fraction·total product — the
    * same double in any engine.
    *
    * Scale shape: one hash exchange on `groupCol` + per-partition sort.
    * For a dominant group whose partition would serialise, shard it with
    * the [[packSequences]] `shards` stitching — same two-phase running
    * sum, measured there at 3.6× for 100×. */
  def tokenBudgetSelect(df: org.apache.spark.sql.DataFrame, groupCol: String,
                        tokens: Column, order: Seq[Column],
                        fraction: Double): org.apache.spark.sql.DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction must be in (0, 1], got $fraction")
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(groupCol)
    val run = part.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_tok", tokens.cast("long"))
      .withColumn("cum_tokens", sum(col("_tok")).over(run))
      .withColumn("_total", sum(col("_tok")).over(part))
      .filter((col("cum_tokens") - col("_tok")).cast("double") <
        lit(fraction) * col("_total").cast("double"))
      .drop("_tok", "_total")
  }

  // ---------------------------------------------------------------------
  // Subword (BPE) tokenizer training — the step past [[buildVocab]]'s
  // word-level contract: learn an ordered merge list from the corpus,
  // then encode any text with it.
  // ---------------------------------------------------------------------

  /** Symbol-sequence framing: each symbol is wrapped as ␂sym␃
    * (U+0002 sym U+0003), so a merge (a, b) → ab is LITERAL string surgery —
    * `replace(repr, "␂a␃␂b␃", "␂ab␃")` — with exactly BPE's greedy
    * left-to-right non-overlap semantics ("aaa" under (a,a) → [aa, a]),
    * and no delimiter-sharing ambiguity (each symbol carries its own
    * fences, so (a, b) can never fire inside (a, bc)). Both engines'
    * literal `replace` scan left to right and resume after the
    * replacement, which is precisely the merge rule — the whole training
    * loop stays in codegen'd string ops, no UDF, no lambda. */
  private val SymL = "\u0002"
  private val SymR = "\u0003"
  private def charsToRepr(c: Column): Column =
    regexp_replace(c, "(.)", SymL + "$1" + SymR)
  private def reprToSyms(c: Column): Column =
    regexp_extract_all(c, lit(SymL + "([^" + SymR + "]*)" + SymR), lit(1))

  /** Distributed byte-pair-encoding training
    * (Sennrich/Haddow/Birch 2016's word-frequency formulation),
    * SPECULATIVE-BATCH edition: collapse the corpus to its distinct-word
    * frequency table ONCE (the corpus's only wide pass — pair statistics
    * are identical because a pair occurs `freq` times per distinct word,
    * never across word boundaries), then commit merges in ROUNDS of up
    * to `specBatch + 1` instead of one Spark job per merge:
    *
    *  1. The driver guesses a tentative merge sequence T (up to
    *     `specBatch` pairs) by running the EXACT greedy argmax on a
    *     bounded SAMPLE — the top-`sampleWords` words by frequency,
    *     kept in lockstep with the committed merges. Sample-BPE sees
    *     created-pair winners ((th,e) immediately after (t,h)), the
    *     failure mode that capped speculate-over-existing-pairs
    *     variants at ~2-4 verified merges per round (both window
    *     heuristics were built and measured before this one; plain
    *     symbol-disjointness is additionally NOT order-equivalent —
    *     a merge can boost a pair that tie-break-beats a later
    *     tentative pair, so a batch without verification would be
    *     silently wrong). The sample is a HEURISTIC ONLY; correctness
    *     never depends on it. When the corpus has ≤ `sampleWords`
    *     distinct words the sample is exact and every round verifies
    *     fully.
    *  2. ONE distributed pass simulates T per word: each word applies
    *     the tentative merges in order (the exact greedy left-to-right
    *     literal-replace semantics) and emits its pair-count DELTAS per
    *     step. Aggregated, this yields the EXACT pair-count trajectory
    *     `c_s` after each prefix T[1..s] — per-word state evolution is
    *     row-local, so the whole trajectory costs one shuffle.
    *  3. The driver reads the per-state argmaxes (engine-side
    *     `min(struct(-count, l, r))` — the (count desc, left asc,
    *     right asc) total order both engines share) and commits the
    *     longest prefix of T that MATCHES the true argmax at every
    *     step, plus ONE more merge: the argmax at the first divergent
    *     state, which is exact because all earlier states verified.
    *     The committed trajectory is therefore bit-identical to the
    *     sequential algorithm's, by construction.
    *
    * When the +1-overfetched sample turns out to COVER the whole
    * distinct-word table (≤ `sampleWords` words), speculation is not a
    * heuristic at all: sample-BPE on the full table IS the engine's
    * argmax rule (same weighted counts, same UTF-8 code-point
    * tie-break — [[bpeGreedyTrajectory]]), so training completes
    * driver-side off that ONE distributed job, bit-identical by the
    * same argument with zero simulation rounds. Real corpora overflow
    * the sample and take the speculative engine; the exact path kills
    * the small-table scheduling floor (a 31-word table needs no
    * cluster).
    *
    * Scale shape: the word table is persisted (MEMORY_AND_DISK, freed
    * in a finally — distinct words of a 100 TB corpus are GBs, not
    * TBs); each ROUND is one flatMap + bounded hash aggregate over it
    * collected as one single-row argmax action (O(specBatch) driver
    * state — the centroid convention), and merge application is a
    * narrow literal-replace projection, never a join. Speculation
    * depth is ADAPTIVE: it doubles after a fully-verified round (to a
    * 64-state cap — the argmax aggregate carries m+1 generated
    * columns, the measured K-proportional-codegen ceiling) and halves
    * (floor 1) after a correction, so a well-predicted trajectory
    * converges to K/64 rounds and a persistently mispredicted one
    * stops paying deep per-word simulation, without a tuning knob. K
    * merges ≈ K / (specBatch+1) rounds even without growth
    * (Zipf-shaped pair counts make non-interacting top pairs the
    * common case); a mismatched round still commits ≥ 1 exact merge,
    * so the WORST case equals the old merge-per-job engine, and the
    * r12 measured K-job serialization (What's wrong #2) is gone. Words
    * containing the framing control chars U+0002/U+0003 are dropped
    * from training — they cannot be framed faithfully.
    *
    * Training stops early if no pair remains (every word fully merged);
    * the returned model then has fewer than `numMerges` ranks.
    * [[bpeTrainSequential]] keeps the merge-per-job engine as the
    * parity REFERENCE (BpeSpec pins the two equal on randomized and
    * adversarial corpora). */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, materializeEvery: Int = 8,
               specBatch: Int = 16, sampleWords: Int = 4096,
               checkpointDir: Option[String] = None): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(materializeEvery >= 1,
      s"materializeEvery must be >= 1, got $materializeEvery")
    require(specBatch >= 0, s"specBatch must be >= 0, got $specBatch")
    require(sampleWords >= 0, s"sampleWords must be >= 0, got $sampleWords")
    val spark = docs.sparkSession
    import spark.implicits._
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(SymL) && !col("word").contains(SymR))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(mem)
    // speculation sample: the frequency head of the word table (word
    // tie-break for determinism) — one bounded TakeOrdered on the
    // already-persisted frame. The +1 overfetch detects EXACTNESS: if
    // the table has ≤ sampleWords distinct words the sample IS the
    // corpus, sample-BPE is the engine's own argmax rule (same counts,
    // same UTF-8 tie-break), and training completes DRIVER-SIDE off
    // this one job — no simulation rounds at all. Real 100 TB corpora
    // overflow any sample and take the speculative engine below; the
    // exact path is the small-table floor-killer (a merge-per-job
    // engine on a 31-word table is pure scheduling overhead).
    val sample: Array[(Long, String)] = wordFreq
      .orderBy(col("freq").desc, col("word")).limit(sampleWords + 1)
      .select(col("freq").cast("long"), col("word"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    if (sample.length <= sampleWords) {
      wordFreq.unpersist()
      val alphabet = sample
        .flatMap { case (_, w) =>
          w.codePoints().toArray.map(cp => new String(Character.toChars(cp))) }
        .distinct.sortWith(utf8Less).toSeq
      val st = sample.map { case (f, w) =>
        (f, w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))
      }
      return BpeModel(alphabet, bpeGreedyTrajectory(st, numMerges)._1)
    }
    val alphabet = wordFreq
      .select(explode(split(col("word"), "")).as("c"))
      .filter(col("c") =!= "").distinct().orderBy("c")
      .collect().map(_.getString(0)).toSeq
    // Rolling checkpoint (localCheckpoint by default, parquet spill
    // under `checkpointDir` on clusters — TextDedup.cluster's loop
    // convention): each materialization CUTS the plan lineage, so a
    // correction-heavy K≈32k run never accumulates hundreds of nested
    // cached-plan layers (measured: the layered lineage OOM'd the plan
    // string builder itself around round ~250 before this).
    val roll = new graft.runtime.Checkpoints.Rolling(spark, checkpointDir)
    var cur = roll(wordFreq.select(col("freq"), charsToRepr(col("word")).as("repr")))
    wordFreq.unpersist()
    try {
      var pending = Vector.empty[(String, String)]
      def reprCol: Column = pending.foldLeft(col("repr")) {
        case (acc, (l, r)) =>
          replace(acc, lit(SymL + l + SymR + SymL + r + SymR), lit(SymL + l + r + SymR))
      }
      val merges = Seq.newBuilder[(String, String, Long)]
      var done = 0
      var exhausted = false

      // Driver-side speculation state: the top-`sampleWords` words by
      // frequency (O(V) driver state — the centroid convention), kept in
      // lockstep with the committed merges. Running the EXACT greedy
      // argmax on this sample ([[bpeGreedyTrajectory]] — same counts,
      // same UTF-8 tie-break as the engine) predicts the true trajectory
      // INCLUDING created-pair winners ((th,e) right after (t,h)) — the
      // failure mode that capped window-of-existing-pairs speculation at
      // ~2-4 verified merges per round (measured; see scaladoc). Tail
      // words outside the sample can still flip close argmaxes — that
      // only truncates the verified prefix, never commits wrongly.
      var sampleState: Array[(Long, Array[String])] = sample.map { case (f, w) =>
        // split into code points — charsToRepr's "(.)" regex semantics
        (f, w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))
      }

      // Adaptive speculation depth: double (to a 64-state cap — the
      // argmax aggregate carries m+1 generated columns, the
      // K-proportional-codegen ceiling) after a fully-verified round,
      // halve back toward `specBatch` after a correction. The K=256
      // campaign measured M=32 beating M=16 when the sample keeps
      // verifying; this buys that without a tuning knob.
      var curBatch = specBatch

      while (!exhausted && done < numMerges) {
        val spec = bpeGreedyTrajectory(sampleState,
          math.min(curBatch, numMerges - done - 1))._1.map(t => (t._1, t._2))
        val m = spec.size
        val pre = pending
        // one distributed pass: per word, apply committed-but-unmaterialized
        // merges, emit base pair counts (step 0) and per-step deltas under
        // the tentative merges — the exact count trajectory, one shuffle
        val simRows = cur.select(col("freq").cast("long"), col("repr"))
          .as[(Long, String)]
          .flatMap { case (freq, repr) =>
            var syms = bpeParseRepr(repr)
            pre.foreach { case (l, r) => syms = bpeApplyMerge(syms, l, r) }
            val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Long)]
            var counts = bpePairCounts(syms)
            counts.foreach { case ((l, r), c) => out += ((l, r, 0, c * freq)) }
            var step = 1
            spec.foreach { case (l, r) =>
              if (counts.getOrElse((l, r), 0L) > 0L) {
                syms = bpeApplyMerge(syms, l, r)
                val after = bpePairCounts(syms)
                after.foreach { case (p, c) =>
                  val d = c - counts.getOrElse(p, 0L)
                  if (d != 0L) out += ((p._1, p._2, step, d * freq))
                }
                counts.foreach { case (p, c) =>
                  if (!after.contains(p)) out += ((p._1, p._2, step, -c * freq))
                }
                counts = after
              }
              step += 1
            }
            out
          }
        val cCols = (0 to m).map(s =>
          sum(when(col("step") <= s, col("d")).otherwise(lit(0L))).as(s"c$s"))
        // single-use aggregate — collected once, so no persist
        val pairSteps = simRows.toDF("l", "r", "step", "d")
          .groupBy("l", "r").agg(cCols.head, cCols.tail: _*)
        val argmaxCols = (0 to m).map(s =>
          min(when(col(s"c$s") >= 1L,
            struct((-col(s"c$s")).as("nc"), col("l"), col("r")))).as(s"a$s"))
        val row = pairSteps.select(argmaxCols: _*).collect()(0)
        var s = 0 // states 0..m; s = verified prefix length so far
        val roundCommitted = Vector.newBuilder[(String, String)]
        var continueRound = true
        var corrected = false
        while (continueRound && done < numMerges) {
          if (row.isNullAt(s)) { // no pair left after s verified merges
            exhausted = true; continueRound = false
          } else {
            val st = row.getStruct(s)
            val (cnt, al, ar) = (-st.getLong(0), st.getString(1), st.getString(2))
            merges += ((al, ar, cnt))
            pending :+= ((al, ar))
            roundCommitted += ((al, ar))
            done += 1
            if (s < m && spec(s) == ((al, ar))) s += 1 // verified: next state
            else if (s < m) { corrected = true; continueRound = false }
            else continueRound = false // spec fully consumed: round complete
          }
        }
        // double after a fully-verified round; halve (floor 1 — a
        // persistently wrong sample must not keep paying 16-deep
        // simulation for 1-merge rounds) after a correction
        curBatch =
          if (corrected) math.max(1, curBatch / 2)
          else math.min(math.max(curBatch * 2, curBatch), 64)
        // keep the speculation sample in lockstep with the commits
        // (a corrected merge absent from the sample applies as identity)
        val rc = roundCommitted.result()
        if (rc.nonEmpty && !exhausted && done < numMerges)
          sampleState = sampleState.map { case (f, syms) =>
            (f, rc.foldLeft(syms) { case (a, (l, r)) => bpeApplyMerge(a, l, r) })
          }
        if (pending.size >= materializeEvery && done < numMerges && !exhausted) {
          cur = roll(cur.select(col("freq"), reprCol.as("repr")))
          pending = Vector.empty
        }
      }
      BpeModel(alphabet, merges.result())
    } finally { cur.unpersist(); () }
  }

  /** Code-point order — identical to the engine's UTF8String binary
    * ordering (UTF-8 byte order IS code-point order), where Java's
    * `String.compareTo` (UTF-16 unit order) diverges for supplementary
    * characters vs U+E000..U+FFFF. The driver-side greedy argmax MUST
    * use this ordering for its tie-breaks to be exact. */
  private[operators] def utf8Less(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    i == a.length && j < b.length
  }

  /** Greedy BPE over an in-memory (freq, symbols) word table: argmax by
    * (count desc, left asc, right asc) — the EXACT (and exactly
    * tie-broken) rule the distributed argmax applies — for up to
    * `maxSteps` merges, with weighted counts. Mutates nothing; returns
    * the (possibly shorter, if pairs run out) trajectory and the final
    * state. Used as the speculation HEURISTIC over a frequency-head
    * sample, and as the EXACT trainer when the sample is the whole
    * distinct-word table. */
  private[operators] def bpeGreedyTrajectory(
      state: Array[(Long, Array[String])], maxSteps: Int)
      : (Vector[(String, String, Long)], Array[(Long, Array[String])]) = {
    var st = state
    val out = Vector.newBuilder[(String, String, Long)]
    var n = 0
    var go = true
    while (go && n < maxSteps) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      st.foreach { case (f, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) go = false
      else {
        val best = counts.keysIterator.reduceLeft { (a, b) =>
          val ca = counts(a); val cb = counts(b)
          if (ca > cb) a
          else if (cb > ca) b
          else if (utf8Less(a._1, b._1)) a
          else if (a._1 != b._1) b
          else if (utf8Less(a._2, b._2) || a._2 == b._2) a
          else b
        }
        out += ((best._1, best._2, counts(best)))
        st = st.map { case (f, syms) => (f, bpeApplyMerge(syms, best._1, best._2)) }
        n += 1
      }
    }
    (out.result(), st)
  }

  /** Parse a framed repr (␂sym␃␂sym␃…) back to its symbol array. */
  private[operators] def bpeParseRepr(repr: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = repr.length
    while (i < n) {
      // repr is machine-built: SymL at i, matching SymR closes the symbol
      val j = repr.indexOf(SymR, i + 1)
      out += repr.substring(i + 1, j)
      i = j + 1
    }
    out.toArray
  }

  /** Greedy left-to-right non-overlapping merge — EXACTLY the literal
    * `replace(␂l␃␂r␃ → ␂lr␃)` semantics the repr engine applies: scan,
    * merge on match, resume AFTER the replacement ("aaa" under (a,a) →
    * [aa, a]). Identity when the pair never occurs. */
  private[operators] def bpeApplyMerge(syms: Array[String], l: String,
                                       r: String): Array[String] = {
    var i = 0
    val n = syms.length
    var found = false
    while (!found && i < n - 1) {
      if (syms(i) == l && syms(i + 1) == r) found = true else i += 1
    }
    if (!found) syms
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = 0
      while (k < i) { out += syms(k); k += 1 }
      while (k < n) {
        if (k < n - 1 && syms(k) == l && syms(k + 1) == r) {
          out += (l + r); k += 2
        } else { out += syms(k); k += 1 }
      }
      out.toArray
    }
  }

  /** Adjacent-pair occurrence counts of one word's symbol array. */
  private[operators] def bpePairCounts(
      syms: Array[String]): scala.collection.mutable.HashMap[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var i = 0
    while (i < syms.length - 1) {
      val k = (syms(i), syms(i + 1))
      m.update(k, m.getOrElse(k, 0L) + 1L)
      i += 1
    }
    m
  }

  /** The merge-per-job engine [[bpeTrain]] replaced — kept as the parity
    * REFERENCE for the speculative round engine (BpeSpec pins the two
    * equal on randomized and adversarial corpora; a drift in the
    * simulate/verify logic fails the property, not the oracle three
    * rounds later). One full pair-count aggregate + argmax collect per
    * merge: K sequential Spark jobs — the r12-measured scale-killer. */
  private[graft] def bpeTrainSequential(docs: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int, materializeEvery: Int = 8): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(materializeEvery >= 1,
      s"materializeEvery must be >= 1, got $materializeEvery")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(SymL) && !col("word").contains(SymR))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(mem)
    // alphabet: distinct single chars, Spark's binary string order
    // (NOT a driver-side Scala sort — UTF-16 code-unit order diverges
    // from UTF-8 binary order outside ASCII, and the oracle sorts
    // engine-side)
    val alphabet = wordFreq
      .select(explode(split(col("word"), "")).as("c"))
      .filter(col("c") =!= "").distinct().orderBy("c")
      .collect().map(_.getString(0)).toSeq
    // Working state: (freq, repr) with repr MATERIALIZED into the
    // persisted table every `materializeEvery` merges. Without the
    // batching, iteration i's scan re-evaluates all i prior replaces
    // (O(K²) work total) and the projection's generated code grows
    // linearly with K — the janino/JIT code-size ceiling this repo has
    // measured elsewhere (SCALING.md, K-proportional codegen). With it,
    // per-scan expression depth is ≤ materializeEvery and total work is
    // O(K) scans of the word table. Rolling checkpoint so each
    // materialization also CUTS the plan lineage (K/materializeEvery
    // nested cached-plan layers OOM'd the driver around K≈250 before).
    val roll = new graft.runtime.Checkpoints.Rolling(docs.sparkSession, None)
    var cur = roll(wordFreq.select(col("freq"), charsToRepr(col("word")).as("repr")))
    wordFreq.unpersist()
    try {
      var pending = Vector.empty[(String, String)]
      def reprCol: Column = pending.foldLeft(col("repr")) {
        case (acc, (l, r)) =>
          replace(acc, lit(SymL + l + SymR + SymL + r + SymR), lit(SymL + l + r + SymR))
      }
      val merges = Seq.newBuilder[(String, String, Long)]
      var exhausted = false
      for (i <- 1 to numMerges if !exhausted) {
        val best = cur
          .select(col("freq"), reprToSyms(reprCol).as("_syms"))
          .filter(size(col("_syms")) >= 2)
          // slice length = the actual symbol count (a fixed literal cap
          // would silently drop pair statistics of over-length words —
          // the no-silent-caps rule; advisor finding r12)
          .withColumn("_l", slice(col("_syms"), lit(1), size(col("_syms")) - 1))
          .withColumn("_r", slice(col("_syms"), lit(2), size(col("_syms")) - 1))
          .select(col("freq"), explode(arrays_zip(col("_l"), col("_r"))).as("_p"))
          .filter(col("_p._r").isNotNull)
          .groupBy(col("_p._l").as("l"), col("_p._r").as("r"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((l, r, c))
          pending :+= ((l, r))
          if (pending.size >= materializeEvery && i < numMerges) {
            cur = roll(cur.select(col("freq"), reprCol.as("repr")))
            pending = Vector.empty
          }
        }
      }
      BpeModel(alphabet, merges.result())
    } finally { cur.unpersist(); () }
  }

  /** The [[bpeTrain]] merge list as a DataFrame —
    * (rank, left_sym, right_sym, merged, pair_count), rank 1-based in
    * merge order. O(K) rows from driver state. */
  def bpeMergesDf(spark: org.apache.spark.sql.SparkSession,
                  model: BpeModel): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r, c), i) => ((i + 1).toLong, l, r, l + r, c) }
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** BPE encoding against a trained model: tokenize exactly as training
    * did, frame each word's characters, apply the K merges in rank order
    * (the training-parity contract: encode IS the training loop replayed
    * on one word), split back to symbols and map them to vocabulary ids.
    * Emits one row per (doc, word, symbol) —
    * (idCol, word_idx, sym_idx, token_id), both indices 0-based — the
    * id sequence in (word_idx, sym_idx) order. A character outside the
    * training alphabet stays a lone unmergeable symbol and encodes as
    * −1 (the OOV contract, [[encodeTokens]]'s convention).
    *
    * Scale shape: ONE native segmentation call per word row
    * ([[graft.functions.BpeSegment]] — the merge loop over a small
    * in-memory symbol array, merge table plan-literal via
    * `addReferenceObj`; it replaced a per-word chain of one
    * `regexp_replace` + K literal replaces + one `regexp_extract_all`
    * whose ~18 intermediate allocations were the measured cost), an
    * in-row posexplode fan-out, and ONE broadcast-hash join against the
    * O(A+K) vocabulary. No shuffle at all. The replace-chain rendering
    * remains the training loop's incremental form and the parity
    * reference ([[bpeEncodeReplaceChain]], property-pinned in BpeSpec). */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, model: BpeModel): org.apache.spark.sql.DataFrame = {
    // id lookup through the in-row VocabId hash probe, not a broadcast
    // join: on the exploded (doc, word, sym) frame the join's per-row
    // broadcast-relation probe measured 4x the whole encode at sf10
    // (BENCH_uniencab_r17_sf10.json: 12.6 vs 3.2 s on the unigram twin
    // of this shape); the hash probe stays inside the projection's
    // codegen. OOV -> -1 is VocabId's own contract. The replace-chain
    // parity reference below keeps the join as an independent rendering.
    docs.select(col(idCol), posexplode(words(col(textCol))).as(Seq("word_idx", "_w")))
      .filter(col("_w") =!= "")
      .select(col(idCol), col("word_idx"),
        posexplode(graft.functions.BpeSegment.bpeSegment(col("_w"),
          model.merges.map(m => (m._1, m._2)))).as(Seq("sym_idx", "_sym")))
      .select(col(idCol), col("word_idx"), col("sym_idx"),
        graft.functions.VocabId.vocabId(col("_sym"), model.vocab)
          .as("token_id"))
  }

  /** The composable replace-chain rendering of [[bpeEncode]] — the
    * training loop's own framing/replace semantics applied from
    * scratch, kept as the parity REFERENCE for the native
    * [[graft.functions.BpeSegment]] fast path (BpeSpec pins them
    * equal on randomized words; a semantics drift in the native merge
    * loop fails the property, not the oracle three rounds later). */
  private[graft] def bpeEncodeReplaceChain(docs: org.apache.spark.sql.DataFrame,
                                           idCol: String, textCol: String,
                                           model: BpeModel): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabDf = model.vocab.toDF("_sym", "_vid")
    val merged = model.merges.foldLeft(charsToRepr(col("_w"))) {
      case (acc, (l, r, _)) =>
        replace(acc, lit(SymL + l + SymR + SymL + r + SymR), lit(SymL + l + r + SymR))
    }
    docs.select(col(idCol), posexplode(words(col(textCol))).as(Seq("word_idx", "_w")))
      .filter(col("_w") =!= "")
      .withColumn("_repr", merged)
      .select(col(idCol), col("word_idx"),
        posexplode(reprToSyms(col("_repr"))).as(Seq("sym_idx", "_sym")))
      .join(broadcast(vocabDf), Seq("_sym"), "left")
      .select(col(idCol), col("word_idx"), col("sym_idx"),
        coalesce(col("_vid"), lit(-1L)).as("token_id"))
  }

  /** A trained unigram-LM tokenizer (Kudo 2018, "Subword Regularization:
    * Improving Neural Network Translation Models with Multiple Subword
    * Candidates") — the OTHER mainstream subword algorithm next to
    * [[BpeModel]]: the surviving pieces with their unigram
    * probabilities. O(vocab) driver state, the codebook convention.
    * `oovLogProb` is the score a single out-of-vocabulary character
    * takes in Viterbi decoding (it encodes as −1 — [[BpeModel]]'s OOV
    * contract). */
  final case class UnigramModel(pieces: Seq[(String, Double)],
                                maxPieceLen: Int,
                                oovLogProb: Double = -100.0) {
    /** (piece, id): 0-based rank in piece SORT order — a float-free id
      * convention, so ids never hinge on probability near-ties. The sort
      * is UTF-8/code-point order ([[TextStats.utf8Less]]), matching the
      * engine's UTF8String binary ordering and the oracle's
      * `row_number() OVER (ORDER BY piece)` (UTF-8 binary) — Java's
      * default `.sorted` (UTF-16 unit order) would assign different ids
      * for supplementary-plane pieces vs U+E000..U+FFFF. */
    def vocab: Seq[(String, Long)] =
      pieces.map(_._1).sortWith(TextStats.utf8Less)
        .zipWithIndex.map { case (s, i) => (s, i.toLong) }

    /** (piece, ln p) — the Viterbi edge weights. */
    def logProbs: Seq[(String, Double)] =
      pieces.map { case (s, p) => (s, math.log(p)) }
  }

  /** Distributed unigram-LM tokenizer training (Kudo 2018's EM
    * formulation, deterministic fixed schedule):
    *
    *  1. Collapse the corpus to its distinct-word frequency table ONCE
    *     (the only corpus-wide pass — the [[bpeTrain]] collapse: piece
    *     statistics are per-word, never across word boundaries).
    *  2. SEED: every 1..`maxPieceLen` code-point substring, counted
    *     with multiplicity and weighted by word frequency — INTEGER
    *     counts, so seeding is exactly reproducible cross-engine. Keep
    *     all single characters plus the top `seedMulti` longer pieces
    *     by (count · len desc, piece asc) — SentencePiece's
    *     count-times-length seed score. Initial p ∝ that score.
    *  3. EM × `emIters`: the E-step runs forward–backward over each
    *     word's segmentation lattice row-locally
    *     ([[graft.functions.UnigramEStep]], piece table plan-literal),
    *     ONE narrow projection + ONE bounded hash aggregate + an
    *     O(vocab) collect per iteration; the M-step renormalises on the
    *     driver (piece-sorted, so the driver-side sum order is
    *     deterministic).
    *  4. PRUNE to `vocabMulti` multi-character pieces by posterior
    *     probability (rounded to 10 dp, piece-asc tie-break — the house
    *     rounded-key convention, so exact-by-symmetry ties resolve
    *     identically in both engines); single characters are never
    *     pruned, so every word stays segmentable. Renormalise, then
    *     EM × `emIters` again to settle the survivors.
    *
    * Documented simplifications vs the SentencePiece trainer: plain MLE
    * EM (no Bayesian digamma smoothing), ONE prune round (the paper
    * loops shrink-by-25% rounds; the mechanics here are the same loop
    * body), and posterior-probability pruning rather than the
    * likelihood-loss criterion. Scale shape: the word table is
    * persisted once and freed in a finally; every EM iteration is one
    * flatMap-shaped projection + bounded aggregate over it (at 100 TB
    * the distinct-word table is GBs, and iteration count is fixed —
    * nothing scales with corpus size but the initial collapse). */
  def unigramLmTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     vocabMulti: Int = 24, seedMulti: Int = 48,
                     maxPieceLen: Int = 4, emIters: Int = 2): UnigramModel = {
    require(vocabMulti >= 1, s"vocabMulti must be >= 1, got $vocabMulti")
    require(seedMulti >= vocabMulti,
      s"seedMulti ($seedMulti) must be >= vocabMulti ($vocabMulti)")
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2, got $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    val spark = docs.sparkSession
    import spark.implicits._
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(mem)
    try {
      val cand = wordFreq
        .select(col("freq"), explode(graft.functions.UnigramLattice
          .wordSubstrings(col("word"), maxPieceLen)).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .withColumn("score", col("cnt") * length(col("piece")))
        .persist(mem)
      val singles = cand.filter(length(col("piece")) === 1)
        .select("piece", "score")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val multis = cand.filter(length(col("piece")) > 1)
        .orderBy(col("score").desc, col("piece")).limit(seedMulti)
        .select("piece", "score")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      cand.unpersist()
      val seed = (singles ++ multis).toSeq
      val seedTotal = seed.map(_._2).sum
      var probs: Seq[(String, Double)] =
        seed.map { case (s, sc) => (s, sc.toDouble / seedTotal.toDouble) }

      // One EM iteration: expected counts via the native lattice kernel,
      // renormalised on the driver in piece order.
      def emIter(p: Seq[(String, Double)]): Seq[(String, Double)] = {
        val rows = wordFreq
          .select(explode(graft.functions.UnigramLattice
            .unigramEStep(col("word"), col("freq"), p, maxPieceLen)).as("pc"))
          .groupBy(col("pc.piece").as("piece")).agg(sum(col("pc.c")).as("c"))
          .orderBy("piece")
          .collect().map(r => (r.getString(0), r.getDouble(1)))
        val tot = rows.map(_._2).sum
        rows.map { case (s, c) => (s, c / tot) }.toSeq
      }

      (1 to emIters).foreach(_ => probs = emIter(probs))
      val (one, many) =
        probs.partition { case (s, _) => s.codePointCount(0, s.length) == 1 }
      // Prune tie-break in UTF-8/code-point piece order (utf8Less), the
      // same comparator the engine/oracle use — UTF-16 `sortBy` order
      // would resolve rounded-posterior ties differently for
      // supplementary-plane pieces (the BpeSpec ﬀ/𝕒 divergence class).
      val kept = one ++ many
        .sortWith { case ((sa, pa), (sb, pb)) =>
          val ra = math.rint(pa * 1e10) / 1e10
          val rb = math.rint(pb * 1e10) / 1e10
          if (ra != rb) ra > rb else utf8Less(sa, sb)
        }
        .take(vocabMulti)
      val keptTotal = kept.map(_._2).sum
      probs = kept.map { case (s, p) => (s, p / keptTotal) }
      (1 to emIters).foreach(_ => probs = emIter(probs))
      UnigramModel(probs.sortWith((a, b) => utf8Less(a._1, b._1)), maxPieceLen)
    } finally { wordFreq.unpersist(); () }
  }

  /** The trained piece table as a DataFrame — (piece, logprob), ln p
    * rounded to 4 dp (the house publication convention). O(vocab) rows
    * from driver state. */
  def unigramPiecesDf(spark: org.apache.spark.sql.SparkSession,
                      model: UnigramModel): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    model.logProbs.toDF("piece", "_lp")
      .select(col("piece"), round(col("_lp"), 4).as("logprob"))
  }

  /** Unigram-LM encoding against a trained model: per word, the Viterbi
    * best segmentation ([[graft.functions.UnigramViterbi]] — cumulative
    * scores rounded to 6 dp, longest-piece tie-break, single OOV
    * characters admitted at [[UnigramModel.oovLogProb]]), one row per
    * (doc, word, piece) — (idCol, word_idx, sym_idx, piece, token_id),
    * indices 0-based, OOV pieces id −1.
    *
    * Scale shape: ONE native Viterbi call per word row (log-prob table
    * plan-literal via `addReferenceObj`), an in-row posexplode, and a
    * BROADCAST join against the O(V) vocab for the id ([[bpeEncode]]'s
    * rendering). The join replaced an `element_at(typedLit(ids), …)`
    * plan-literal map after the r15 production-vocab probe MEASURED the
    * literal-map probe linear in V — Catalyst's `element_at` on a map
    * LITERAL (ArrayBasedMapData) scans keys sequentially per lookup, so
    * a 32k-piece vocab cost 26.6 s where 647 pieces cost 1.07 s on the
    * same corpus (BENCH_tokprobe_r15_sf1.json); the broadcast hash join
    * stays flat (the BPE twin: 1.48 s at a padded 32k table). */
  def unigramLmEncode(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String,
                      model: UnigramModel): org.apache.spark.sql.DataFrame = {
    // in-row VocabId hash probe, not a broadcast join — the r16
    // campaign's one above-drift-band riser (x_unigram_encode sf10
    // 4.01 -> 10.75 s) was REAL and was this join: the interleaved A/B
    // (BENCH_uniencab_r17_sf10.json) measured the join rendering at
    // 12.6 s vs 3.2 s for this probe on row-identical output. OOV -> -1
    // is VocabId's own contract.
    docs.select(col(idCol), posexplode(words(col(textCol))).as(Seq("word_idx", "_w")))
      .filter(col("_w") =!= "")
      .select(col(idCol), col("word_idx"),
        posexplode(graft.functions.UnigramLattice.unigramViterbi(col("_w"),
          model.logProbs, model.maxPieceLen, model.oovLogProb))
          .as(Seq("sym_idx", "piece")))
      .select(col(idCol), col("word_idx"), col("sym_idx"), col("piece"),
        graft.functions.VocabId.vocabId(col("piece"), model.vocab)
          .as("token_id"))
  }

  /** The [[graft.functions.HashedNgramScore]] feature space rendered as
    * relational rows: normalise to the scorer's exact token stream
    * (whitespace runs → single space, ROOT lowercase), take the in-row
    * unigram + adjacent-bigram count maps (disjoint key spaces — a
    * unigram never contains a space — so `map_concat` is collision-free),
    * and bucket each feature with the house h32 mod `buckets`. One row
    * per distinct (doc, feature); never one per occurrence. */
  private def hashedFeatureRows(docs: org.apache.spark.sql.DataFrame,
                                cols: Seq[Column], textCol: String,
                                buckets: Int): org.apache.spark.sql.DataFrame = {
    // ROOT-locale lowercase ([[graft.functions.RootLower]]) — the same
    // mapping the inference scans apply per token, so training and
    // inference hash identically on any JVM locale (Spark's lower()
    // non-ASCII path follows the default locale; advisor finding r12)
    val norm = regexp_replace(
      graft.functions.RootLower.rootLower(col(textCol)), "[ \n\t\r]+", " ")
    docs.select(cols :+ explode(map_concat(
        graft.functions.TermCounts.termCounts(norm),
        graft.functions.PairCounts.pairCounts(norm))).as(Seq("_f", "_c")): _*)
      .withColumn("_b",
        conv(substring(md5(col("_f")), 1, 8), 16, 10).cast("long") % buckets)
  }

  /** DSIR importance log-ratios (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * fit two bag-of-hashed-ngrams unigram models — `p̂` over the TARGET
    * rows (`isTarget`), `q̂` over the whole raw corpus — and return
    * `λ_b = ln p̂_b − ln q̂_b` per bucket with add-`alpha` smoothing.
    * A document's importance log-weight is then `Σ_b c_b λ_b`, exactly
    * what [[graft.functions.HashedNgramScore]] computes with `λ` as its
    * weight table (bias 0, sum = logit × n_features) — DSIR inference
    * reuses the learned-quality scan unchanged.
    *
    * Scale shape: features come pre-aggregated per row from the native
    * count maps ([[hashedFeatureRows]] — no per-occurrence explode),
    * both models come out of ONE corpus pass (`sum` + conditional `sum`
    * per bucket), partial aggregation caps what reaches the exchange at
    * `buckets` rows per partition, and the result is O(buckets) driver
    * state — the centroid/plan-literal convention (1024 doubles = 8 KB).
    * Buckets no feature hashes to keep the pure-smoothing default; they
    * are never probed, so the value is documentation, not behaviour. */
  def dsirLogRatios(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    isTarget: Column, buckets: Int = 1024,
                    alpha: Double = 0.01): Array[Double] = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val rows = hashedFeatureRows(docs, Seq(isTarget.as("_t")), textCol, buckets)
      .groupBy(col("_b"))
      .agg(sum(when(col("_t"), col("_c")).otherwise(lit(0))).as("_ct"),
        sum(col("_c")).as("_cr"))
      .collect()
    var nt = 0L; var nr = 0L
    rows.foreach { r => nt += r.getLong(1); nr += r.getLong(2) }
    require(nt > 0, "DSIR target selection matched no features")
    val denomT = nt + alpha * buckets
    val denomR = nr + alpha * buckets
    val lam = Array.fill(buckets)(
      math.log(alpha / denomT) - math.log(alpha / denomR))
    rows.foreach { r =>
      lam(r.getLong(0).toInt) =
        math.log((r.getLong(1) + alpha) / denomT) -
          math.log((r.getLong(2) + alpha) / denomR)
    }
    lam
  }

  /** DSIR importance scores: `logw = Σ_features λ[h32(f) % B]` per doc
    * via ONE native [[graft.functions.HashedNgramScore]] pass (the
    * weight table is the plan-literal `logRatios`; the scan's mean ×
    * its feature count recovers the sum exactly). Zero shuffle; a doc
    * with no features scores 0 (it carries no evidence either way). */
  def dsirScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String,
                logRatios: Array[Double]): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("_sc", graft.functions.HashedNgramScore.hashedNgramScore(
        col(textCol), logRatios.toSeq, bias = 0.0, bigrams = true))
      .select(col(idCol), col("_sc.n_features").as("n_features"),
        round(col("_sc.logit") * col("_sc.n_features"), 4).as("logw"))

  /** DSIR selection: the `k` docs whose hashed-ngram distribution is
    * most target-like — greedy top-k by (4-dp `logw` desc, id), the
    * deterministic rendering of the paper's Gumbel-top-k resample (both
    * engines derive the identical set; the sampled variant composes by
    * feeding `exp((logw − max)/β)` into [[weightedSample]]). Plans as
    * `TakeOrderedAndProject`: a k-sized heap per partition, O(P·k)
    * driver merge — the right shape while k is selection-sized (top
    * 10⁵ of 10¹⁰); fraction-sized selection should threshold on `logw`
    * instead (the [[calibrateByStratum]] calibration path). */
  def dsirSelect(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, isTarget: Column, k: Int,
                 buckets: Int = 1024,
                 alpha: Double = 0.01): org.apache.spark.sql.DataFrame = {
    val lam = dsirLogRatios(docs, textCol, isTarget, buckets, alpha)
    dsirScore(docs, idCol, textCol, lam)
      .orderBy(col("logw").desc, col(idCol))
      .limit(k)
  }

  /** TRAIN the [[learnedQuality]] classifier distributed — the other
    * half of the fastText-style story (inference has been native since
    * `HashedNgramScore`): full-batch logistic regression on the hashed
    * unigram+bigram features, mean-pooled exactly as the scorer pools
    * them (`logit = bias + Σ w[h(f)] / n_d`), so the returned
    * `(weights, bias)` drop straight into [[learnedQuality]] /
    * [[dsirScore]]-class scans. Deterministic by construction: zero
    * init, fixed `lr`, full-batch gradients — no RNG, no sampling — so
    * the whole TRAINING TRAJECTORY is oracle-checkable (the
    * `x_quality_trained` oracle re-derives every iteration in SQL).
    *
    * Scale shape: the corpus collapses ONCE to the per-(doc, bucket)
    * feature-count frame (`hashedFeatureRows` pre-aggregated maps — no
    * per-occurrence rows past the first projection), checkpointed, and
    * each iteration is bounded work over THAT frame: the current
    * weights enter as an O(B) plan literal (`element_at` on a
    * `typedlit` array — no join), per-doc logits are one id-keyed
    * aggregate, the bucket gradient is one join-back + B-bounded
    * aggregate, and the driver holds only the B-vector per iteration
    * (8 KB at B = 1024 — the centroid convention). K iterations =
    * K bounded shuffles; nothing corpus-sized reaches the driver.
    * Docs with zero features carry no gradient and are absent from
    * training (they still score `sigmoid(bias)` at inference).
    *
    * Concurrency: when the feature frame is loop-small this method
    * temporarily flips session-wide confs (AQE off, shuffle.partitions
    * derived from the frame size) for the duration of the loop — they
    * are restored on every exit path, but queries running CONCURRENTLY
    * on the same SparkSession during training would see them. Run
    * training on its own session (`spark.newSession()` shares the
    * context but isolates runtime conf) if the session is shared. */
  def trainQualityModel(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, label: Column, buckets: Int = 256,
                        iters: Int = 4, lr: Double = 0.5,
                        checkpointDir: Option[String] = None): (Array[Double], Double) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val ckpt = graft.runtime.Checkpoints.policy(spark, checkpointDir)
    val base0 = ckpt(
      hashedFeatureRows(docs,
        Seq(col(idCol).as("_id"), label.cast("double").as("_y")), textCol, buckets)
        .groupBy(col("_id"), col("_y"), col("_b"))
        .agg(sum(col("_c")).cast("double").as("_cb"))
        .withColumn("_nd", sum(col("_cb")).over(Window.partitionBy(col("_id")))))
    // LOOP-STATIC regime (the connectedComponents precedent, guide
    // §1.2/§2.2): under AQE a `localCheckpoint` reports Unknown
    // partitioning, so every iteration re-exchanged the feature frame
    // TWICE — once under the per-doc logit aggregate, once under the
    // gradient join — and AQE expanded each iteration into 5-6
    // materialised query stages whose scheduling latency dwarfs the task
    // work when the frame is small. When the frame is LOOP-SMALL
    // (bounded count on the pinned blocks) it is re-pinned ONCE
    // pre-partitioned on `_id` with AQE off, so the captured
    // HashPartitioning survives into every iteration: the logit
    // aggregate and the gradient join then run exchange-free in a
    // handful of data-sized partitions, and only the B-bounded bucket
    // aggregate still shuffles. Measured at sf0.1 (316 k feature rows):
    // 8.6 → 2.2 s standalone. Gated on DATA SIZE, not core count, and
    // the gate is honest about WHY it exists: per-stage latency
    // dominates small frames. Big frames are compute-bound, not
    // stage-bound — there the re-pin costs more than the saved
    // exchanges return (measured at sf10, 31.8 M rows: 24-35 s under
    // this regime vs 21.6 s without, partition rule regardless), so
    // they keep AQE and its coalescing/skew machinery and take the
    // broadcast-gradient join below instead. dir=Some spills are
    // parquet round-trips (no partitioning survives a write anyway),
    // so the regime only applies to the localCheckpoint policy.
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    // restored on exit as they were: a key the caller never set is
    // unset again, not pinned to the default it read as
    val confWas = Seq(aqeKey, partKey).map(k => k -> spark.conf.getAll.get(k))
    val baseRows = base0.count()
    val loopStatic = checkpointDir.isEmpty && spark.conf.get(aqeKey, "true") == "true" &&
      baseRows <= 10L * 1000 * 1000
    val w = Array.fill(buckets)(0.0)
    var bias = 0.0
    // The per-doc error frame is computed ONCE per iteration and pinned
    // (r18, guide §1.2): the old rendering evaluated the doc-keyed
    // aggregate TWICE per iteration — once under the bias gradient's
    // collect and again inside the gradient join. A rolling
    // localCheckpoint of `errs` (doc-sized: one row per featureful doc)
    // lets both consumers read the pinned blocks; each round's pin
    // supersedes the last, and the final one is released before
    // returning. (A window rendering that computed the logit in-row was
    // tried and REFUTED at sf10: the checkpointed base's partitioning
    // does not survive AQE, so the window re-sorted the feature frame
    // every iteration — 41 s vs 27 s for the join form; the hash
    // aggregate here never sorts. The loop-static re-pin above is the
    // shape that experiment was reaching for: keep the hash aggregate,
    // make the partitioning survive.)
    val errsRoll = new graft.runtime.Checkpoints.Rolling(spark, checkpointDir)
    var lastErrs: org.apache.spark.sql.DataFrame = null
    // EVERYTHING from the first conf mutation onward runs under one
    // try/finally: a failure anywhere (the re-pin job included) restores
    // the session confs and releases every pinned block (advisor r18 —
    // the re-pin used to run unguarded, so its failure left the session
    // permanently with AQE off and shuffle.partitions at the loop value,
    // and a mid-loop failure leaked the errs/base checkpoint blocks).
    var base: org.apache.spark.sql.DataFrame = base0
    try {
      if (loopStatic) {
        spark.conf.set(aqeKey, "false")
        // ~1M rows/partition (≈ AQE's own advisory-size decision at
        // these row widths), floor 4 — loop-small caps this at 10
        spark.conf.set(partKey,
          math.max(4L, baseRows / (1L * 1000 * 1000)).toString)
        base = ckpt(base0.repartition(col("_id")))
        graft.runtime.Checkpoints.releaseLocal(base0)
      }
      // nDocs rides iteration 1's errs pin (one row per featureful doc)
      // instead of its former `base.select("_id").distinct().count()` —
      // that was a full extra shuffle of the feature frame before the
      // loop; counting the already-materialised errs blocks is a bounded
      // scan job (guide §1.2: don't compute what another action already
      // produced).
      var nDocs = 0.0
      for (it <- 1 to iters) {
        val wLit = typedlit(w.toSeq)
        val contrib = col("_cb") * element_at(wLit, (col("_b") + 1).cast("int")) / col("_nd")
        val errs = errsRoll(base.groupBy(col("_id"))
          .agg(first(col("_y")).as("_yy"), (lit(bias) + sum(contrib)).as("_logit"))
          .select(col("_id"),
            (lit(1.0) / (lit(1.0) + exp(-col("_logit"))) - col("_yy")).as("_e")))
        lastErrs = errs
        if (it == 1) {
          nDocs = errs.count().toDouble
          require(nDocs > 0,
            "no document produced any feature — nothing to train on")
        }
        // ONE action per iteration (r18 resume): the bias gradient rides
        // the gradient collect as a sentinel bucket (_b = −1, a value the
        // `% buckets` hash can never produce) instead of its own job —
        // both legs read the pinned errs blocks. Join shape: loop-static
        // frames are co-partitioned, so the shuffled-hash join is
        // exchange-free with the DOC-sized errs as build side; big
        // frames BROADCAST errs when the measured doc count is
        // broadcast-safe (≤ 2 M docs ≈ 50 MB built), so the feature
        // frame is never re-shuffled for the join (guide §3.1 — the
        // explicit broadcast because a checkpoint's size estimate is
        // useless to the static planner and AQE's rewrite races the
        // already-submitted build-side stage); past that, shuffled-hash
        // with errs as build side.
        val joined =
          if (!loopStatic && nDocs <= 2L * 1000 * 1000)
            base.join(broadcast(errs), "_id")
          else base.join(errs.hint("shuffle_hash"), "_id")
        val grads = joined
          .groupBy(col("_b"))
          .agg((sum(col("_e") * col("_cb") / col("_nd")) / nDocs).as("_g"))
          .union(errs.agg(avg(col("_e")).as("_g"))
            .select(lit(-1L).as("_b"), col("_g")))
          .collect()
        grads.foreach { r =>
          val b = r.getLong(0)
          if (b == -1L) bias -= lr * r.getDouble(1)
          else w(b.toInt) -= lr * r.getDouble(1)
        }
      }
    } finally {
      if (loopStatic) confWas.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // the loop's survivors are intermediate state: the trained model is
      // the return value, so nothing may stay pinned (repeated training
      // runs in one session must not accrete executor blocks) — released
      // in the finally so an aborted loop cannot leak them either
      if (lastErrs != null) graft.runtime.Checkpoints.releaseLocal(lastErrs)
      if (base != null) graft.runtime.Checkpoints.releaseLocal(base)
    }
    (w, bias)
  }
}

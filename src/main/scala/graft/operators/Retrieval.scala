package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus: inverted-index term
  * statistics, BM25 top-k search, and reciprocal-rank fusion of a
  * lexical ranking with the dense [[Ann.cosineTopK]] ranking — the
  * hybrid-retrieval shape a training-data curation pipeline uses for
  * quality mining and targeted subset selection.
  *
  * Scale contract (the part that has to survive 100 TB):
  *  - The corpus is tokenised in ONE narrow pass (`explode` over a
  *    per-row split); document length is computed per-row without any
  *    shuffle.
  *  - BM25 never aggregates the full vocabulary: the token stream is
  *    semi-joined down to the query's terms FIRST via a broadcast of
  *    the (tiny, by definition) query-term set, so every downstream
  *    aggregation is proportional to the matched postings, not the
  *    corpus. Per-term document frequency is computed AFTER that filter
  *    — counting only rows whose term survives is exact, because the
  *    filter is per-term — and as a WINDOW over the matched frame, not
  *    a groupBy branch joined back (which would re-plan the whole token
  *    pipeline and scan the corpus twice). BM25 reads the corpus
  *    exactly twice: the token pass, and a narrow text-only pass for
  *    N/avgdl whose result is one broadcast row (doc lengths are
  *    corpus-wide by definition — on a real deployment they'd be
  *    precomputed table statistics).
  *  - [[termStats]] does aggregate the whole vocabulary (it builds the
  *    index artifact), but its per-group state is O(1): the bounded
  *    postings sample comes from a row_number window on the same term
  *    key as the stats aggregation — NOT from a `collect_set` of all
  *    doc ids, which for a stopword term would buffer a posting list
  *    the size of the corpus inside one aggregation buffer.
  *  - Fusion operates on two top-k rankings (k·|Q| rows each) —
  *    trivially small however large the corpus that produced them.
  *
  * Oracle coverage: `x_inverted_index`, `x_bm25`, `x_rrf_hybrid` in
  * [[graft.queries.QueryPack]] pin all three against DuckDB (rows,
  * schema and value hash). */
object Retrieval {

  /** One PRE-AGGREGATED row per (doc, term) with its in-document
    * frequency; empty tokens dropped (the same guard as
    * [[TextStats]]/`unigramLogProbOfWords` — consecutive separators must
    * not mint "" terms). The reduction happens inside the row pipeline
    * via the native [[graft.functions.TermCounts]] map expression, so
    * the first shuffle moves one row per distinct (doc, term) instead of
    * one row per token occurrence — at sf10 that exchange was 2.9 s of
    * termStats's 3.0 s (measured in SCALING.md, cited in TermCounts's
    * scaladoc). */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(graft.functions.TermCounts.termCounts(col(textCol)))
          .as(Seq("term", "_tf")))
      .select(col(idCol), col("term"), col("_tf").cast("long").as("_tf"))

  /** BM25's document-frequency idf (the Lucene formulation —
    * `ln((N - df + 0.5) / (df + 0.5) + 1)` — positive for every df,
    * unlike the classic Robertson idf which goes negative past N/2). */
  private def idf(nDocs: Column, df: Column): Column =
    log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1))

  /** Inverted-index statistics: one row per distinct term with its
    * document frequency, collection frequency, BM25 idf and a bounded
    * ascending sample of its posting list.
    *
    * The sample is bounded BEFORE aggregation (row_number ≤ `sampleK`
    * over the term key) so no aggregation buffer ever holds a full
    * posting list; full postings belong in a posting-store sink, not in
    * an index-statistics frame. df and cf come from WINDOW aggregates
    * over the same term partitioning as that row_number — NOT from a
    * second `tf.groupBy(term)` branch, which Catalyst would plan as an
    * independent pipeline re-scanning and re-tokenising the corpus
    * (DataFrame reuse is re-execution; the two branches prune different
    * columns, so not even exchange reuse saves the second scan). One
    * corpus scan, zero (term, doc) exchanges (the per-doc reduction is
    * the native TermCounts map), one term-keyed sort. */
  def termStats(docs: DataFrame, idCol: String, textCol: String,
                sampleK: Int = 5): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    val byTerm = Window.partitionBy(col("term"))
    val full = byTerm.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    tf
      .withColumn("df", count(lit(1)).over(full))
      .withColumn("cf", sum(col("_tf")).over(full))
      .withColumn("_rn", row_number().over(byTerm.orderBy(col(idCol))))
      .filter(col("_rn") <= sampleK)
      .groupBy(col("term"))
      .agg(max(col("df")).as("df"), max(col("cf")).as("cf"),
        array_join(sort_array(collect_list(col(idCol))), ",")
          .as("postings_sample"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("cf"),
        round(idf(col("_n"), col("df")), 4).as("idf"),
        col("postings_sample"))
  }

  /** BM25 top-k search. `queries` is a (qIdCol, qTextCol) frame — small
    * by definition (it is broadcast twice: once to filter the token
    * stream, once to score). A query never retrieves the document whose
    * id equals its own `q_id` (mirroring [[Ann.cosineTopK]]'s
    * self-exclusion, so lexical and dense rankings fuse over the same
    * candidate universe). Ranks break score ties by ascending doc id on
    * the ROUNDED score, which is what makes the ranking reproducible
    * cross-engine. Returns (q_id, rank, doc_id, score). */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               qIdCol: String, qTextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries
      .select(col(qIdCol).as("q_id"),
        explode(array_distinct(split(col(qTextCol), " "))).as("_qterm"))
      .filter(length(col("_qterm")) > 0)
    val qTermSet = qt.select(col("_qterm").as("_fterm")).distinct()

    // Document length is a narrow per-row expression — no explode, no
    // shuffle — and rides along with the tokens so the scoring join
    // never has to re-join a corpus-sized length table. Counted by the
    // native single-pass CharScan (non-space runs ≡ non-empty space
    // tokens) — the size(filter(split)) rendering is an interpreted
    // lambda materialising a token array per row.
    val withDl = docs.withColumn("_dl",
      graft.functions.TextScan.spaceToks(col(textCol)))
    val stats = withDl.agg(count(lit(1)).as("_n"), avg(col("_dl")).as("_avgdl"))

    // Pre-aggregated per-row term counts (native TermCounts map — no
    // (id, term) exchange), semi-joined to the query terms while still
    // inside the scan stage.
    val tf = withDl
      .select(col(idCol), col("_dl"),
        explode(graft.functions.TermCounts.termCounts(col(textCol)))
          .as(Seq("term", "_tf")))
      .join(broadcast(qTermSet), col("term") === col("_fterm"))
      .select(col(idCol), col("term"), col("_tf").cast("long").as("_tf"),
        col("_dl"))
    // df as a window over the matched tf frame, NOT tf.groupBy(term)
    // joined back: a second reference to tf plans as an independent
    // pipeline (different column pruning → no exchange reuse) and
    // re-scans + re-tokenises the corpus. The window costs one
    // term-keyed sort over the MATCHED postings only.
    val withDf = tf.withColumn("_df",
      count(lit(1)).over(Window.partitionBy(col("term")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))

    val perTerm = withDf
      .join(broadcast(qt), col("term") === col("_qterm"))
      .filter(col(idCol) =!= col("q_id"))
      .crossJoin(broadcast(stats))
      .withColumn("_s",
        idf(col("_n"), col("_df")) * col("_tf") /
          (col("_tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("_dl") / col("_avgdl"))))
    val scored = perTerm.groupBy(col("q_id"), col(idCol))
      .agg(round(sum(col("_s")), 4).as("score"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col("score"))
  }

  /** TF-IDF keyword extraction: the top `k` terms of every document by
    * `tf · ln(N / (1 + df))`, ties broken by ascending term on the
    * ROUNDED score (the cross-engine determinism contract). Built
    * entirely on the pre-aggregated [[graft.functions.TermCounts]]
    * frame: one corpus scan, df as a window over the term key (never a
    * vocab groupBy joined back — the duplicated-subtree trap), then a
    * per-document ranking window. Two keyed exchanges total (term,
    * then doc), both over one row per distinct (doc, term). */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val withDf = tf.withColumn("_df",
      count(lit(1)).over(Window.partitionBy(col("term")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    val scored = withDf.crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("_tf") * log(col("_n") / (col("_df") + lit(1))), 4))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Reciprocal-rank fusion of two rankings (`1/(kConst + rank)` summed
    * over the systems that ranked the doc; Cormack et al.'s k=60
    * default). Inputs are (qCol, docCol, rankCol) frames — top-k
    * outputs, so the full-outer join is over k·|Q|-row frames however
    * large the corpus behind them. The fused score is rounded before
    * ranking (same cross-engine determinism contract as [[bm25TopK]]).
    * Returns (q_id, rank, doc, rrf). */
  def rrfFuse(a: DataFrame, b: DataFrame,
              qCol: String, docCol: String, rankCol: String,
              k: Int, kConst: Int = 60): DataFrame = {
    val fa = a.select(col(qCol).as("_qa"), col(docCol).as("_da"),
      col(rankCol).as("_ra"))
    val fb = b.select(col(qCol).as("_qb"), col(docCol).as("_db"),
      col(rankCol).as("_rb"))
    val fused = fa.join(fb,
        col("_qa") === col("_qb") && col("_da") === col("_db"), "full_outer")
      .select(
        coalesce(col("_qa"), col("_qb")).as("q_id"),
        coalesce(col("_da"), col("_db")).as("doc"),
        round(
          coalesce(lit(1.0) / (lit(kConst) + col("_ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kConst) + col("_rb")), lit(0.0)), 6)
          .as("rrf"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc"), col("rrf"))
  }
}

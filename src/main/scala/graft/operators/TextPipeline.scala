package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The canonical training-data pipeline COMPOSED as one job: quality
  * gates → exact dedup → decontamination → calibration → temperature
  * mixing → sequence packing → shard shuffle. Every stage exists as a
  * standalone operator with its own oracle row; this operator exists
  * because composition is where the scale bugs live — a branch
  * referenced twice planning two corpus scans (the BM25
  * duplicated-subtree trap, SCALING.md), an exchange lost between a
  * window and the next stage's window — and no single-operator row can
  * catch them. PlanQualitySpec pins the composed plan's scan and
  * exchange counts.
  *
  * Stage shapes (each documented in its home operator):
  *  1. Gopher repetition gate + lexicon gate
  *     ([[graft.functions.GopherScan]]/[[graft.functions.LexiconScan]]):
  *     ONE native row-local pass each, fused into a single Filter —
  *     gate-and-drop, so neither struct is re-evaluated downstream
  *     (the computed-column-filter trap, SCALING.md).
  *  2. Exact dedup: md5 fingerprint keeper (min id per hash) — one
  *     fingerprint-keyed exchange.
  *  3. Decontaminate ([[TextDedup.decontaminate]], distinct word
  *     `contamN`-grams vs `benchmark`: one native in-row probe per doc
  *     against the broadcast benchmark gram set) then LEFT-ANTI join
  *     the contaminated ids out. The anti join is deliberately UNHINTED:
  *     AQE sees the contaminated-id set's runtime size (contaminated
  *     docs ≪ corpus) and picks broadcast itself; a static broadcast()
  *     would gamble on an estimate the aggregate can't provide.
  *  4. Calibrated quality gate ([[TextStats.calibrateByStratum]]):
  *     percent_rank of [[TextStats.quality]] within `strataCol`, drop
  *     below `minQRank` — one stratum-keyed exchange whose partitioning
  *     stage 6 REUSES.
  *  5. Temperature mixing ([[TextStats.applyTemperature]], downsample
  *     to share^`alpha`): ONE `(stratum, n)` aggregation over stage 4's
  *     output, collected (O(strata) rows); the rates are derived on the
  *     driver, then a narrow membership filter. The rate algebra must
  *     not be written as self-joined aggregates of the calibrated frame:
  *     each reference re-plans the stage 4 window over its joins (about
  *     30 jobs per call, where the one aggregation runs 5).
  *  6. Pack ([[TextStats.packSequences]]): running-token window
  *     partitioned by `strataCol` — same hash partitioning as stage 4's
  *     window, so EnsureRequirements inserts a sort, NOT a new exchange
  *     (plan-pinned).
  *  7. Shard shuffle ([[TextStats.shuffleShards]]): seeded deterministic
  *     permutation, one shard-keyed exchange.
  *
  * The frame is persisted ONCE, after dedup (`materialize`): stage 3
  * fans the survivors into two consumers (the drop-set pass + the main
  * branch) and stage 5's rate collect is a separate action — without the
  * materialization each would re-run the gate+dedup subtree from the
  * parquet scan. The default materializer is
  * `persist(MEMORY_AND_DISK)`; the caller owns the returned frame's
  * lifecycle (Spark's CacheManager never auto-frees — unpersist via
  * [[TextPipeline.unpersistPipeline]] when done, or pass a
  * checkpoint-based materializer at 100 TB where executor storage
  * memory is the scarcer resource).
  *
  * Output: one row per surviving doc —
  * (idCol, strataCol, seq_id, seq_offset, shard, pos).
  */
object TextPipeline {

  /** The release actions for what `e2e` pinned (the training persist and,
    * with `nearDedup`, the eager loser-id checkpoint), keyed by the
    * returned frame, so callers can free them without threading state
    * through. */
  private val persisted =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, () => Unit]())

  def unpersistPipeline(result: DataFrame): Unit = {
    val p = persisted.remove(result)
    if (p != null) p()
  }

  /** Stages 1–5 (gates → dedup → [near-dup keeper] → decontaminate →
    * calibrate → temperature), shared by [[e2e]] and [[e2eTokenized]].
    * Returns (release, mixed): `release` frees everything this stage
    * pinned — the persisted post-dedup frame and the eagerly pinned
    * drop-set frame (near-dup losers ∪ contaminated ids; its blocks would
    * otherwise accrete across repeated pipeline runs in one session:
    * `localCheckpoint` blocks live on the RDD, not in the cache manager,
    * so only [[graft.runtime.Checkpoints.releaseLocal]] frees them) —
    * and `mixed` is the stage-5 survivors. The caller must register
    * `release` against its returned frame.
    *
    * Stage 2b (`nearDedup = true`): SIMHASH-CLUSTER keeper between the
    * exact dedup and decontamination — the stage order real training
    * pipelines run (exact dedup catches byte-identical crawls; near-dup
    * catches boilerplate-variant renderings of the same page). Shape:
    *  - signature build is ONE row-local [[graft.functions.SimhashScan]]
    *    pass over the cached corpus (no second parquet scan), width
    *    sized by [[TextDedup.simhashWidthFor]] from the post-dedup count
    *    (the count doubles as the cache-warming action);
    *  - candidates via [[TextDedup.bandedHammingPairs]] (banded
    *    equi-join, never all-pairs; pigeonhole-exact at hamming ≤ 3);
    *  - clusters via [[TextDedup.connectedComponents]] (O(log d)
    *    pointer jumping, checkpointed);
    *  - keeper = best quality (4-dp [[TextStats.quality]], id asc
    *    tie-break) per component, ranked by a window over the MEMBER
    *    set only — component labels join back to the cached corpus
    *    first, so the window's input is the (bucket-bounded, tiny)
    *    near-dup membership, never a corpus-wide component exchange;
    *  - survivors = corpus LEFT-ANTI the non-keeper ids. Like the
    *    contamination anti join, deliberately UNHINTED: near-dup losers
    *    ≪ corpus, so AQE resolves it to a runtime broadcast. */
  /** `narrowCols`: when set, the surviving rows are PROJECTED through the
    * given row-local transform (which must produce idCol, strataCol, `_q`
    * and whatever the caller packs on) right after the anti join — BEFORE
    * the calibrate window's stratum exchange. Neither composed pipeline
    * emits text ([[e2e]]'s output is ids + layout, [[e2eTokenized]]'s is
    * ids + token counts + the id-sequence fingerprint), yet the text
    * column used to ride the calibrate exchange, the pack window AND the
    * shard exchange only to be dropped by the final select — at 100 TB
    * that is the corpus shuffled three times for nothing (guide §2.3,
    * project before the exchange). */
  private def mixedStage(docs: DataFrame, idCol: String, textCol: String,
                         strataCol: String, benchmark: DataFrame,
                         benchTextCol: String, lexicon: Seq[String],
                         maxTop2GramCharFrac: Double, minQRank: Double,
                         alpha: Double, contamN: Int,
                         materialize: DataFrame => DataFrame,
                         nearDedup: Boolean = false,
                         checkpointDir: Option[String] = None,
                         narrowCols: Option[DataFrame => DataFrame] = None)
      : (() => Unit, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // 1. gates — both native scans evaluate exactly once, inside the
    // Filter (nothing downstream references the structs). Decisions
    // compare the ROUNDED fraction so the cut is cross-engine exact.
    val gated = docs.filter(
      round(graft.functions.GopherScan.gopherScan(col(textCol), "\n")
        .getField("top_2gram_char_frac"), 4) <= maxTop2GramCharFrac &&
      graft.functions.LexiconScan.lexiconScan(col(textCol), lexicon)
        .getField("n_hits") === 0)
    // 2. exact dedup: keeper = min id per content hash
    val deduped = gated
      .withColumn("_fp", md5(col(textCol)))
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_fp")).orderBy(col(idCol))))
      .filter(col("_rn") === 1).drop("_fp", "_rn")
    val training = materialize(deduped)
    // 2b. near-dup cluster keeper (see scaladoc), built only when there
    // is a post-dedup corpus: an empty one has no near-dups to keep or
    // drop, and simhashWidthFor(0)'s require would throw (enabling the
    // flag must not change empty-input behavior). The count doubles as
    // the cache-warming action.
    val n = if (nearDedup) training.count() else 0L
    def loserPlan(): DataFrame = {
      val bits = 4 * TextDedup.simhashWidthFor(n)
      val pairs = TextDedup.simhashPairs(training, idCol, textCol, bits,
        wideHash = true, checkpointDir = checkpointDir)
      val comp = TextDedup
        .connectedComponents(pairs, s"${idCol}_a", s"${idCol}_b",
          checkpointDir = checkpointDir)
        .select(col("id").as(idCol), col("component"))
      training
        .select(col(idCol), TextStats.quality(col(textCol)).as("_nq"))
        .join(comp, Seq(idCol)) // members only — comp is tiny, AQE broadcasts
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("_nq").desc, col(idCol))))
        .filter(col("_rk") > 1).select(col(idCol))
    }
    // 3. decontamination. Contamination is PER-DOC against the benchmark
    // (independent of which near-dups survive), so the probe runs over
    // the cache and the near-dup losers simply UNION into the drop set:
    // ONE anti join carries both exclusions. Dropping
    // contaminated(training) vs contaminated(survivors) is equivalent
    // set algebra: survivors ∖ contaminated(survivors) =
    // training ∖ losers ∖ contaminated(training).
    val contaminated = TextDedup
      .decontaminate(training, idCol, textCol, benchmark, benchTextCol, n = contamN)
      .select(col(idCol))
    // The drop set (near-dup losers ∪ contaminated ids) is materialised
    // in ONE eager pass: stage 5's rate collect and the final consumer
    // are two separate actions over the anti join, so a lazy drop set
    // re-runs the member window and the probe per action (measured
    // slower on `curate_near`). Pinned, both run once; the
    // pinned frame is O(dropped ids), and the anti join still resolves
    // to a runtime broadcast (AQE sees the tiny relation).
    //
    // The near-dup build runs inside a checkpoint scope: simhashPairs and
    // connectedComponents checkpoint EAGERLY as they construct, so their
    // loop survivors (the signature checkpoint, CC edges, CC final
    // labels) are pinned after the scope's snapshot and released by it
    // once the drop set is pinned. Only then: the scope releases every
    // RDD pinned inside it, and without the count above the training
    // cache would first be pinned inside this pass. dir=Some: the
    // survivors are spills under the caller-owned dir instead, whose
    // lifecycle the caller owns.
    def dropPlan = if (n == 0) contaminated else loserPlan().union(contaminated)
    val spark = training.sparkSession
    val toDrop =
      if (n > 0 && checkpointDir.isEmpty)
        graft.runtime.Checkpoints.withLocalCheckpointScope(spark)(dropPlan)
      else graft.runtime.Checkpoints.policy(spark, checkpointDir)(dropPlan)
    val clean = training.join(toDrop, Seq(idCol), "left_anti")
    // 4. calibrated quality gate. Quality (and the caller's narrow
    // columns) are row-local over the cached text and evaluate in the
    // projection BEFORE the stratum exchange; narrow mode then ships
    // only the caller's slim schema through every downstream shuffle.
    val scored = narrowCols match {
      case Some(f) => f(clean)
      case None => clean.withColumn("_q", TextStats.quality(col(textCol)))
    }
    val calibrated = TextStats.calibrateByStratum(
        scored, strataCol, col("_q"), idCol)
      .filter(col("q_rank") >= minQRank)
    // 5. temperature mixing (O(strata) collect + narrow filter)
    val release = () => {
      training.unpersist()
      // dir=None toDrop is a localCheckpoint — pinned RDD blocks, not a
      // cache entry; a dir=Some spill lives under the caller-owned dir
      // (releaseLocal no-ops on the parquet-read plan)
      graft.runtime.Checkpoints.releaseLocal(toDrop)
      ()
    }
    (release, TextStats.applyTemperature(calibrated, strataCol, idCol, alpha))
  }

  def e2e(docs: DataFrame, idCol: String, textCol: String, strataCol: String,
          benchmark: DataFrame, benchTextCol: String,
          lexicon: Seq[String],
          maxTop2GramCharFrac: Double = 0.20,
          minQRank: Double = 0.1,
          alpha: Double = 0.5,
          budget: Long = 2000,
          shards: Int = 8,
          seed: String = "42",
          contamN: Int = 10,
          materialize: DataFrame => DataFrame =
            _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          nearDedup: Boolean = false,
          checkpointDir: Option[String] = None)
      : DataFrame = {
    val (release, mixed) = mixedStage(docs, idCol, textCol, strataCol,
      benchmark, benchTextCol, lexicon, maxTop2GramCharFrac, minQRank,
      alpha, contamN, materialize, nearDedup, checkpointDir,
      narrowCols = Some(_.select(col(idCol), col(strataCol),
        TextStats.quality(col(textCol)).as("_q"),
        TextStats.spaceTokens(col(textCol)).cast("long").as("_ntok"))))
    // 6. pack (on the pre-exchange token counts — same values, no text)
    val packed = TextStats.packSequences(mixed, strataCol, idCol,
      col("_ntok"), budget)
    // 7. shard shuffle
    val result = TextStats.shuffleShards(packed, idCol, shards, seed)
      .select(col(idCol), col(strataCol), col("seq_id"), col("seq_offset"),
        col("shard"), col("pos"))
    persisted.put(result, release)
    result
  }

  /** [[e2e]] ending where a PRODUCTION pipeline ends: tokenized, packed,
    * sharded sequences. Stages 1–5 are identical; the encode (a trained
    * [[TextStats.BpeModel]]) runs inside stage 4's narrow projection —
    * each post-decontamination survivor is encoded BEFORE the calibrate
    * window, so text never rides the stratum exchange, the pack window
    * or the shard exchange (guide §2.3; encode is a per-row map, so
    * filtering afterwards commutes with it bit-for-bit — the
    * calibrate/temperature losers cost a bounded constant factor of
    * extra encode) — and the pack runs on the REAL token counts (not
    * whitespace counts), so the sequence layout is the one the training
    * job would consume.
    *
    * The encode stage is deliberately zero-shuffle and stays inside the
    * corpus projection: one native [[graft.functions.BpeSegment]] call
    * per word (merge table plan-literal via `addReferenceObj`), the
    * vocabulary probed by [[graft.functions.VocabId]] — a hash map on
    * the same `addReferenceObj` channel, O(1) per symbol whatever the
    * vocabulary size. NOT the plan-literal `map()`+`element_at`
    * rendering this stage first shipped: a map literal is
    * `ArrayBasedMapData`, every probe scans its key array, and the r15
    * tokenizer ladder (SCALING.md) measured that O(V) cost at the
    * production point (26.6 s vs 0.91 s at V = 32k — invisible at the
    * oracle's toy vocab). Nor
    * [[TextStats.bpeEncode]]'s broadcast join: the output here is a
    * per-DOC fingerprint, so a join would force an explode plus a
    * per-doc reassembly exchange that the exploded-row encoders never
    * pay. OOV → −1 ([[TextStats.encodeTokens]]'s contract). Emitted per
    * doc:
    * `n_tokens` (the packed budget unit) and `ids_fp` — the md5 of the
    * ','-joined id sequence in (word, symbol) order, the
    * `x_vocab_encode` fingerprint idiom — so the oracle pins the full
    * id sequence of every surviving doc without an array column.
    *
    * Composition risks this variant exists to catch: `BpeSegment`
    * inside `transform()` must not break the gates' codegen span, and
    * the narrow encode projection must not cost the calibrate→pack
    * exchange reuse (both plan-pinned in PlanQualitySpec). */
  def e2eTokenized(docs: DataFrame, idCol: String, textCol: String,
                   strataCol: String, benchmark: DataFrame,
                   benchTextCol: String, lexicon: Seq[String],
                   model: TextStats.BpeModel,
                   maxTop2GramCharFrac: Double = 0.20,
                   minQRank: Double = 0.1,
                   alpha: Double = 0.5,
                   budget: Long = 2000,
                   shards: Int = 8,
                   seed: String = "42",
                   contamN: Int = 10,
                   materialize: DataFrame => DataFrame =
                     _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
                   nearDedup: Boolean = false,
                   checkpointDir: Option[String] = None)
      : DataFrame = {
    // 6. encode: BPE ids in-row; _syms/_ids are multi-referenced aliases
    // (withColumn first — CollapseProject keeps them single-eval; an
    // inline flatten inside the downstream lambdas would re-run
    // BpeSegment per reference). The encode runs INSIDE mixedStage's
    // narrow projection (r18): the per-doc outputs (n_tokens, ids_fp)
    // are row-local over the cached text, so computing them BEFORE the
    // calibrate window means text never rides the stratum exchange, the
    // pack window or the shard exchange — the same §2.3 projection cure
    // [[e2e]] takes, at the price of encoding the calibrate/temperature
    // losers too (a bounded constant factor: membership only shrinks
    // after stage 4, and encode is a per-row map, so filtering commutes
    // with it bit-for-bit).
    val merges = model.merges.map(m => (m._1, m._2))
    def encoded(df: DataFrame): DataFrame = df
      .withColumn("_ws", filter(split(col(textCol), " "), w => w =!= ""))
      .withColumn("_syms", flatten(transform(col("_ws"),
        w => graft.functions.BpeSegment.bpeSegment(w, merges))))
      .withColumn("_ids", transform(col("_syms"),
        sym => graft.functions.VocabId.vocabId(sym, model.vocab)))
      .withColumn("n_tokens", size(col("_syms")).cast("long"))
      .withColumn("ids_fp",
        md5(array_join(transform(col("_ids"), _.cast("string")), ",")))
    val (release, tokenized) = mixedStage(docs, idCol, textCol, strataCol,
      benchmark, benchTextCol, lexicon, maxTop2GramCharFrac, minQRank,
      alpha, contamN, materialize, nearDedup, checkpointDir,
      narrowCols = Some(df => encoded(df)
        .select(col(idCol), col(strataCol),
          TextStats.quality(col(textCol)).as("_q"),
          col("n_tokens"), col("ids_fp"))))
    // 7. pack on real token counts
    val packed = TextStats.packSequences(tokenized, strataCol, idCol,
      col("n_tokens"), budget)
    // 8. shard shuffle
    val result = TextStats.shuffleShards(packed, idCol, shards, seed)
      .select(col(idCol), col(strataCol), col("n_tokens"), col("ids_fp"),
        col("seq_id"), col("seq_offset"), col("shard"), col("pos"))
    persisted.put(result, release)
    result
  }
}

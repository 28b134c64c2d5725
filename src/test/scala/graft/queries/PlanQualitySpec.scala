package graft.queries

import graft.SparkSpec

/** Guards the 100 TB posture: filters/projections must reach the parquet
  * scan and row pipelines must stay inside whole-stage codegen. */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  test("q6: predicate pushdown and column pruning reach the scan") {
    val plan = formattedPlan(QueryPack.q6ForecastRevenue(spark, sf))
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05"),
      s"discount filter not pushed:\n$plan")
    assert(plan.contains("LessThan(l_quantity,24"), "quantity filter not pushed")
    // projection pruned to the 3 referenced columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan reads unused columns: $readSchema")
  }

  test("q3: both joins are broadcasts — lineitem is never shuffled pre-agg") {
    val plan = formattedPlan(QueryPack.q3TopOrders(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("ivf: no crossJoin, no window, and the vector table is never broadcast") {
    for (q <- Seq(QueryPack.xAnnIvf(spark, sf), QueryPack.xAnnIvfHier(spark, sf))) {
      val plan = formattedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"crossJoin crept back:\n$plan")
      assert(!plan.contains("Window"), s"window crept back:\n$plan")
      // the 100 TB shape: cell join is a salted shuffle-hash join — a
      // whole-table broadcast would OOM at scale
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"cell join lost its shuffle shape:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"vector table must not be broadcast:\n$plan")
    }
  }

  test("ivf assignment evaluates native: no interpreted HOF, argmin inside codegen") {
    // The disease that struck three times (the LSH dot in r8, the IVF
    // assignment argmin in r9, the K-wide dot-array expansion in r10):
    // first an interpreted higher-order function — transform/zip_with/
    // aggregate — carrying the dominant per-row compute, then its cure's
    // own failure mode — `array(dot×K)` + array_min inlines K loops into
    // one generated method, which past K ≈ 100 blows the JIT bytecode
    // ceiling and de-optimises the stage to the bytecode interpreter.
    //
    // annIvf CHECKPOINTS the assigned frame (the index build), which
    // truncates lineage — the assignment expression can never appear in
    // that query's executed plan. So the assignment tier is pinned on the
    // two surfaces that expose it un-checkpointed: the public two-level
    // assignment itself and the probe search's corpus side.
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    val hier = graft.operators.Ann.assignCellsHier(emb, "embedding", cents)
    hier.collect()
    val hierPlan = hier.queryExecution.executedPlan.toString
    for (hof <- Seq("zip_with(", "aggregate(", "transform("))
      assert(!hierPlan.contains(hof),
        s"interpreted HOF '$hof' in the two-level assignment plan:\n$hierPlan")
    assert(!hierPlan.contains("array(graft_dot"),
      s"K-wide dot-array expansion (JIT-ceiling risk) in the assignment:\n$hierPlan")
    // the two tiers must be FUSED in one expression — a CASE chain of
    // per-block argmins re-inlines ~sqrt(K) loop bodies into one generated
    // method and blows the JIT bytecode ceiling (187-200 s vs 1.5 s at
    // sf10, SCALING.md round 10)
    assert(!hierPlan.contains("CASE WHEN"),
      s"per-block CASE chain (JIT-ceiling risk) back in the assignment:\n$hierPlan")
    assert(hierPlan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_nearest_centroid_hier")),
      s"graft_nearest_centroid_hier not inside a codegen stage:\n$hierPlan")

    // probe search: the corpus-side flat assignment is in-plan (the 8-row
    // query side legitimately keeps a zip_with, so no HOF-absence pin here)
    val probe = QueryPack.xAnnIvfProbe(spark, sf)
    probe.collect()
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.contains("graft_nearest_centroid"),
      s"native argmin missing from the probe-search corpus scan:\n$probePlan")
    assert(!probePlan.contains("array(graft_dot"),
      s"K-wide dot-array expansion (JIT-ceiling risk) in the probe plan:\n$probePlan")

    // the checkpointed all-assignment queries still score via the native
    // dot and must stay HOF-free end to end
    for (q <- Seq(QueryPack.xAnnIvf(spark, sf), QueryPack.xAnnIvfHier(spark, sf))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      for (hof <- Seq("zip_with(", "aggregate(", "transform("))
        assert(!plan.contains(hof),
          s"interpreted HOF '$hof' back in the scoring plan:\n$plan")
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")),
        s"graft_dot not inside a codegen stage:\n$plan")
    }
  }

  test("pq: query tables broadcast; the encoded corpus never shuffles") {
    val plan = formattedPlan(QueryPack.xAnnPq(spark, sf))
    // ADC scoring joins the (tiny) query×table side INTO the corpus scan:
    // a broadcast nested-loop over 8 query rows, never a corpus shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query tables not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle for ADC scoring:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast product:\n$plan")
  }

  test("ivfpq: probed cells broadcast-hash-join the encoded corpus; no corpus shuffle") {
    val plan = formattedPlan(QueryPack.xAnnIvfPq(spark, sf))
    // the compressed-index shape: the query side (nprobe cells × ADC
    // tables) broadcasts and meets the one-pass encoded corpus in a
    // hash join on the cell key — the corpus itself never shuffles and
    // is never compared all-pairs
    assert(plan.contains("BroadcastHashJoin"),
      s"cell join must broadcast the probed query side:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle before ADC scoring:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unbroadcast product:\n$plan")
  }

  test("ivfpq rerank: exact pass broadcasts candidates into the corpus; no corpus shuffle-join") {
    val plan = formattedPlan(QueryPack.xAnnIvfPqRerank(spark, sf))
    // the re-rank tier joins the (R·|Q|-row) candidate set back into the
    // raw vectors — that side must broadcast; the corpus must never
    // sort-merge or product for either the ADC or the exact pass
    assert(plan.contains("BroadcastHashJoin"),
      s"rerank candidate join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle-sort or product for re-ranking:\n$plan")
  }

  test("ivfpq residual: corpus scan carries the native residual, tables native, no dot-array") {
    val res = QueryPack.xAnnIvfPqRes(spark, sf)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("graft_centroid_residual"),
      s"native residual missing from the corpus scan:\n$plan")
    assert(plan.contains("graft_nearest_centroid"),
      s"native encode argmin missing:\n$plan")
    assert(!plan.contains("array(graft_dot"),
      s"K-wide dot-array expansion (JIT/janino-ceiling risk) crept back:\n$plan")
  }

  test("pq256: 8-bit encode and tables stay native (the janino 64 KB guard)") {
    // at ksub = 256 the dot-array rendering of the tables crosses
    // janino's hard 64 KB method limit and the encode argmin the JIT's
    // ~8 KB ceiling — both measured; the executed plan must carry the
    // two native expressions and neither banned rendering
    val q = QueryPack.xAnnPq256(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("graft_nearest_centroid"),
      s"native encode argmin missing from the pq256 plan:\n$plan")
    assert(plan.contains("graft_centroid_sqdists"),
      s"native distance tables missing from the pq256 plan:\n$plan")
    assert(!plan.contains("array(graft_dot"),
      s"K-wide dot-array expansion back in the pq256 plan:\n$plan")
  }

  test("lsh: bucket join is a shuffle join (never a single-partition broadcast)") {
    val plan = formattedPlan(QueryPack.xAnnLsh(spark, sf))
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"bucket join lost its shuffle shape:\n$plan")
    assert(!plan.contains("Window"), s"window crept back:\n$plan")
    // rank-1 is an aggregation → partial (map-side) combine before exchange
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"max_by aggregation missing:\n$plan")
  }

  test("image dedup pairs: banded equi-join, never all-pairs") {
    // the candidate join must key on (band, slice) — an equi hash/merge
    // join — not a cartesian/nested-loop product over the hash table
    val plan = formattedPlan(QueryPack.xImageDedupPairs(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded pair generation degenerated to all-pairs:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"band-key equi join missing:\n$plan")
  }

  test("learned quality: one narrow native scan, zero exchange, inside codegen") {
    val df = QueryPack.xQualityLearned(spark, sf)
    val plan = formattedPlan(df)
    assert(!plan.contains("Exchange"), s"learned scorer must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"no token explode allowed:\n$plan")
    assert(plan.contains("graft_hashed_ngram_score"),
      s"native scorer missing from the plan:\n$plan")
    // doGenCode keeps the scoring Project inside whole-stage codegen
    // (formatted mode marks fused nodes with [codegen id : N])
    assert(plan.contains("[codegen id :"), s"codegen span lost:\n$plan")
  }

  test("q5: dims broadcast; only the fact join shuffles") {
    val plan = formattedPlan(QueryPack.q5RegionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
  }

  test("document operators stay narrow: split/redact/rep-ratio have no exchange") {
    for (q <- Seq(QueryPack.xTrainSplit _, QueryPack.xRedact _, QueryPack.xRepRatio _)) {
      val plan = formattedPlan(q(spark, sf))
      assert(!plan.contains("Exchange"), s"narrow doc operator shuffles:\n$plan")
    }
  }

  test("decontaminate: one probe pass, no corpus Generate, no join, no sort") {
    // the benchmark's gram set is collected and broadcast before the plan
    // runs, so the corpus side is ONE native in-row probe feeding the
    // per-id sum: no gram explode, no join of any kind, one exchange
    val plan = formattedPlan(QueryPack.xDecontaminate(spark, sf))
    assert(plan.contains("graft_ngram_probe"), s"native probe missing:\n$plan")
    assert(!plan.contains("Generate"), s"a gram explode crept back:\n$plan")
    assert(!plan.contains("Join"), s"the probe route joins nothing:\n$plan")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected only the per-id sum's exchange, got $exchanges:\n$plan")
  }

  test("decontaminate: an over-threshold benchmark degrades to a shuffle-hash join") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // threshold 0 forces the over-threshold route regardless of estimate
    val plan = formattedPlan(graft.operators.TextDedup.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text",
      benchBroadcastMaxBytes = 0L))
    assert(plan.contains("ShuffledHashJoin"),
      s"over-threshold bench must build a shuffle-hash table:\n$plan")
    assert(!plan.contains("BroadcastJoin") && !plan.contains("BroadcastHashJoin"),
      s"over-threshold bench must NOT broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never sort:\n$plan")
  }

  test("contamination fraction: one probe per doc, no Generate, no sort") {
    val plan = formattedPlan(QueryPack.xContaminationFrac(spark, sf))
    assert(!plan.contains("Generate"), s"a gram explode crept back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle into a sort-merge join:\n$plan")
    // one probe evaluation: a separate total-grams branch would re-plan
    // the corpus pass (the BM25 duplicated-subtree trap)
    val probes = "graft_ngram_probe\\(".r.findAllIn(plan).length
    assert(probes == 1, s"corpus probed $probes times:\n$plan")
    // the only join is the id frame's join back onto the scores, and it
    // broadcasts the per-id scores
    val joins = """\(\d+\) \w*Join""".r.findAllIn(plan).toSeq
    assert(joins.size == 1 && joins.head.endsWith("BroadcastHashJoin"),
      s"expected the one broadcast id join-back, got $joins:\n$plan")
  }

  test("remove spans: no product, no nested-loop, in-row excision (no token explode join-back)") {
    val plan = formattedPlan(QueryPack.xRemoveSpans(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"product crept in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join rendering crept in — coverage must stay in-row:\n$plan")
    // exactly one Generate: the span pass's window explode. A second one
    // means the relational rendering (posexplode every corpus token and
    // join coverage back) replaced the in-row HOF filter.
    val generates = """\(\d+\) Generate""".r.findAllIn(plan).length
    assert(generates == 1,
      s"expected exactly the span explode, got $generates Generates:\n$plan")
  }

  test("contaminated spans: bench windows broadcast, no product, excision in-row") {
    val plan = formattedPlan(QueryPack.xContaminatedSpans(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"bench window side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus must never sort-merge or product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range-join rendering crept in — coverage must stay in-row:\n$plan")
    // two Generates: the doc-side span explode + the bench-side window
    // explode; a third means the relational excision replaced the HOF
    val generates = """\(\d+\) Generate""".r.findAllIn(plan).length
    assert(generates == 2,
      s"expected doc + bench window explodes only, got $generates:\n$plan")
  }

  test("contaminated spans: an over-threshold benchmark degrades to shuffle-hash") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = formattedPlan(graft.operators.TextDedup.removeContaminatedSpans(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text", n = 10,
      benchBroadcastMaxBytes = 0L))
    assert(plan.contains("ShuffledHashJoin"),
      s"over-threshold bench must build a shuffle-hash table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never sort:\n$plan")
  }

  test("shuffle shards: ONE exchange feeds the per-shard rank; hash stays narrow") {
    val plan = formattedPlan(QueryPack.xShuffleShards(spark, sf))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected the single shard exchange, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      s"no join belongs in a pure permutation:\n$plan")
  }

  test("sharded pack: corpus gets ONE group+shard window; stitch join broadcasts") {
    val plan = formattedPlan(QueryPack.xPackSalted(spark, sf))
    // the corpus-side window must partition by (group, shard) — the whole
    // point: a dominant group spreads over `shards` window partitions
    assert(plan.linesIterator.exists(l =>
        l.contains("windowspecdefinition") && l.contains("_shard")),
      s"corpus window lost its shard key:\n$plan")
    // the offsets table is groups × shards rows — it must broadcast, the
    // corpus must never sort-merge against it
    assert(plan.contains("BroadcastHashJoin"),
      s"offset stitch join must broadcast the tiny side:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must never sort or product for the stitch:\n$plan")
  }

  test("bucketed join: co-located scans — the only shuffle is the final tiny agg") {
    // bucketing must remove BOTH pre-join shuffles; broadcast is disabled
    // so the small side can't hide a missing co-location behind a
    // BroadcastExchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = spark.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = formattedPlan(QueryPack.xBucketedJoin(spark, sf))
      assert(plan.contains("Bucketed: true"), s"scans not bucketed:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
      val shuffles = """\(\d+\) Exchange""".r.findAllIn(plan).length
      assert(shuffles == 1,
        s"expected exactly one Exchange (the 5-group priority agg), got $shuffles:\n$plan")
      // Sort elision needs BOTH one file per bucket (Bucketing's
      // pre-partitioning guarantees it) AND the opt-in conf Spark gates
      // the file-count check behind — pin that the conf is sufficient,
      // so a deployment knows exactly what to set to harvest the
      // per-bucket sort order
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val sorted = formattedPlan(QueryPack.xBucketedJoin(spark, sf))
      assert(!"""\(\d+\) Sort\b""".r.findAllIn(sorted).hasNext,
        s"with outputOrdering on, Sort must elide below the merge join:\n$sorted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
    }
  }

  test("bucketing helper: aggregation on the bucket key needs zero exchange") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bucketing_test")
    graft.runtime.Bucketing.ensureBucketed(spark, "pq_bkt_agg",
      tmp.resolve("a").toString, Seq("k"), 4)(
      Seq((1L, 2.0), (2L, 3.0), (1L, 4.0)).toDF("k", "v"))
    val agg = spark.table("pq_bkt_agg").groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"))
    val plan = formattedPlan(agg)
    assert(!"""\(\d+\) Exchange""".r.findAllIn(plan).hasNext,
      s"groupBy on the bucket key must reuse the bucket partitioning:\n$plan")
    assert(agg.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 6.0), (2L, 3.0)), "bucketing must never change answers")
  }

  test("paragraph dedup: one scan, dense_rank frequency window, keyed reassembly") {
    val plan = formattedPlan(QueryPack.xParagraphDedup(spark, sf))
    // distinct-doc frequency rides a dense_rank+max window on the
    // paragraph key — the former count-table join-back re-planned the
    // explode pipeline (second corpus scan) and shuffled the full
    // paragraph strings twice
    assert(plan.contains("dense_rank"), s"frequency window missing:\n$plan")
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin")
      && !plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"),
      s"count join-back crept in:\n$plan")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 1, s"explode pipeline duplicated: $scans scans\n$plan")
  }

  test("bigram log-prob: native in-row pairing, pair-keyed window, uni join shuffle-hash") {
    val plan = formattedPlan(QueryPack.xBigramLogprob(spark, sf))
    // pairing happens inside the row via the native PairCounts map — the
    // interpreted transform-HOF rendering (re-planned per reference,
    // lambda dispatch per token) must never come back
    assert(plan.contains("graft_pair_counts"),
      s"native pair map missing — HOF pairing crept back:\n$plan")
    assert(!plan.contains("transform("),
      s"interpreted pairing HOF crept back:\n$plan")
    // the corpus bigram count is a window over the PAIR key (never a
    // per-doc window, and never a count table joined back — that
    // re-plans the pair pipeline and re-scans the corpus)
    assert(plan.contains("Window"), s"pair-count window missing:\n$plan")
    assert(!"""windowspecdefinition\(doc_id""".r.findFirstIn(plan).isDefined,
      s"window must partition by the pair, not the doc:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"uni join lost its shuffle-hash shape:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join shape:\n$plan")
    // the single-row vocab-size total is the only broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row totals should broadcast:\n$plan")
    // 3 physical scans: pair pass, unigram pass, and the count-pruned
    // vocab-size duplicate (a 1-number re-derivation, not a data path)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 3, s"pair pipeline duplicated: $scans scans\n$plan")
  }

  test("unigram log-prob: vocab joins by shuffle-hash, never broadcast or product") {
    val plan = formattedPlan(QueryPack.xUnigramLogprob(spark, sf))
    // the vocabulary is corpus-derived — at 100 TB it is itself huge, so
    // the word join must build a shuffle-hash table, not broadcast
    assert(plan.contains("ShuffledHashJoin"),
      s"vocab join lost its shuffle-hash shape:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"product crept in:\n$plan")
    // the single-row totals ARE broadcast (the only broadcast in the plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row totals should broadcast:\n$plan")
  }

  test("bm25: query-term semi-join broadcasts; the corpus never shuffle-joins") {
    val plan = formattedPlan(QueryPack.xBm25(spark, sf))
    // every join side except the corpus is query-derived (terms, 1-row
    // stats) — all must broadcast; a corpus-side shuffle JOIN would mean
    // the token stream leaked past the semi-join
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term filter lost its broadcast shape:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join crept in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"product crept in:\n$plan")
    // the corpus is read exactly twice (token pass + narrow dl/avgdl
    // pass) and the tiny pushdown-filtered query frame twice; a fifth
    // scan means a tf/df branch re-planned the token pipeline (the
    // duplicated-subtree trap this operator's scaladoc documents).
    // (formatted explain's details section lists each physical scan
    // once as "(n) Scan parquet")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 4, s"corpus pipeline duplicated: $scans scans\n$plan")
  }

  test("inverted index: one corpus scan; posting sample bounded by a window") {
    val plan = formattedPlan(QueryPack.xInvertedIndex(spark, sf))
    // df/cf are window aggregates sharing the sample's term partitioning
    // — a stats groupBy branch joined back would duplicate the token
    // pipeline (second corpus scan) and a collect_set sample would
    // buffer a stopword's full posting list
    assert(!plan.contains("collect_set"),
      s"unbounded posting collection crept in:\n$plan")
    assert(plan.contains("Window"), s"posting-sample window missing:\n$plan")
    // 2 physical scans: the token pipeline + the count-only nDocs scan
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 2, s"token pipeline duplicated: $scans scans\n$plan")
  }

  test("substring spans: native in-row hashing, one scan, dense_rank not a join-back") {
    val plan = formattedPlan(QueryPack.xSubstringSpans(spark, sf))
    assert(plan.contains("graft_ngram_span_hashes"),
      s"native span hashing missing — HOF rendering crept back:\n$plan")
    // the Generate must explode the native expression, not a per-token
    // transform/slice/array_join chain (the query-side ptext rendering
    // legitimately uses one transform over a 3-element LITERAL array —
    // constant per row, not token-proportional, so no blanket HOF ban)
    val gen = plan.linesIterator.filter(_.contains("explode")).mkString("\n")
    assert(!gen.contains("transform("),
      s"interpreted windowing HOF crept back into the explode:\n$plan")
    // distinct-doc counts ride the gram-key window; a frequency table
    // joined back would re-plan the span pipeline (second corpus scan)
    assert(plan.contains("dense_rank"), s"dense_rank window missing:\n$plan")
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"),
      s"count join-back crept in:\n$plan")
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 1, s"span pipeline duplicated: $scans scans\n$plan")
  }

  test("temperature mix: one SQL execution, one corpus scan, reads no file") {
    // the rate table is one (lang, n) aggregation collected while the
    // frame is built; the share/target/rate algebra runs on the driver.
    // A rate algebra over self-joined aggregates re-plans the corpus
    // groupBy once per reference — a regression here multiplies the
    // corpus read at 100 TB.
    val executed = collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        executed.synchronized { executed += qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        executed.synchronized { executed += qe.executedPlan.toString }
    }
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val df = try {
      val built = QueryPack.xTemperatureMix(spark, sf)
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      built
    } finally spark.listenerManager.unregister(listener)
    val plans = executed.synchronized { executed.toList }
    assert(plans.size == 1,
      s"building the rate table must run exactly one SQL execution:\n" +
        plans.mkString("\n---\n"))
    val finalPlan = plans.head.split("== Initial Plan ==")(0)
    val corpusScans = "FileScan parquet".r.findAllMatchIn(finalPlan).size
    assert(corpusScans == 1,
      s"corpus must be scanned exactly once (found $corpusScans):\n$finalPlan")
    assert(df.inputFiles.isEmpty, s"the rate table reads ${df.inputFiles.toSeq}")
    val resultPlan = df.queryExecution.executedPlan.toString
    assert(resultPlan.contains("LocalTableScan") && !resultPlan.contains("FileScan"),
      s"the rate table must be a local relation:\n$resultPlan")
  }

  test("stratified sample is a narrow filter: no exchange, filter reaches the scan") {
    val plan = formattedPlan(QueryPack.xStratified(spark, sf))
    assert(!plan.contains("Exchange"), s"sample must not shuffle:\n$plan")
  }

  test("x3_xml_repeat: per-record transform is narrow (no exchange, no join)") {
    val plan = formattedPlan(QueryPack.x3XmlRepeat(spark, sf))
    assert(!plan.contains("Exchange"), s"XML transform shuffles:\n$plan")
    assert(!plan.contains("Join"), s"XML transform joins:\n$plan")
  }

  private def nodes(plan: String, name: String): Int =
    (raw"\(\d+\) " + name + raw"\b").r.findAllIn(plan).length

  /** The non-tabular segmentation shape: the line walk, and nothing that
    * joins, windows or aggregates; `exchanges` per-file Exchanges (each
    * with its Sort) feed it. */
  private def assertWalk(plan: String, exchanges: Int): Unit = {
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop") &&
      !plan.contains("Join"), s"segmentation must not join:\n$plan")
    assert(plan.contains("MapPartitions"), s"per-file walk missing:\n$plan")
    assert(!plan.contains("Window"), s"window rendering crept back:\n$plan")
    // no per-record aggregate: the collect_list ObjectHashAggregate cost
    // ~10 s of 27 at sf10 when records were assembled that way
    assert(!plan.contains("Aggregate"), s"record assembly became an aggregate:\n$plan")
    assert(nodes(plan, "Exchange") == exchanges && nodes(plan, "Sort") == exchanges,
      s"expected $exchanges per-file Exchange and Sort:\n$plan")
  }

  test("n3_segments: one per-file walk over ONE exchange — no window, no aggregate, no join") {
    val plan = formattedPlan(QueryPack.n3Segments(spark, sf))
    assertWalk(plan, exchanges = 1)
    assert(raw"Arguments: hashpartitioning\(file#\d+, ".r.findFirstIn(plan).isDefined,
      s"the one exchange must partition by file:\n$plan")
  }

  test("t12_importer_union: the docx non-tabular branch walks with no Exchange and no Sort") {
    // the docx reader emits each file's lines in order in one task, and the
    // csv/xlsx/xls branches plan no exchange either
    assertWalk(formattedPlan(QueryPack.t12ImporterUnion(spark, sf)), exchanges = 0)
  }

  test("importer: text and PDF non-tabular branches walk with no Exchange and no Sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_nt")
    val text = dir.resolve("report.txt")
    java.nio.file.Files.write(text, "NAME: A\nNAME: B\n".getBytes("UTF-8"))
    val pdf = dir.resolve("report.pdf")
    java.nio.file.Files.write(pdf, Fixtures.textPdf(Seq(Seq("NAME: A", "NAME: B"))))
    def mapping(ext: String) = graft.model.MappingLoader.loadTables(
      s"""|- canonical_name: names
          |  filename_pattern: !ruby/regexp /\\.$ext\\z/i
          |  format: ${if (ext == "txt") "nontabular" else ext}
          |  start_line_pattern: !ruby/regexp /\\ANAME: /
          |  capture_start_line: true
          |  end_in_a_record: true
          |  klass: Name
          |  columns:
          |  - column: name
          |    non_tabular_cell:
          |      lines: 0
          |      capture: !ruby/regexp /\\ANAME: (.*)\\z/
          |    mappings:
          |    - field: name
          |""".stripMargin)
    Seq(text -> "txt", pdf -> "pdf").foreach { case (path, ext) =>
      val names = graft.run.Importer.mappedTables(spark, path.toString, mapping(ext))("names")
      assertWalk(formattedPlan(names), exchanges = 0)
      assert(names.select(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("fields"), "name")).collect().map(_.getString(0))
        .sorted.toSeq == Seq("A", "B"), ext)
    }
  }

  test("source cap: rank-filter compiles to WindowGroupLimit (map-side top-k)") {
    // the 100 TB claim of capPerGroup: the per-group top-`cap` heap runs
    // BEFORE the exchange, so a flooded source shuffles only its first
    // `cap` survivors per input partition — a plain Window here would
    // shuffle the whole corpus into the flooded source's partition
    val plan = formattedPlan(QueryPack.xSourceCap(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter lost its WindowGroupLimit pushdown:\n$plan")
  }

  test("token budget: running sum and group total share one exchange") {
    val plan = formattedPlan(QueryPack.xTokenBudget(spark, sf))
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"expected exactly one Exchange (the lang partition), got $shuffles:\n$plan")
  }

  test("cluster topics: assignment is a narrow native argmin (no join before the agg)") {
    val plan = formattedPlan(QueryPack.xClusterTopics(spark, sf))
    // the only join allowed is the broadcast of the 1-row total onto the
    // 16-row aggregate — the corpus itself must never enter a product
    assert(!plan.contains("CartesianProduct"),
      s"assignment degraded to a product:\n$plan")
    assert(plan.contains("graft_nearest_centroid") || plan.contains("NearestCentroid"),
      s"native argmin missing from the topic assignment:\n$plan")
  }

  test("vocab encode: TakeOrdered vocab cut; token lookup broadcasts, never sort-merges") {
    val plan = formattedPlan(QueryPack.xVocabEncode(spark, sf))
    // the vocab cut must be TakeOrdered (per-partition top-V heaps, O(V)
    // driver state) — a global Sort+Limit would shuffle the whole word
    // count table to one partition
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cut lost its TakeOrdered shape:\n$plan")
    // the V-bounded vocab broadcasts onto the exploded token stream; a
    // sort-merge here would shuffle the corpus's every token by word
    assert(plan.contains("BroadcastHashJoin"),
      s"token lookup must broadcast the V-bounded vocab:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream must never sort-merge on word:\n$plan")
  }

  test("pipeline e2e: one corpus scan (cached, consumed twice), one lang exchange shared by calibrate+pack") {
    // The composition-time claims no single-operator row can pin:
    //  - the training corpus is read from parquet ONCE (the persist after
    //    dedup); the decontamination probe and the main branch both
    //    consume the cache — without the materialization each would
    //    re-plan gate+dedup from the scan (the duplicated-subtree trap).
    //    The contamination probe runs inside the EAGER drop-set
    //    materialisation (it would be re-evaluated per action otherwise
    //    — once under the rate collect, once under the final job), so the
    //    FINAL job scans the cache exactly once (main branch) and touches
    //    no parquet at all: the benchmark's only parquet read is the gram
    //    collect before the drop-set job
    //  - calibrate's stratum window and pack's stratum window share ONE
    //    hashpartitioning(lang) exchange (EnsureRequirements inserts only
    //    a sort between them)
    //  - the contaminated-id anti join resolves to a runtime BROADCAST
    //    (AQE sees the pinned id set's true size), never a corpus
    //    sort-merge
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = QueryPack.xPipelineE2e(spark, sf)
    try {
      assert(df.collect().nonEmpty, "pipeline produced no rows at sf0.001")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val ns = nodes(df.queryExecution.executedPlan)
      val cacheScans = ns.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans == 1,
        s"final job must scan the training cache exactly once (the probe " +
          s"branch consumed it in the drop-set job), got $cacheScans")
      val parquetScans = ns.count(_.isInstanceOf[FileSourceScanExec])
      assert(parquetScans == 0,
        s"final job must touch no parquet (benchmark read once in the " +
          s"drop-set job), got $parquetScans")
      val langExchanges = ns.collect {
        case e: ShuffleExchangeLike => e.outputPartitioning
      }.count {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains("lang"))
        case _ => false
      }
      assert(langExchanges == 1,
        s"calibrate+pack must share one lang exchange, got $langExchanges")
      val planStr = ns.mkString("\n")
      assert(planStr.contains("BroadcastHashJoin") && planStr.contains("LeftAnti"),
        "contaminated-id anti join must broadcast at runtime")
    } finally graft.operators.TextPipeline.unpersistPipeline(df)
  }

  test("pipeline tok: encode stage adds NO scan, NO exchange, NO join — BPE stays in the projection") {
    // the tokenized pipeline's composition claims: folding BPE encode into
    // the plan must not cost anything structural —
    //  - same scan discipline as e2e (cache feeds two consumers, one
    //    parquet read for the benchmark's gram collect)
    //  - calibrate+pack STILL share one lang exchange (the narrow encode
    //    projection between them preserves the partitioning)
    //  - the vocabulary lookup is the native hash-probe VocabId inside
    //    the projection (addReferenceObj table — O(1) per symbol at any
    //    V; the plan-literal map()+element_at it replaced scans its key
    //    array O(V) per probe, SCALING.md r15), never a corpus join; the
    //    native BpeSegment runs in the same projection
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = QueryPack.xPipelineTok(spark, sf)
    try {
      assert(df.collect().nonEmpty, "tokenized pipeline produced no rows at sf0.001")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val ns = nodes(df.queryExecution.executedPlan)
      val cacheScans = ns.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans == 1,
        s"final job must scan the training cache exactly once (the probe " +
          s"branch consumed it in the drop-set job), got $cacheScans")
      val parquetScans = ns.count(_.isInstanceOf[FileSourceScanExec])
      assert(parquetScans == 0,
        s"final job must touch no parquet (benchmark read once in the " +
          s"drop-set job), got $parquetScans")
      val langExchanges = ns.collect {
        case e: ShuffleExchangeLike => e.outputPartitioning
      }.count {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains("lang"))
        case _ => false
      }
      assert(langExchanges == 1,
        s"calibrate+pack must share one lang exchange despite the encode stage, got $langExchanges")
      val planStr = ns.mkString("\n")
      assert(planStr.contains("graft_bpe_segment"),
        "native BpeSegment missing from the encode projection")
      assert(planStr.contains("graft_vocab_id"),
        "vocab-id lookup must be the native hash probe (VocabId) — " +
          "the literal-map element_at it replaced probes O(V) per symbol")
      assert(!planStr.contains("SortMergeJoin"),
        "vocabulary lookup must stay in the projection, never a corpus join")
      assert(planStr.contains("BroadcastHashJoin") && planStr.contains("LeftAnti"),
        "contaminated-id anti join must broadcast at runtime")
    } finally graft.operators.TextPipeline.unpersistPipeline(df)
  }

  test("pipeline near: keeper adds NO parquet rescan; member window, anti joins broadcast") {
    // the near-dup stage's composition claims:
    //  - the corpus parquet is STILL read once (the signature build and
    //    the keeper's quality branch both consume the post-dedup cache;
    //    only the benchmark's gram collect reads parquet again)
    //  - the keeper window partitions by COMPONENT over the member set
    //    only (the comp-labels inner join bounds the window's input to
    //    docs that collided in a band — never a corpus-wide component
    //    exchange), and calibrate+pack still share one lang exchange
    //  - both LEFT-ANTI joins (near-dup losers, contaminated ids)
    //    resolve to runtime broadcasts: losers ≪ corpus
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = QueryPack.xPipelineNear(spark, sf)
    try {
      assert(df.collect().nonEmpty, "near pipeline produced no rows at sf0.001")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val ns = nodes(df.queryExecution.executedPlan)
      val parquetScans = ns.count(_.isInstanceOf[FileSourceScanExec])
      assert(parquetScans == 0,
        s"final job must touch no parquet (benchmark read once in the " +
          s"drop-set job), got $parquetScans")
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val cacheScans = ns.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(cacheScans == 1,
        s"final job must scan the training cache exactly once (probe " +
          s"and keeper consumed it in the eager drop-set job), got $cacheScans")
      def exchangesOn(key: String) = ns.collect {
        case e: ShuffleExchangeLike => e.outputPartitioning
      }.count {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains(key))
        case _ => false
      }
      assert(exchangesOn("lang") == 1,
        s"calibrate+pack must share one lang exchange, got ${exchangesOn("lang")}")
      // the keeper window (component exchange) ran ONCE, eagerly, when the
      // drop set was checkpointed — the final plan carries only the
      // id-keyed anti join residue
      assert(exchangesOn("component") == 0,
        s"keeper window must not re-plan in the final job, got ${exchangesOn("component")}")
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      // losers ∪ contaminated ride ONE anti join, resolved to a runtime
      // broadcast (both sides of the union are ≪ corpus)
      val antiJoins = ns.count {
        case b: BroadcastHashJoinExec => b.joinType.toString == "LeftAnti"
        case _ => false
      }
      assert(antiJoins == 1,
        s"the unioned drop set must ride one broadcast anti join, got $antiJoins")
      assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
        "no corpus sort-merge anywhere in the near pipeline")
    } finally graft.operators.TextPipeline.unpersistPipeline(df)
  }

  test("near ingest: one parquet scan, 4 broadcast band probes, zero probe-side exchanges") {
    // the streaming gate's batch-shape claims (scaladoc on
    // TextDedup.nearDropAtIngest), as assertions:
    //  - the probe side reads the corpus parquet ONCE (signature +
    //    quality are in-row over the same scan; the index is a
    //    checkpointed RDD, never a parquet rescan)
    //  - each of the `bands` probes resolves to a BroadcastHashJoin
    //    LEFT OUTER against the packed index (the index is bucket-packed
    //    ~64 members/row — broadcastable by construction at any corpus
    //    size where the sized width holds)
    //  - the probe side NEVER shuffles: zero ShuffleExchange anywhere in
    //    the executed plan (the index build's one groupBy exchange ran
    //    eagerly at localCheckpoint time, priced per refresh, and cannot
    //    appear here)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // the incrementally-merged index (xNearIngestIncr) must leave the
    // probe side's shape IDENTICAL — the merge is priced behind the
    // same checkpoint as a rebuild
    for ((name, df) <- Seq("x_near_ingest" -> QueryPack.xNearIngest(spark, sf),
        "x_near_ingest_incr" -> QueryPack.xNearIngestIncr(spark, sf))) {
      assert(df.collect().nonEmpty, s"$name produced no rows at sf0.001")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val ns = nodes(df.queryExecution.executedPlan)
      val parquetScans = ns.count(_.isInstanceOf[FileSourceScanExec])
      assert(parquetScans == 1,
        s"$name: probe side must read the corpus parquet exactly once, got $parquetScans")
      val bandProbes = ns.collect {
        case b: BroadcastHashJoinExec => b.joinType.toString
      }
      assert(bandProbes.length == 4,
        s"$name: expected 4 broadcast band probes, got ${bandProbes.length}")
      assert(bandProbes.forall(_ == "LeftOuter"),
        s"$name: band probes must be LEFT OUTER lookups, got $bandProbes")
      assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"$name: probe side must not shuffle — the index build/merge " +
          "exchange is priced once per refresh behind the checkpoint, " +
          "never per probed batch")
      assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
        s"$name: no sort-merge anywhere in the ingest gate")
    }
  }

  test("sem ingest lifecycle: one scan, broadcast probe in the small-index regime, no probe-side shuffle") {
    // the SEMANTIC gate's batch-shape claims (scaladoc on
    // Ann.semDropAtIngest) for the broadcast regime the spec scale
    // exercises:
    //  - the probe side reads the embeddings parquet ONCE (cell, bucket,
    //    norm and cent_cos are in-row over the same scan; the
    //    lifecycle-built index is a checkpointed RDD, never a rescan)
    //  - the centroid join and the index probe both resolve to
    //    BroadcastHashJoins (Inner for the plan-literal centroid table,
    //    LEFT OUTER for the packed-index lookup) — localCheckpoint
    //    PRESERVES the original plan's stats, so the packed index
    //    auto-broadcasts whenever its estimate fits
    //  - zero shuffle exchanges: the index build's (cell, bucket)
    //    exchange ran eagerly at checkpoint time, priced per refresh
    // Unlike the simhash index (24 B/member, broadcastable by
    // construction), sem members CARRY the embeddings, so past the
    // broadcast threshold the probe legitimately becomes a
    // co-partitioned join (measured at sf10: SMJ, one exchange per
    // side, 4.2 s for 200k probes — SCALING.md round 18). This pin
    // covers the small-index regime AND guards the stamp read from
    // ever introducing a plan break of its own.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val df = QueryPack.xSemIngestLifecycle(spark, sf)
    assert(df.collect().nonEmpty, "x_sem_ingest_lifecycle produced no rows")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val ns = nodes(df.queryExecution.executedPlan)
    val parquetScans = ns.count(_.isInstanceOf[FileSourceScanExec])
    assert(parquetScans == 1,
      s"probe side must read the embeddings parquet exactly once, got $parquetScans")
    val joins = ns.collect { case b: BroadcastHashJoinExec => b.joinType.toString }
    assert(joins.sorted == Seq("Inner", "LeftOuter"),
      s"expected the broadcast centroid join + the LEFT OUTER index probe, got $joins")
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "small-index regime must not shuffle — the index build exchange " +
        "is priced once per refresh behind the checkpoint")
    assert(!ns.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no sort-merge in the broadcast regime")
  }

  test("semdedup text: embedding fused into the signature build — one scan, zero shuffle") {
    // the advertised text→ANN bridge must add NOTHING structural over the
    // synthetic-embeddings row: the hashed embedding, the centroid argmin
    // and the LSH bucket all live in ONE narrow projection over the
    // documents scan (the signature build semDedup checkpoints); the only
    // exchange in the whole operator remains the pair join's
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").rlike("[^ \n\t\r]"))
    val emb = docs.select(col("doc_id").as("vec_id"),
      graft.operators.TextStats.textEmbedding(col("text"), 64).as("embedding"))
    val cents = emb.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    val sig = graft.operators.Ann.assignCells(emb, "embedding", cents)
      .withColumn("bucket", graft.operators.Ann.lshBucket(col("embedding"),
        graft.operators.Ann.hyperplanes(numPlanes = 4, dim = 64)))
    val plan = formattedPlan(sig)
    assert(plan.contains("graft_hashed_embedding"),
      s"embedding scan missing from the signature build:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"signature build must be narrow (embedding fused, no exchange):\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).size +
      "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"signature build re-scanned the corpus:\n$plan")
  }

  test("mapping pipeline stays narrow: records() plan has no exchange") {
    val yaml =
      """|klass: K
         |columns:
         |- column: a
         |  mappings:
         |  - field: a
         |    clean: :name
         |""".stripMargin
    import spark.implicits._
    val df = Seq(("f", 0L, Seq("x"))).toDF("file", "lineno", "cells")
    val recs = graft.compile.MappingCompiler(
      graft.model.MappingLoader.loadTable(yaml)).records(df)
    val plan = formattedPlan(recs)
    assert(!plan.contains("Exchange"), s"mapping pipeline shuffles:\n$plan")
  }
}

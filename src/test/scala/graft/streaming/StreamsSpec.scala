package graft.streaming

import graft.SparkSpec
import graft.compile.MappingCompiler
import graft.model.MappingLoader
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {

  test("records() applies a mapping to a memory stream incrementally") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mapping = MappingLoader.loadTable(
      """|klass: Person
         |columns:
         |- column: surname
         |  mappings:
         |  - field: surname
         |    clean: :name
         |""".stripMargin)
    val in = MemoryStream[(String, Long, Seq[String])]
    val lines = in.toDF.toDF("file", "lineno", "cells")
    val q = MappingCompiler(mapping).records(lines)
      .select(element_at(col("fields"), "surname").as("surname"))
      .writeStream.format("memory").queryName("recs").outputMode("append").start()
    in.addData(("f", 0L, Seq("smith ")), ("f", 1L, Seq(" doe")))
    q.processAllAvailable()
    val out = spark.sql("select surname from recs").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("DOE", "SMITH"))
    q.stop()
  }

  test("TextStats expressions apply to a stream unchanged, equal to batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val texts = Seq(
      "the cat sat on the mat", "xqz vw k", "the the the the",
      "a quick brown fox jumps over the lazy dog")
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      col("text"),
      TextStats.quality(col("text")).as("q"),
      TextStats.langId(col("text")).as("lang"),
      TextStats.repetitionRatio(col("text")).as("rep"),
      TextStats.contentFingerprint(col("text")).as("fp"),
      TextStats.trainSplit(col("text")).as("split"))
    val in = MemoryStream[String]
    val q = proj(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("txs").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from txs").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = proj(texts.toDF("text")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("chunkTokens applies to a stream unchanged, equal to batch") {
    // the chunker is narrow (in-row generator fan-out, no state), so it
    // must ride a readStream projection verbatim — the property every
    // per-doc operator in this repo claims, pinned here for the one that
    // multiplies rows
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val texts = Seq(
      (1 to 10).map("t" + _).mkString(" "), "a b", "one two three four five")
    def chunked(df: org.apache.spark.sql.DataFrame) =
      TextStats.chunkTokens(df, "text", size = 4, overlap = 1)
        .select(col("text"), col("chunk_id"), col("start_tok"), col("chunk"))
    val in = MemoryStream[String]
    val q = chunked(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("chk").outputMode("append").start()
    in.addData(texts.take(1)); q.processAllAvailable()
    in.addData(texts.drop(1)); q.processAllAvailable()
    val streamed = spark.sql("select * from chk").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(r => (r.head, r(1)))
    val batch = chunked(texts.toDF("text")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(r => (r.head, r(1)))
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("dedupAgainst runs stream-static: streaming batch vs static history") {
    // the production ingest shape: a STREAM of newly crawled docs
    // anti-joined against the STATIC historical fingerprint index —
    // Spark's stream-static left_anti join, so the batch operator works
    // on a readStream input unchanged (history is re-read per
    // micro-batch from its static plan, never state)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextDedup
    val history = Seq((1L, "The Quick   Brown Fox"), (2L, "old news")).toDF("id", "body")
    val in = MemoryStream[(Long, String)]
    val q = TextDedup.dedupAgainst(in.toDF.toDF("id", "body"), "id", "body",
        history, "body")
      .select(col("id"))
      .writeStream.format("memory").queryName("incr").outputMode("append").start()
    in.addData((10L, "the quick brown fox"), (11L, "genuinely new content"))
    q.processAllAvailable()
    in.addData((12L, "OLD   NEWS"), (13L, "another fresh page"))
    q.processAllAvailable()
    val kept = spark.sql("select id from incr").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(11L, 13L),
      s"replays must die against the static history across micro-batches: ${kept.toSeq}")
    q.stop()
  }

  test("native scans (gopher, lexicon) apply to a stream unchanged, equal to batch") {
    // the session-5 scans carry per-ROW hash state inside a single eval —
    // no cross-row state — so they must ride a readStream projection
    // verbatim, exactly like the column expressions above; pinned because
    // a CodegenFallback expression is the one shape whose streaming
    // compatibility is easy to silently lose
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val texts = Seq(
      "dup line\nother\ndup line\nends with...",
      "bad words here and BAD words there", "", "one token")
    def proj(df: org.apache.spark.sql.DataFrame) = {
      val g = TextStats.gopherStats(df.select(col("text").as("doc_id"),
        col("text")), "doc_id", "text")
      val l = TextStats.lexiconHits(df.select(col("text").as("doc_id"),
        col("text")), "doc_id", "text", Seq("bad", "dup"))
      g.join(l, "doc_id")
    }
    val in = MemoryStream[String]
    val q = proj(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("scans").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from scans").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = proj(texts.toDF("text")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("DSIR scoring applies to a stream unchanged, equal to batch") {
    // online data selection: the λ table is fit OFFLINE on a batch
    // corpus (an aggregate — not streamable), but scoring is one
    // stateless HashedNgramScore projection, so a trained selector
    // gates an ingest stream verbatim; selection becomes a filter on
    // logw rather than batch top-k
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val corpus = Seq(
      ("alpha beta alpha", true), ("alpha beta", true),
      ("gamma delta gamma", false), ("delta gamma", false))
      .toDF("text", "is_tgt")
    val lam = TextStats.dsirLogRatios(corpus, "text", col("is_tgt"), buckets = 64)
    val texts = Seq("alpha beta", "gamma delta", "", "alpha gamma")
    def proj(df: org.apache.spark.sql.DataFrame) =
      TextStats.dsirScore(df.select(col("text").as("doc_id"), col("text")),
        "doc_id", "text", lam)
    val in = MemoryStream[String]
    val q = proj(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("dsir").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from dsir").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = proj(texts.toDF("text")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("learned quality scoring applies to a stream unchanged, equal to batch") {
    // online quality gating: the classifier is TRAINED offline
    // (trainQualityModel is an iterative aggregate — not streamable),
    // but inference is one stateless HashedNgramScore projection, so a
    // trained model gates an ingest stream verbatim — the deploy shape
    // of the x_quality_trained/x_quality_learned pair
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val corpus = Seq(
      ("the quick brown fox is on the run", "en"),
      ("the slow red fox is in the den", "en"),
      ("zzz yyy xxx www", "xx"), ("qqq ppp ooo nnn", "xx"))
      .toDF("text", "lang")
    val (w, b) = TextStats.trainQualityModel(
      corpus.withColumn("doc_id", monotonically_increasing_id()),
      "doc_id", "text", col("lang") === "en", buckets = 64, iters = 2, lr = 0.5)
    val texts = Seq("the quick fox", "zzz qqq", "", "the den")
    def proj(df: org.apache.spark.sql.DataFrame) =
      TextStats.learnedQuality(df.select(col("text").as("doc_id"), col("text")),
        "doc_id", "text", w.toSeq, b)
    val in = MemoryStream[String]
    val q = proj(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("lq").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from lq").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = proj(texts.toDF("text")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("hashed text embedding applies to a stream unchanged, equal to batch") {
    // streaming ingestion with embedding-at-ingest: HashedEmbedding is a
    // row-local native scan (no vocabulary, no model, no cross-row
    // state), so an ingest stream can emit ANN-ready vectors verbatim —
    // the streaming half of the x_semdedup_text composition (the
    // semDedup index build itself stays a batch job)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val texts = Seq("alpha beta gamma", "alpha beta", "", "one")
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("text").as("doc_id"),
        TextStats.textEmbedding(col("text"), 16).as("emb"))
    val in = MemoryStream[String]
    val q = proj(in.toDF.toDF("text"))
      .writeStream.format("memory").queryName("temb").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from temb").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)
    val batch = proj(texts.toDF("text")).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("BPE encoding applies to a stream unchanged, equal to batch") {
    // tokenize-at-ingest: the merge table is TRAINED offline (bpeTrain is
    // iterative — not streamable), but encoding is one row-local
    // BpeSegment projection plus a stream-static broadcast vocab join —
    // both streaming-legal, so a trained tokenizer encodes an ingest
    // stream verbatim (the deploy shape of x_bpe_train/x_bpe_encode)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val corpus = Seq((1L, "aab aab ab b"), (2L, "aab ab ab"), (3L, "b aab"))
      .toDF("doc_id", "text")
    val model = TextStats.bpeTrain(corpus, "text", 3)
    val texts = Seq((10L, "aab ab"), (11L, "b zq"), (12L, ""), (13L, "ab aab b"))
    def enc(df: org.apache.spark.sql.DataFrame) =
      TextStats.bpeEncode(df, "doc_id", "text", model)
    val in = MemoryStream[(Long, String)]
    val q = enc(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bpest").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))
    val streamed = spark.sql("select * from bpest").collect().map(key).sorted
    val batch = enc(texts.toDF("doc_id", "text")).collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("unigram-LM encoding applies to a stream unchanged, equal to batch") {
    // same deploy shape for the OTHER tokenizer: unigramLmEncode is one
    // row-local Viterbi projection (plan-literal piece table) plus a
    // stream-static broadcast vocab join for the id — stream-legal, no
    // keyed state, the stream side never shuffles
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextStats
    val corpus = Seq((1L, "the cat sat"), (2L, "the cat ran"), (3L, "a fat cat"))
      .toDF("doc_id", "text")
    val model = TextStats.unigramLmTrain(corpus, "text",
      vocabMulti = 4, seedMulti = 10, maxPieceLen = 3)
    val texts = Seq((10L, "the cat"), (11L, "zq fat"), (12L, ""), (13L, "a ran sat"))
    def enc(df: org.apache.spark.sql.DataFrame) =
      TextStats.unigramLmEncode(df, "doc_id", "text", model)
    val in = MemoryStream[(Long, String)]
    val q = enc(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("unist").outputMode("append").start()
    in.addData(texts.take(2)); q.processAllAvailable()
    in.addData(texts.drop(2)); q.processAllAvailable()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))
    val streamed = spark.sql("select * from unist").collect().map(key).sorted
    val batch = enc(texts.toDF("doc_id", "text")).collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    q.stop()
  }

  test("semantic drop-at-ingest against a batch-built semDedup index: batch parity + policy") {
    // stateless ingest gate (Ann.semDropAtIngest): nearest centroid +
    // LSH bucket + one stream-static join against the PACKED index, the
    // drop decision judged in-row — no keyed state, no watermark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.Ann
    val centroids = Seq(0L -> Seq(1.0, 0, 0, 0), 1L -> Seq(0.0, 1, 0, 0))
    val planes = Seq(Seq(1, 1, 1, 1), Seq(1, -1, 1, -1))
    val tau = 0.95
    val indexed = Seq(
      (1L, Seq(1.0, 0.1, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.2, 0.0)),
      (4L, Seq(1.0, 0.0, 0.2, 0.0)) // identical to 3 — witness tie material
    ).toDF("doc_id", "emb")
    val index = Ann.semIndexBuckets(indexed, "doc_id", "emb", centroids, planes)
    val ingest = Seq(
      (11L, Seq(1.0, 0.11, 0.0, 0.0)), // near-dup of 1 → dropped, witness 1
      (12L, Seq(0.0, 1.0, 0.0, 0.0)),  // novel cell → kept
      (13L, Seq(1.0, 0.8, 0.0, 0.0)),  // same (cell, bucket) as 1, cos ≈ .84 < τ → kept
      (14L, Seq(1.0, 0.0, 0.19, 0.0)), // equal cos to 3 and 4 → witness min id 3
      (1L, Seq(1.0, 0.1, 0.0, 0.0))    // re-ingest of 1: self excluded, 3 wins
    )
    def gate(df: org.apache.spark.sql.DataFrame) =
      Ann.semDropAtIngest(df, "doc_id", "emb", index, centroids, planes, tau)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = gate(in.toDF.toDF("doc_id", "emb"))
      .writeStream.format("memory").queryName("semgate").outputMode("append").start()
    in.addData(ingest.take(2)); q.processAllAvailable()
    in.addData(ingest.drop(2)); q.processAllAvailable()
    val streamed = spark.sql("select * from semgate").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = gate(ingest.toDF("doc_id", "emb")).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq, "stream and batch renderings must be bit-equal")
    q.stop()
    val rows = gate(ingest.toDF("doc_id", "emb")).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(5), Option(r.get(3)).map(String.valueOf)))
      .toMap
    assert(rows(11L) == ((true, Some("1"))), s"near-dup must drop against 1: ${rows(11L)}")
    assert(rows(12L)._1 == false, "novel doc must be kept")
    assert(rows(13L)._1 == false, "same-bucket but below tau must be kept")
    assert(rows(14L) == ((true, Some("3"))), s"witness ties break to min id: ${rows(14L)}")
    assert(rows(1L) == ((true, Some("3"))), s"re-ingest excludes itself: ${rows(1L)}")
  }

  test("near-dup drop-at-ingest against a batch-built simhash index: batch parity + keeper policy") {
    // the batch pipeline's near-dup keeper composed at the ingest side
    // (TextDedup.nearDropAtIngest): row-local signature + keeper quality,
    // `bands` stream-static joins against the packed simhash index, the
    // (quality desc, id asc) keeper decision judged in-row — stateless,
    // no watermark. The semantic pin derives the EXPECTED drop set from
    // TextDedup.simhashPairs on the same frame (pigeonhole-exact at
    // maxHamming < bands): a doc drops iff some pair partner beats it.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.{TextDedup, TextStats}
    val bits = 16
    // docs 1/2: identical word multisets reordered → hamming 0, equal
    // quality (same words, same length) → 2 drops on the id tie-break;
    // doc 6 is doc 3 plus trailing punctuation → likely banded near-dup
    // with LOWER quality; docs 4/5 singletons
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red orange yellow green blue indigo violet pink black white"),
      (5L, "north south east west up down left right front back"),
      (6L, "one two three four five six seven eight nine ten !!!")
    ).toDF("doc_id", "text")
    val index = TextDedup.simhashIndexBuckets(corpus, "doc_id", "text", bits)
      .localCheckpoint()
    def gate(df: org.apache.spark.sql.DataFrame) =
      TextDedup.nearDropAtIngest(df, "doc_id", "text", index, bits)
    // expected drops/witnesses from the batch pair list + keeper quality
    val q = corpus.select(col("doc_id"),
        TextStats.quality(col("text")).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pairs = TextDedup.simhashPairs(corpus, "doc_id", "text", bits)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must produce at least one banded pair")
    def beats(a: Long, b: Long) = q(a) > q(b) || (q(a) == q(b) && a < b)
    val expected = corpus.collect().map(_.getLong(0)).map { id =>
      val rivals = pairs.collect {
        case (a, b) if b == id && beats(a, id) => a
        case (a, b) if a == id && beats(b, id) => b
      }
      id -> (if (rivals.isEmpty) None
             else Some(rivals.map(r => (-q(r), r)).min._2))
    }.toMap
    val got = gate(corpus).collect()
      .map(r => r.getLong(0) ->
        (if (r.getBoolean(4)) Some(r.getLong(2)) else None)).toMap
    assert(got == expected,
      s"ingest gate must drop exactly the pair losers: got $got, expected $expected")
    assert(got(2L) == Some(1L), "the reordered twin drops with witness 1")
    assert(got(1L).isEmpty, "the keeper survives re-ingest (self excluded)")
    // stream == batch, bit for bit
    val in = MemoryStream[(Long, String)]
    val sq2 = gate(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neargate").outputMode("append").start()
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    in.addData(rows.take(3).toSeq: _*); sq2.processAllAvailable()
    in.addData(rows.drop(3).toSeq: _*); sq2.processAllAvailable()
    val streamed = spark.sql("select * from neargate").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    val batch = gate(corpus).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(streamed.toSeq == batch.toSeq, "stream and batch renderings must be bit-equal")
    sq2.stop()
  }

  test("incremental index merge: merge == rebuild, bucket-for-bucket and through the gate") {
    // TextDedup.simhashIndexMerge's contract: folding a new batch into
    // an existing index is equivalent to rebuilding over the union —
    // up to member packing order, which the gate's by-value witness
    // selection makes immaterial. Pinned twice: (1) the merged buckets
    // equal the rebuilt buckets once members are canonically sorted;
    // (2) probing every doc through the merged index is bit-equal to
    // probing through the rebuilt one — including the cross-boundary
    // drop (batch doc 2 falls to INDEXED witness 1, the reordered-twin
    // pair the parent test derives from simhashPairs), the case a
    // merge that lost or mis-keyed old members would get wrong.
    import spark.implicits._
    import graft.operators.TextDedup
    val bits = 16
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red orange yellow green blue indigo violet pink black white"),
      (5L, "north south east west up down left right front back"),
      (6L, "one two three four five six seven eight nine ten !!!")
    ).toDF("doc_id", "text")
    val indexed = corpus.filter(col("doc_id") =!= 2 && col("doc_id") <= 4)
    val batch = corpus.filter(col("doc_id") === 2 || col("doc_id") > 4)
    val rebuilt = TextDedup.simhashIndexBuckets(corpus, "doc_id", "text", bits)
    val merged = TextDedup.simhashIndexMerge(
      TextDedup.simhashIndexBuckets(indexed, "doc_id", "text", bits)
        .localCheckpoint(),
      batch, "doc_id", "text", bits)
    // array_sort over struct(id, sig, q) orders members by id — the
    // canonical form that erases packing-order differences
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band"), col("key"), array_sort(col("members")).as("m"))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(canon(merged) == canon(rebuilt),
      "merged index must equal a full rebuild bucket-for-bucket")
    def probe(idx: org.apache.spark.sql.DataFrame) =
      TextDedup.nearDropAtIngest(corpus, "doc_id", "text",
          idx.localCheckpoint(), bits)
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(probe(merged).toSeq == probe(rebuilt).toSeq,
      "gate verdicts through the merged index must be bit-equal to the rebuild's")
    val verdicts = TextDedup.nearDropAtIngest(corpus, "doc_id", "text",
        merged.localCheckpoint(), bits)
      .collect().map(r => r.getLong(0) ->
        (if (r.getBoolean(4)) Some(r.getLong(2)) else None)).toMap
    assert(verdicts(2L) == Some(1L),
      s"batch doc 2 must drop against INDEXED witness 1 — old members " +
        s"must stay visible through the merge: ${verdicts(2L)}")
  }

  test("width mismatch against a packed index THROWS — never silent mis-keying") {
    // The r17 hazard: the packed index was just (band, key, members) —
    // a gate probe or merge configured at a different width than the
    // index was built with mis-keyed every bucket lookup and near-dups
    // sailed through with NO error. The index now carries a
    // build-parameter stamp; every consumer raises on mismatch:
    //  - gate/merge at a different `bits` (the checkpointed case: the
    //    stamp is data, the guard fires at execution)
    //  - gate at a different `wideHash` (same bit count — only the
    //    stamp can tell the signatures apart)
    //  - an unstamped frame (pre-stamp index shape) refuses at plan
    //    construction, naming the missing columns
    // ...and a MATCHING probe through the same checkpointed index stays
    // green, pinned against the drop verdict the parent tests derive.
    import spark.implicits._
    import graft.operators.TextDedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val index = TextDedup.simhashIndexBuckets(corpus, "doc_id", "text", 16)
      .localCheckpoint()
    // matching width: green, and the reordered twin still drops
    val ok = TextDedup.nearDropAtIngest(corpus, "doc_id", "text", index, 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(ok(2L), "matching-width probe must still catch the twin")
    // executor-side raises arrive wrapped (SparkException → ... → the
    // raise_error message); search the whole cause chain
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    // probe at a different bits: raises at execution (stamp is data
    // behind the checkpoint), message names both sides
    val e1 = intercept[Exception] {
      TextDedup.nearDropAtIngest(corpus, "doc_id", "text", index, 24)
        .collect()
    }
    assert(chain(e1).exists(_.contains("width mismatch")),
      s"probe mismatch must name the width conflict: ${chain(e1)}")
    // merge at a different bits: raises the same way
    val e2 = intercept[Exception] {
      TextDedup.simhashIndexMerge(index, corpus, "doc_id", "text", 24)
        .collect()
    }
    assert(chain(e2).exists(_.contains("width mismatch")),
      s"merge mismatch must name the width conflict: ${chain(e2)}")
    // same bits, different hash family: only the stamp can tell
    val e3 = intercept[Exception] {
      TextDedup.nearDropAtIngest(corpus, "doc_id", "text", index, 16,
          wideHash = true)
        .collect()
    }
    assert(chain(e3).exists(_.contains("wideHash")),
      s"wideHash mismatch must be caught too: ${chain(e3)}")
    // an unstamped index (the pre-stamp shape) refuses at plan time
    val unstamped = index.select(col("band"), col("key"), col("members"))
    val e4 = intercept[IllegalArgumentException] {
      TextDedup.nearDropAtIngest(corpus, "doc_id", "text", unstamped, 16)
    }
    assert(e4.getMessage.contains("stamp"),
      s"unstamped index must refuse at construction: ${e4.getMessage}")
  }

  test("refreshSimhashIndex lifecycle: first build, merge, width-step rebuild, replay guard, block accounting") {
    // TextDedup.refreshSimhashIndex owns what the raw build/merge pair
    // delegates: the build-or-merge decision, the re-ingest anti-join,
    // and checkpoint ownership (new index pinned, predecessor + every
    // intermediate released). Pinned here:
    //  - refresh(None) == a direct build (canonical bucket equality)
    //  - refresh(Some) == a full rebuild over the union, through the
    //    same canonical comparison the merge test uses
    //  - replaying ALREADY-INDEXED docs is a no-op (no double-packed
    //    members — the contract simhashIndexMerge leaves to callers)
    //  - a corpus that outgrows the width step REBUILDS (stamped bits
    //    move), and fullCorpus is only evaluated on that path
    //  - executor-block accounting: after each refresh exactly ONE
    //    index frame's blocks remain pinned (predecessor released)
    import spark.implicits._
    import graft.operators.TextDedup
    val sc = spark.sparkContext
    def pinned() = sc.getPersistentRDDs.keySet
    val before = pinned()
    val batch1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (4L, "red orange yellow green blue indigo violet pink black white"),
      (5L, "north south east west up down left right front back")
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("band"), col("key"), array_sort(col("members")).as("m"))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    // first build: sized on the batch (widthFor floor w=8 → 32 bits)
    val idx1 = TextDedup.refreshSimhashIndex(None, batch1,
      "doc_id", "text",
      fullCorpus = sys.error("fullCorpus must not be evaluated on build"))
    assert(canon(idx1) == canon(TextDedup.simhashIndexBuckets(
        batch1, "doc_id", "text", 32)),
      "first build must equal a direct simhashIndexBuckets at the sized width")
    assert((pinned() -- before).size == 1,
      "after the first refresh exactly one index frame may stay pinned")
    // merge refresh: same width step → equals a rebuild over the union;
    // fullCorpus must NOT be evaluated
    val idx2 = TextDedup.refreshSimhashIndex(Some(idx1), batch2,
      "doc_id", "text",
      fullCorpus = sys.error("fullCorpus must not be evaluated on merge"))
    assert(canon(idx2) == canon(TextDedup.simhashIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "text", 32)),
      "merge refresh must equal a full rebuild over the union")
    assert((pinned() -- before).size == 1,
      "the predecessor index must be RELEASED once the refresh is durable")
    // replay guard: re-ingesting indexed history is a no-op
    val idx3 = TextDedup.refreshSimhashIndex(Some(idx2),
      batch1.unionAll(batch2), "doc_id", "text",
      fullCorpus = sys.error("fullCorpus must not be evaluated on replay"))
    assert(canon(idx3) == canon(TextDedup.simhashIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "text", 32)),
      "replaying already-indexed docs must not double-pack members")
    assert((pinned() -- before).size == 1,
      "replay refresh still holds exactly one pinned index")
    // convention change (wideHash here; a simhashWidthFor step works the
    // same way — both flow through the stamped-parameters comparison):
    // the index REBUILDS from fullCorpus, the only path that evaluates it
    val idx4 = TextDedup.refreshSimhashIndex(Some(idx3), batch2,
      "doc_id", "text",
      fullCorpus = batch1.unionAll(batch2), wideHash = true,
      dropKnownIds = false)
    val stamped = idx4
      .select(col("built_bits"), col("built_bands"), col("built_wide"))
      .head()
    assert((stamped.getInt(0), stamped.getInt(1), stamped.getBoolean(2))
        == ((32, 4, true)),
      s"a changed hash convention must REBUILD at the new stamp: $stamped")
    assert(canon(idx4) == canon(TextDedup.simhashIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "text", 32, wideHash = true)),
      "the rebuild must cover the full corpus at the new convention")
    assert((pinned() -- before).size == 1,
      "the rebuild path releases the predecessor too")
  }

  test("semantic index parameter mismatch THROWS — never silent mis-keying") {
    // the simhash width stamp's embedding-track twin: cell ids are
    // meaningless under different centroids and bucket ids under
    // different planes, so before the fingerprint stamp a mismatched
    // probe silently mis-keyed every (cell, bucket) lookup and semantic
    // near-dups sailed through. Pinned here: a matching probe still
    // drops the twin; mismatched planes, mismatched centroids and a
    // mismatched merge all RAISE naming the fingerprint conflict; an
    // unstamped index refuses at plan construction.
    import spark.implicits._
    import graft.operators.Ann
    val centroids = Seq(0L -> Seq(1.0, 0, 0, 0), 1L -> Seq(0.0, 1, 0, 0))
    val planes = Seq(Seq(1, 1, 1, 1), Seq(1, -1, 1, -1))
    val vecs = Seq(
      (1L, Seq(1.0, 0.10, 0.0, 0.0)),
      (2L, Seq(1.0, 0.11, 0.0, 0.0)), // near-dup twin of 1
      (3L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("doc_id", "emb")
    val index = Ann.semIndexBuckets(vecs, "doc_id", "emb", centroids, planes)
      .localCheckpoint() // stamp must survive as DATA, not plan literals
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    val ok = Ann.semDropAtIngest(vecs, "doc_id", "emb", index,
        centroids, planes, 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(ok(2L), "matching-parameter probe must still catch the twin")
    val e1 = intercept[Exception] {
      Ann.semDropAtIngest(vecs, "doc_id", "emb", index,
        centroids, Seq(Seq(1, 1, 1, 1)), 0.95).collect()
    }
    assert(chain(e1).exists(_.contains("parameter mismatch")),
      s"plane mismatch must name the conflict: ${chain(e1)}")
    val e2 = intercept[Exception] {
      Ann.semDropAtIngest(vecs, "doc_id", "emb", index,
        Seq(0L -> Seq(1.0, 0, 0, 0)), planes, 0.95).collect()
    }
    assert(chain(e2).exists(_.contains("parameter mismatch")),
      s"centroid mismatch must name the conflict: ${chain(e2)}")
    val e3 = intercept[Exception] {
      Ann.semIndexMerge(index, vecs, "doc_id", "emb",
        centroids, Seq(Seq(1, 1, 1, 1))).collect()
    }
    assert(chain(e3).exists(_.contains("parameter mismatch")),
      s"merge mismatch must name the conflict: ${chain(e3)}")
    val unstamped = index.select(col("cell"), col("bucket"), col("members"))
    val e4 = intercept[IllegalArgumentException] {
      Ann.semDropAtIngest(vecs, "doc_id", "emb", unstamped,
        centroids, planes, 0.95)
    }
    assert(e4.getMessage.contains("stamp"),
      s"unstamped index must refuse at construction: ${e4.getMessage}")
  }

  test("refreshSemIndex lifecycle: first build, merge, plane-step rebuild, replay guard, block accounting") {
    // Ann.refreshSemIndex owns what the raw build/merge pair delegates
    // (the refreshSimhashIndex contract on the embedding track): the
    // build-or-merge decision (planes sized by planesFor on the
    // post-refresh count, centroids the caller's learned model), the
    // re-ingest anti-join, and checkpoint ownership. Pinned here:
    //  - refresh(None) == a direct build at the sized plane count
    //  - refresh(Some) == a full rebuild over the union (canonical
    //    bucket equality), fullCorpus NOT evaluated
    //  - replaying ALREADY-INDEXED vectors is a no-op
    //  - a parameter change (plane-count step via targetBucketSize
    //    here; new centroids flow through the same fingerprint
    //    comparison) REBUILDS from fullCorpus — the only path that
    //    evaluates it — at the new stamp
    //  - executor-block accounting: after each refresh exactly ONE
    //    index frame's blocks remain pinned
    import spark.implicits._
    import graft.operators.Ann
    val sc = spark.sparkContext
    def pinned() = sc.getPersistentRDDs.keySet
    val before = pinned()
    val centroids = Seq(0L -> Seq(1.0, 0, 0, 0), 1L -> Seq(0.0, 1, 0, 0))
    val batch1 = Seq(
      (1L, Seq(1.0, 0.10, 0.0, 0.0)),
      (2L, Seq(1.0, 0.11, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("doc_id", "emb")
    val batch2 = Seq(
      (4L, Seq(0.0, 1.0, 0.2, 0.0)),
      (5L, Seq(1.0, 0.0, 0.0, 0.3))
    ).toDF("doc_id", "emb")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cell"), col("bucket"), array_sort(col("members")).as("m"))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    // planesFor(3, 64) = planesFor(5, 64) = 1: no step across these
    // refreshes at the default target
    val p1 = Ann.hyperplanes(1, 4)
    val idx1 = Ann.refreshSemIndex(None, batch1, "doc_id", "emb",
      fullCorpus = sys.error("fullCorpus must not be evaluated on build"),
      centroids = centroids)
    assert(canon(idx1) == canon(Ann.semIndexBuckets(
        batch1, "doc_id", "emb", centroids, p1)),
      "first build must equal a direct semIndexBuckets at the sized planes")
    assert((pinned() -- before).size == 1,
      "after the first refresh exactly one index frame may stay pinned")
    val idx2 = Ann.refreshSemIndex(Some(idx1), batch2, "doc_id", "emb",
      fullCorpus = sys.error("fullCorpus must not be evaluated on merge"),
      centroids = centroids)
    assert(canon(idx2) == canon(Ann.semIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "emb", centroids, p1)),
      "merge refresh must equal a full rebuild over the union")
    assert((pinned() -- before).size == 1,
      "the predecessor index must be RELEASED once the refresh is durable")
    val idx3 = Ann.refreshSemIndex(Some(idx2),
      batch1.unionAll(batch2), "doc_id", "emb",
      fullCorpus = sys.error("fullCorpus must not be evaluated on replay"),
      centroids = centroids)
    assert(canon(idx3) == canon(Ann.semIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "emb", centroids, p1)),
      "replaying already-indexed vectors must not double-pack members")
    assert((pinned() -- before).size == 1,
      "replay refresh still holds exactly one pinned index")
    // plane-count step: targetBucketSize 1 sizes planesFor(5, 1) = 3
    // against the stamp's 1 — the fingerprint moves, so the index
    // REBUILDS from fullCorpus at the new plane count
    val idx4 = Ann.refreshSemIndex(Some(idx3), batch2, "doc_id", "emb",
      fullCorpus = batch1.unionAll(batch2),
      centroids = centroids, targetBucketSize = 1, dropKnownIds = false)
    val stamp = idx4.select(col("built_planes"), col("built_cells")).head()
    assert((stamp.getInt(0), stamp.getInt(1)) == ((3, 2)),
      s"a plane-count step must REBUILD at the new stamp: $stamp")
    assert(canon(idx4) == canon(Ann.semIndexBuckets(
        batch1.unionAll(batch2), "doc_id", "emb", centroids,
        Ann.hyperplanes(3, 4))),
      "the rebuild must cover the full corpus at the new plane count")
    assert((pinned() -- before).size == 1,
      "the rebuild path releases the predecessor too")
  }
}
